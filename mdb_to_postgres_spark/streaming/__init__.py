"""Streaming tier (SURVEY.md §2.8).

An operator that runs under ``readStream`` has one transformation body, in
``runtime``, used in two forms:
- a batch form over the static events table (oracle-checkable, registered
  in ``batch_forms``), and
- a Structured Streaming form driven by ``readStream`` with
  watermarks/checkpoints, exercised by tests with ``availableNow`` triggers.
The four operators whose streaming output differs from the batch form's
keep a body each; ``runtime``'s docstring lists them.
"""
