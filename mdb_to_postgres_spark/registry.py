"""Query/oracle registry — the single source of truth behind __spark_entry__.

Every operator from SURVEY.md §2 registers here via the @query decorator:

    @query("agg_groupby", oracle="SELECT ... FROM lineitem GROUP BY ...")
    def agg_groupby(spark, sf_dir):
        return T(spark, sf_dir, "lineitem").groupBy(...).agg(...)

- ``fn(spark, sf_dir) -> DataFrame`` is the Spark-side implementation.
- ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the same parquet
  tables (views: region nation customer supplier part orders lineitem
  events documents embeddings). ``oracle=None`` declares a rows-only check
  (non-SQL-expressible op: approx/randomized/stateful).

Column names must match between the two sides — the driver sorts columns by
name before hashing — so every computed column is aliased identically in
both (see functions/compat.py for the determinism helpers).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL).

    Every registered callable is wrapped to tune the caller's session first
    (memoized per application): the verification driver runs queries on its
    OWN plain SparkSession, where Spark's defaults (ANSI on, 200 shuffle
    partitions, no AQE guarantees) would break permissive-cast semantics
    and add seconds of task-scheduling overhead per query at sf0.01.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from .session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


_LOADED = False

# The verification driver checks EXACTLY the first 50 entries of queries()
# each round (rounds 1 and 2 both cut at entry 50), so registration order
# is rotated every round. The rotation is SELF-COMPUTING from the driver's
# own CORRECTNESS_r*.json history in the repo root:
#   rank 0 — the latest driver row is a visible failure: a crashed row
#            (err traceback) regardless of oracle-backedness, or a row
#            without a green hash on a query that is oracle-backed now
#            (hash mismatch, or an oracle added since the rows-only row);
#   rank 1 — no driver row at all (never checked);
#   rank 2 — hash-green historically, but the implementation or oracle has
#            CHANGED since the round that went green (source fingerprint
#            mismatch vs tools/fingerprints.json): must be re-verified, a
#            stale green row does not cover new code;
#   rank 3 — recorded rows-only and still without an oracle (a re-check
#            cannot improve the record);
#   rank 4 — hash-green and unchanged; greens without a fingerprint stamp
#            lead it (see _order_key).
# Within a rank, module registration order is kept. Each round the driver's
# new file feeds back in, so the front-50 converges toward full coverage
# with no per-round edits. tools/record_fingerprints.py refreshes the
# fingerprint sidecar; it is re-run at the end of every round so the sidecar
# always describes the source tree the NEXT driver run will check.


def _fingerprint(fn: QueryFn, oracle: Optional[str]) -> str:
    """md5 over the query function's source + its oracle SQL. Whitespace-
    normalized per line so pure reformatting doesn't churn the sidecar."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(inspect.unwrap(fn))
    except (OSError, TypeError):  # source unavailable (REPL): name-only
        src = getattr(fn, "__qualname__", repr(fn))
    norm = "\n".join(line.strip() for line in src.splitlines() if line.strip())
    return hashlib.md5((norm + "\n---\n" + (oracle or "")).encode()).hexdigest()


def current_fingerprints() -> dict[str, str]:
    load_all()
    return {n: _fingerprint(fn, ORACLES.get(n)) for n, fn in QUERIES.items()}


_RECORDED_FP: Optional[dict[str, str]] = None


def _recorded_fingerprints() -> dict[str, str]:
    """name -> fingerprint at the time of the query's last hash-green driver
    row (the "green" map maintained by tools/record_fingerprints.py)."""
    global _RECORDED_FP
    if _RECORDED_FP is None:
        import json
        import os

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(root, "tools", "fingerprints.json")
        try:
            with open(path) as f:
                data = json.load(f)
            green = data.get("green", data)  # legacy flat format fallback
            _RECORDED_FP = {k: v for k, v in green.items() if isinstance(v, str)}
        except (OSError, ValueError, AttributeError):
            _RECORDED_FP = {}
    return _RECORDED_FP


def _check_rank(name: str, oracle_backed: bool, fp: Optional[str] = None) -> int:
    history = _correctness_history()
    if name not in history:
        return 1
    status = history[name]
    if status == "crashed":
        # The latest driver row is a traceback — a visible failure
        # regardless of oracle-backedness (round-4 x_multimodal_decode_stub
        # crashed the canonicalizer and, under the old rules, would have
        # waited ~2 rounds behind the never-checked backlog for its fix to
        # be re-verified). Re-check first.
        return 0
    if status == "green":
        recorded = _recorded_fingerprints().get(name)
        # No sidecar entry yet = assume unchanged (the sidecar is seeded
        # lazily); a PRESENT-but-different entry means the code or oracle
        # moved after the green row and the green is stale evidence.
        if recorded is not None and fp is not None and recorded != fp:
            return 2
        return 4
    # status == "clean": ran without a green hash (rows-only record, or an
    # oracle-backed hash mismatch — the latter is a visible failure).
    return 0 if oracle_backed else 3


_HISTORY: Optional[dict[str, str]] = None


def _correctness_history() -> dict[str, str]:
    """name -> status of the LATEST driver row: 'green' (hash_match=True),
    'crashed' (err is a traceback), or 'clean' (ran without a green hash —
    rows-only record or hash mismatch). Absent = never checked. Latest-row
    semantics matter: a query green in round N but crashing in round N+1
    must surface as crashed, and vice versa a fixed crash goes green."""
    global _HISTORY
    if _HISTORY is None:
        import glob
        import os

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        _HISTORY = _parse_history(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    return _HISTORY


def _parse_history(paths: list[str]) -> dict[str, str]:
    """Parse driver CORRECTNESS files (sorted, later rounds overwrite) into
    the latest-row status map. Split from _correctness_history so tests can
    feed fixed files instead of asserting on the mutable repo-root glob."""
    import json
    import os

    hist: dict[str, str] = {}
    _LATEST_ROUND.clear()
    for path in sorted(paths):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            if v.get("hash_match") is True:
                status = "green"
            elif v.get("err") in (None, "no_oracle"):
                status = "clean"
            else:
                status = "crashed"
            hist[k] = status  # later rounds overwrite (sorted input)
            _LATEST_ROUND[k] = os.path.basename(path)
    return hist


# name -> basename of the CORRECTNESS file holding its latest driver row
# (filenames sort by round). Side product of _parse_history; consumed by
# load_all's rank-4 ordering so the OLDEST stamps rotate into the window.
_LATEST_ROUND: dict[str, str] = {}


def _order_key(name: str, fn: QueryFn) -> tuple:
    """Sort key of a query in the correctness-check order: its _check_rank,
    then, within the hash-green-and-unchanged rank 4, greens WITHOUT a
    fingerprint stamp first — the sidecar cannot vouch for them (a stamp
    dropped by hand because a helper the fingerprint does not hash
    changed, or one never seeded) — then the oldest CORRECTNESS row first, so
    the window's spare slots refresh the stalest evidence instead of
    re-stamping last round's set. _LATEST_ROUND basenames sort by round;
    absent entries (shouldn't happen post-convergence) lead."""
    rank = _check_rank(name, name in ORACLES, _fingerprint(fn, ORACLES.get(name)))
    if rank != 4:
        return (rank, False, "")
    return (rank, name in _recorded_fingerprints(), _LATEST_ROUND.get(name, ""))


def load_all() -> None:
    """Import every module that registers queries (idempotent), then order
    the registry so the driver's 50-entry correctness window lands on the
    queries that need a (better) row."""
    global _LOADED
    if _LOADED:
        return
    from .functions import scalar_families  # noqa: F401
    from .streaming import batch_forms  # noqa: F401
    from .operators import skew, physical  # noqa: F401  (physical -> scans)
    from .extensions import text_analysis, pipeline  # noqa: F401  (pipeline -> dedup)
    from .sources import jdbc_queries, python_source  # noqa: F401
    from .operators import sql_forms  # noqa: F401
    from .operators import aggregates, sort_setops  # noqa: F401
    from .extensions import udf_surface, multimodal, similarity  # noqa: F401
    from .operators import projection, joins, windows  # noqa: F401
    from .extensions import graph  # noqa: F401  (reuses dedup's jaccard substrate)
    from .extensions import evaluation  # noqa: F401

    _correctness_history()  # populate _LATEST_ROUND before ordering
    ordered = sorted(QUERIES.items(), key=lambda kv: _order_key(*kv))
    # sorted() is stable: registration order survives within one key
    QUERIES.clear()
    QUERIES.update(ordered)
    _LOADED = True


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
