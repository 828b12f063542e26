"""The self-rotating registry IS the path to full driver coverage — its
ordering and fingerprint-demotion rules are load-bearing, so they are
tested, not assumed."""

from __future__ import annotations

import json
import os

from mdb_to_postgres_spark import registry

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _history_names() -> set[str]:
    names: set[str] = set()
    import glob

    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            names |= set(json.load(f))
    return names


def test_window_packs_by_need_in_any_rotation_state():
    # The 50-entry driver window must always land on the queries that need
    # a (better) row, in BOTH rotation states:
    #  - pre-convergence: visible failures (rank 0) lead, never-checked
    #    (rank 1) follow, and no unchanged green occupies a slot a needy
    #    query needs;
    #  - post-convergence (round 7+: every query has a driver row, the
    #    never-checked pool is permanently empty): the window self-packs
    #    with failures + changed-fingerprint greens (rank 2), and the
    #    unchanged greens (rank 4) fill the rest in registration order.
    order = list(registry.QUERIES)
    ranks = {
        n: registry._check_rank(
            n, n in registry.ORACLES,
            registry._fingerprint(registry.QUERIES[n], registry.ORACLES.get(n)),
        )
        for n in order
    }
    # The realized registry order is non-decreasing in rank — a lower-rank
    # (needier) query can never trail a higher-rank one.
    seq = [ranks[n] for n in order]
    assert seq == sorted(seq), [
        (n, ranks[n]) for i, n in enumerate(order) if seq[i] != sorted(seq)[i]
    ][:10]
    # Everything that needs re-verification (failed / never-checked /
    # changed since green) fits ahead of anything that doesn't.
    needy = [n for n in order if ranks[n] <= 2]
    if len(needy) <= 50:
        worst = max((order.index(n) for n in needy), default=-1)
        assert worst < 50, (worst, sorted(needy))
    else:
        assert all(ranks[n] <= 2 for n in order[:50]), [
            n for n in order[:50] if ranks[n] > 2
        ]
    # Post-convergence invariant for the current repo state: the cumulative
    # driver record covers every registered query.
    checked = _history_names()
    unchecked = [n for n in order if n not in checked]
    if not unchecked:
        assert all(ranks[n] != 1 for n in order)


def test_rank_scale():
    checked = _history_names()
    hist = registry._correctness_history()
    greens = [n for n, st in hist.items() if st == "green" and n in registry.QUERIES]
    assert greens, "no greens in history?"
    # Unchanged green -> back of the queue (rank 4).
    g = greens[0]
    fp = registry._fingerprint(registry.QUERIES[g], registry.ORACLES.get(g))
    assert registry._check_rank(g, g in registry.ORACLES, fp) in (2, 4)
    # Never-checked -> rank 1.
    unchecked = [n for n in registry.QUERIES if n not in checked]
    if unchecked:
        n = unchecked[0]
        assert registry._check_rank(n, n in registry.ORACLES, "x") == 1


def test_crashed_row_ranks_zero(monkeypatch):
    # A driver row whose err is a traceback (not 'no_oracle') is a visible
    # failure and must re-verify in the NEXT window even without an oracle
    # — under the old rules x_multimodal_decode_stub's round-4 crash would
    # have ranked 3 and waited ~2 rounds behind the never-checked backlog.
    monkeypatch.setattr(
        registry, "_HISTORY",
        {"q_crash": "crashed", "q_clean": "clean", "q_green": "green"},
    )
    assert registry._check_rank("q_crash", False, "x") == 0
    assert registry._check_rank("q_crash", True, "x") == 0
    # rows-only clean record without an oracle stays rank 3; with one, 0
    assert registry._check_rank("q_clean", False, "x") == 3
    assert registry._check_rank("q_clean", True, "x") == 0
    monkeypatch.setattr(registry, "_RECORDED_FP", {})
    assert registry._check_rank("q_green", True, "x") == 4


def test_history_latest_row_wins():
    # Latest-row semantics over FIXED inputs (not the mutable repo-root
    # glob, which grows a new file every round): the round-4 file records
    # x_multimodal_decode_stub's canonicalizer traceback; the round-5 file
    # records its fixed, hash-green row. Parsed alone, round 4 must surface
    # it as crashed; parsed together, the round-5 row must win.
    r4 = os.path.join(REPO, "CORRECTNESS_r04.json")
    r5 = os.path.join(REPO, "CORRECTNESS_r05.json")
    hist4 = registry._parse_history([r4])
    assert hist4.get("x_multimodal_decode_stub") == "crashed"
    assert hist4.get("x_multimodal_ingest") == "green"
    assert hist4.get("x_sim_ann_lsh") == "clean"  # err == 'no_oracle'
    both = registry._parse_history([r4, r5])
    assert both.get("x_multimodal_decode_stub") == "green"
    # and order of the input list must not matter (sorted internally)
    assert registry._parse_history([r5, r4]) == both


def test_fingerprint_mismatch_demotes_green(monkeypatch):
    hist = registry._correctness_history()
    greens = [n for n, st in hist.items() if st == "green" and n in registry.QUERIES]
    g = greens[0]
    real_fp = registry._fingerprint(registry.QUERIES[g], registry.ORACLES.get(g))
    monkeypatch.setattr(registry, "_RECORDED_FP", {g: real_fp})
    assert registry._check_rank(g, True, real_fp) == 4
    monkeypatch.setattr(registry, "_RECORDED_FP", {g: "different"})
    assert registry._check_rank(g, True, real_fp) == 2
    # Absent sidecar entry = assume unchanged (lazy seeding must not dump
    # a hundred greens in front of the never-checked queue).
    monkeypatch.setattr(registry, "_RECORDED_FP", {})
    assert registry._check_rank(g, True, real_fp) == 4


def test_unstamped_green_leads_rank_four(monkeypatch):
    # A green whose stamp was dropped by hand (a helper the fingerprint
    # does not hash was rewritten) still ranks 4, but it must lead every
    # stamped green — oldest CORRECTNESS row first within each group — or the
    # hand drop hides it behind ~200 stamped greens instead of putting it
    # in the next window's spare slots.
    a, b, c, d = list(registry.QUERIES)[:4]

    def fp(n):
        return registry._fingerprint(registry.QUERIES[n], registry.ORACLES.get(n))

    monkeypatch.setattr(registry, "_HISTORY", {n: "green" for n in (a, b, c, d)})
    monkeypatch.setattr(registry, "_RECORDED_FP", {b: fp(b), c: fp(c)})
    monkeypatch.setattr(
        registry,
        "_LATEST_ROUND",
        {
            a: "CORRECTNESS_r13.json",
            b: "CORRECTNESS_r05.json",
            c: "CORRECTNESS_r09.json",
            d: "CORRECTNESS_r11.json",
        },
    )
    keys = {n: registry._order_key(n, registry.QUERIES[n]) for n in (a, b, c, d)}
    assert {k[0] for k in keys.values()} == {4}
    assert sorted((a, b, c, d), key=keys.get) == [d, a, b, c]


def test_fingerprint_stable_under_reformat():
    g = next(iter(registry.QUERIES))
    fn = registry.QUERIES[g]
    fp1 = registry._fingerprint(fn, "SELECT 1")
    fp2 = registry._fingerprint(fn, "SELECT 1")
    assert fp1 == fp2
    assert registry._fingerprint(fn, "SELECT 2") != fp1


def test_sidecar_pending_matches_current_tree():
    # The "pending" snapshot must describe the current source tree — it is
    # the fingerprint set the next driver round's green rows will vouch
    # for, so an out-of-date snapshot breaks the green-time promotion.
    # Regenerate with tools/record_fingerprints.py after editing any
    # registered query (the last step of every round).
    path = os.path.join(REPO, "tools", "fingerprints.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        state = json.load(f)
    pending = state.get("pending", state)
    current = registry.current_fingerprints()
    stale = sorted(n for n in current if pending.get(n) != current[n])
    assert not stale, f"stale pending snapshot (rerun tools/record_fingerprints.py): {stale}"


def test_every_query_has_a_docstring():
    # The docstring is where each operator states its shape and its
    # determinism argument. A string followed by .format()/.replace() is
    # an expression statement, not a docstring, so it must be a literal.
    import inspect

    missing = [n for n, fn in registry.QUERIES.items() if not inspect.getdoc(inspect.unwrap(fn))]
    assert not missing, missing
