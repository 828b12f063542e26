"""bench.py's single-JSON-line stdout contract is what the per-round
driver parses; rounds 1-6 recorded "parsed": null because the full
per-query map outgrew the driver's line capture, so the emit path is
guarded here without spinning up Spark: bounded line, contract keys,
top-K + tier subtotals inline, full map in the sidecar."""

from __future__ import annotations

import json
import os

import bench


def test_payload_parses_and_has_contract_keys():
    timings = {"q1": 0.394849, "q2": 1.0, "x_dedup_minhash_lsh": 3.91}
    line = bench.build_payload(timings, "0.1")
    parsed = json.loads(line)
    assert parsed["metric"] == "steady_state_query_wall_time"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["value"] == round(sum(timings.values()), 2)
    assert parsed["n_queries"] == len(timings)
    # under the cap every query is inlined
    assert set(parsed["queries"]) == set(timings)
    # absolute so a driver parsing the line from any CWD can resolve it
    assert os.path.isabs(parsed["full"])
    assert parsed["full"].endswith("bench_full.json")
    assert "\n" not in line  # ONE line
    assert " " not in line  # compact separators: truncation headroom


def test_payload_stays_bounded_at_registry_scale():
    # 400 registered queries (beyond today's 316): the line must NOT grow
    # with the registry — that is exactly the failure that kept BENCH_r01-r06
    # unparsed. Cap: top-K heaviest inline + one subtotal per tier.
    timings = {f"x_dedup_q{i:03d}": 0.1 + i / 1000 for i in range(200)}
    timings.update({f"agg_q{i:03d}": 0.2 + i / 1000 for i in range(200)})
    line = bench.build_payload(timings, "0.1")
    parsed = json.loads(line)
    assert len(line) < 2048, len(line)
    assert len(parsed["queries"]) == bench._TOP_K
    # the inlined entries are the heaviest ones
    floor = min(parsed["queries"].values())
    dropped_max = max(v for n, v in timings.items() if n not in parsed["queries"])
    assert floor >= round(dropped_max, 2) - 0.01
    assert parsed["n_queries"] == 400
    assert set(parsed["tiers"]) == {"x_dedup", "agg"}
    assert abs(parsed["tiers"]["agg"] - sum(v for n, v in timings.items() if n.startswith("agg"))) < 0.1


def test_tier_grouping():
    assert bench._tier("agg_histogram_bins") == "agg"
    assert bench._tier("x_dedup_minhash_lsh") == "x_dedup"
    assert bench._tier("stream_cdc_upsert") == "stream"
    assert bench._tier("win_lag_lead") == "win"


def test_payload_carries_window_health_spread():
    timings = {"q1": 1.0}
    line = bench.build_payload(timings, "0.1", [100.0, 140.0, 102.5])
    parsed = json.loads(line)
    assert parsed["warm_totals"] == [100.0, 140.0, 102.5]
    assert parsed["spread_pct"] == 40.0  # (140-100)/100 — a drifted window
    assert "\n" not in line and " " not in line
    # without totals the keys are absent (back-compat with r1-r9 records)
    parsed = json.loads(bench.build_payload(timings, "0.1"))
    assert "warm_totals" not in parsed and "spread_pct" not in parsed


def test_payload_handles_odd_sf_dir_names():
    parsed = json.loads(bench.build_payload({}, "custom-dir"))
    assert parsed["sf"] == "custom-dir"
    assert parsed["value"] == 0


def test_scale_curve_record_has_no_super_linear_query():
    """The committed three-point scale record (tools/scale_curve.py,
    round 10) must keep an empty super_linear list — if a rerun ever
    flags one, the regression is in the record where the next session
    will trip over it, not only in a transcript."""
    path = os.path.join(
        os.path.dirname(bench.__file__), "bench_history", "bench_scale_curve.json"
    )
    if not os.path.exists(path):
        import pytest

        pytest.skip("no scale-curve record on this tree")
    with open(path) as f:
        rec = json.load(f)
    assert rec["summary"]["super_linear"] == []
    # three points, monotone totals (more data never takes less time)
    t = rec["summary"]["totals"]
    assert list(t) == ["sf0.1", "sf1", "sf10"]
    assert t["sf0.1"] < t["sf1"] < t["sf10"]


def test_payload_reports_jvm_archive_state():
    parsed = json.loads(bench.build_payload({"q1": 1.0}, "0.1", jvm_archive="built"))
    assert parsed["jvm_archive"] == "built"
    assert "jvm_archive" not in json.loads(bench.build_payload({"q1": 1.0}, "0.1"))
