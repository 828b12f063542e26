"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from mdb_to_postgres_spark.sources.tables import TABLES  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.Sizes(orders=300, documents=80, embeddings=40)


def _digests(d: str) -> dict[str, str]:
    return {
        t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
        for t in TABLES
    }


def test_same_seed_gives_identical_files_and_other_seed_differs(tmp_path):
    a = _digests(gen.generate(5, SMALL, str(tmp_path / "a")))
    b = _digests(gen.generate(5, SMALL, str(tmp_path / "b")))
    c = _digests(gen.generate(6, SMALL, str(tmp_path / "c")))
    assert a == b
    # region and nation are fixed; every seeded table must change.
    assert {t for t in TABLES if a[t] != c[t]} == set(TABLES) - {"region", "nation"}


def test_variant_keeps_counts_tokens_and_dot_products(tmp_path):
    base = gen.generate(3, SMALL, str(tmp_path / "base"))
    var = gen.write_variant(base, str(tmp_path / "v7"), 3, 7)
    for t in TABLES:
        assert pq.read_metadata(f"{base}/{t}.parquet").num_rows == pq.read_metadata(f"{var}/{t}.parquet").num_rows
    d0 = pq.read_table(f"{base}/documents.parquet").to_pydict()
    d1 = pq.read_table(f"{var}/documents.parquet").to_pydict()
    assert d0["doc_id"] == d1["doc_id"]
    assert [len(t.split(" ")) for t in d0["text"]] == [len(t.split(" ")) for t in d1["text"]]
    assert d0["text"] != d1["text"]
    assert d1["n_chars"] == [len(t) for t in d1["text"]]
    e0 = np.stack(pq.read_table(f"{base}/embeddings.parquet").column("embedding").to_numpy(zero_copy_only=False))
    e1 = np.stack(pq.read_table(f"{var}/embeddings.parquet").column("embedding").to_numpy(zero_copy_only=False))
    assert not np.array_equal(e0, e1)
    assert np.array_equal(e0 @ e0.T, e1 @ e1.T)
    assert np.array_equal(e0[:, :16] @ e0[:, :16].T, e1[:, :16] @ e1[:, :16].T)


def test_suffix_is_a_bijection_that_keeps_lexicon_words():
    text = "the fast join of spark data a filter"
    assert gen.suffix_text(text, 4) == "the fast join of4 spark4 data4 a filter"


def _passes(n_measured: int, ops_per_pass: int) -> list[dict]:
    def p(i):
        return {"index": i, "traced": False, "wall_s": 1.0 + i,
                "ops": [{"op": f"o{k}", "module": "m", "wall_s": 0.1 * (k + 1), "error": "", "layers": {}} for k in range(ops_per_pass)]}
    return [p(i) for i in range(run.FIRST_MEASURED + n_measured)]


def test_p90_needs_100_samples():
    _, extra = run.e2e_metrics([1.0], _passes(9, 11), 100.0)
    assert extra["op_samples"] == 99 and "op_p90_s" not in extra
    _, extra = run.e2e_metrics([1.0], _passes(10, 10), 100.0)
    assert extra["op_samples"] == 100 and "op_p90_s" in extra


def test_setup_is_the_median_and_warm_up_passes_are_not_samples():
    e2e, extra = run.e2e_metrics([9.0, 7.0, 8.0], _passes(3, 2), 100.0)
    assert e2e["setup_s"] == 8.0
    assert run.e2e_metrics([9.0, 7.0], _passes(3, 2), 100.0)[0]["setup_s"] == 8.0
    assert e2e["cold_pass_s"] == 1.0
    assert e2e["warm_pass_s"] == 1.0 + run.FIRST_MEASURED + 1
    assert extra["warm_passes"] == 3 and extra["op_samples"] == 6


def test_measured_passes_are_a_fixed_count():
    assert run.measured_passes(14, 2.3) == 6
    assert run.measured_passes(14, 3.4) == 4
    assert run.measured_passes(1, 3.5) == run.MIN_MEASURED


class _FakeFrame:
    """Stands in for a DataFrame: what ``Workload.run_op`` reads of one."""

    def toPandas(self):
        return pd.DataFrame({"x": [1]})


def _traced_pass(wl, data_dir: str, index: int, modules: dict[str, str], monkeypatch) -> dict:
    """One traced pass over the workload's real op list, with Spark and
    Postgres replaced by fakes: the layer names come from the workload's
    own ``run_op``/``ddl_timer``/``pass_stats`` and the probe's key lists,
    the module names from the registry."""
    from mdb_to_postgres_spark.etl import pipeline, postgres_copy
    from mdb_to_postgres_spark.sources import tables

    monkeypatch.setattr(tables, "T", lambda spark, d, name: _FakeFrame())
    monkeypatch.setattr(pipeline, "project_rename", lambda df: df)
    monkeypatch.setattr(postgres_copy, "run_psql", lambda *a, **k: "1000")
    monkeypatch.setattr(postgres_copy, "copy_into_postgres", lambda df, name: postgres_copy.run_psql("DDL"))
    monkeypatch.setattr(wl, "queries", {op: (lambda spark, d: _FakeFrame()) for op in wl.ops})
    current = [workloads.Spans(True)]
    ops = []
    with wl.ddl_timer(lambda: current[0]):
        for op in wl.ops:
            spans = current[0] = workloads.Spans(True)
            wl.run_op(None, op, data_dir, spans, None)
            spans.values.update(dict.fromkeys(probe.OP_KEYS, 1.0))
            spans.add("exec.action_s", 1.0)
            ops.append({"op": op, "module": modules[op], "wall_s": 1.0, "error": "", "layers": spans.values})
    stats = {**dict.fromkeys(probe.MEMORY_KEYS, 1.0), **wl.pass_stats(data_dir)}
    return {"index": index, "traced": True, "wall_s": 1.0, "ops": ops, "dir": data_dir, "stats": stats}


@pytest.mark.parametrize("name", sorted(run.WORKLOAD_NAMES))
def test_printed_metric_names_are_produced_not_filled(name, tmp_path, monkeypatch):
    spec = run.read_benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_NAMES)
    wl = workloads.WORKLOADS[run.WORKLOAD_NAMES[name]](1, str(tmp_path))
    gen.generate(1, SMALL, wl.base_dir)
    modules = {op: wl.module(op) for op in wl.ops}
    passes = [_traced_pass(wl, wl.base_dir, i, modules, monkeypatch) for i in range(run.FIRST_MEASURED + 3)]
    for p in passes[run.FIRST_MEASURED:]:
        p["traced"] = p["index"] % 2 == 1
    snap = {"host.steal_total_s": 1.0, "host.loadavg_1m": 1.0, "host.mem_available_mb": 1.0}
    layers = run.layer_metrics(passes, 4, run.harness_metrics([1.0], 1.0, snap, snap))
    applicable = workloads.COMMON_LAYERS | wl.layers
    printed, missing = run.result_metrics(True, {}, layers, applicable)
    assert missing == []
    assert {k: v["unit"] for k, v in printed.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert applicable <= set(printed)
    # A per-layer metric that no workload produces would always read 0.
    every = set().union(*(workloads.COMMON_LAYERS | w.layers for w in workloads.WORKLOADS.values()))
    assert set(printed) <= every
    e2e, _ = run.e2e_metrics([1.0], passes, 100.0)
    printed, _ = run.result_metrics(False, e2e, {}, applicable)
    assert {k: v["unit"] for k, v in printed.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}


def test_a_layer_that_is_not_produced_is_reported():
    _, missing = run.result_metrics(True, {}, {"exec.jobs": 3.0}, frozenset({"exec.jobs", "extensions.dedup.op_s"}))
    assert missing == ["extensions.dedup.op_s"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(run.BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate_pg_sf0.01", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
    assert "engine package is missing" in out.stderr
