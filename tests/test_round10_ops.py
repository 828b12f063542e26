"""Round-10 depth items: the shared dedup pair-stats substrate, the
char-LM model-size guard, the global-order memo LRU bound, the staged-
stream staleness markers, and the ONE parametrized eviction audit over
the package-wide session-cache registry."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from conftest import ORACLE_SF, SMOKE_SF

from mdb_to_postgres_spark.cache_registry import SESSION_CACHES
from mdb_to_postgres_spark.sources.tables import session_cache_get


# ---------------------------------------------------------------- caches


@pytest.mark.parametrize(
    "label,cache", SESSION_CACHES, ids=[l for l, _ in SESSION_CACHES]
)
def test_session_cache_sweeps_stale_app_keys(spark, label, cache):
    """Every registered cache is keyed with applicationId first and the
    house sweep drops foreign-app keys on access: a key surviving its
    session would pin dead-JVM plans/checkpoint blocks for the process
    lifetime (round-9/10 ADVICE hazard class)."""
    app = spark.sparkContext.applicationId
    stale = ("app-dead-beef", "/no/such/sf")
    cache[stale] = "stale-artifact"
    probe = (app, "__r10_probe__")
    session_cache_get(cache, spark, "__r10_probe__", lambda: "fresh")
    try:
        assert stale not in cache, label
        assert all(k[0] == app for k in cache), label
    finally:
        cache.pop(probe, None)


def test_registry_is_complete():
    """A new module-level *_CACHE dict that is not registered (or exempt)
    fails here — the audit cannot silently go stale."""
    import mdb_to_postgres_spark as pkg

    registered = {id(c) for _, c in SESSION_CACHES}
    exempt = {
        "_BUILD_CACHE",  # global_order: own evicting memo, own tests
    }
    root = os.path.dirname(pkg.__file__)
    decl = re.compile(r"^(_[A-Z_]*CACHE)\s*(?::[^=]+)?=\s*\{\}", re.M)
    missing = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            src = open(path).read()
            for m in decl.finditer(src):
                var = m.group(1)
                if var in exempt:
                    continue
                # resolve the module object to compare dict identity
                rel = os.path.relpath(path, os.path.dirname(root))
                modname = rel[:-3].replace(os.sep, ".")
                import importlib

                obj = getattr(importlib.import_module(modname), var)
                if id(obj) not in registered:
                    missing.append(f"{modname}.{var}")
    assert not missing, f"unregistered session caches: {missing}"


def test_every_cache_is_on_the_house_pattern():
    """Source audit: each registered cache is populated through
    session_cache_get, or carries its own inline stale-app sweep
    (tables._DF_CACHE, dedup._COMP_CACHE)."""
    import importlib
    import inspect

    inline_sweep = {"tables.df", "dedup.components"}
    for label, cache in SESSION_CACHES:
        # find the module owning this dict
        owner = None
        var = None
        for modname in (
            "mdb_to_postgres_spark.sources.tables",
            "mdb_to_postgres_spark.extensions.dedup",
            "mdb_to_postgres_spark.extensions.graph",
            "mdb_to_postgres_spark.extensions.similarity",
            "mdb_to_postgres_spark.extensions.text_analysis",
            "mdb_to_postgres_spark.operators.aggregates",
            "mdb_to_postgres_spark.operators.joins",
            "mdb_to_postgres_spark.operators.physical",
            "mdb_to_postgres_spark.operators.scans",
            "mdb_to_postgres_spark.operators.windows",
        ):
            mod = importlib.import_module(modname)
            for name, val in vars(mod).items():
                if val is cache and name.endswith("CACHE"):
                    owner, var = mod, name
                    break
            if owner:
                break
        assert owner is not None, label
        src = inspect.getsource(owner)
        on_pattern = re.search(
            rf"session_cache_get\(\s*\n?\s*{var}", src
        ) or label in inline_sweep
        assert on_pattern, f"{label} ({var}) bypasses session_cache_get"
        if label in inline_sweep:
            assert re.search(rf"for k in \[k for k in {var} if k\[0\] != app\]", src), (
                f"{label}: inline sweep missing"
            )


def test_table_catalog_evicts_stale_app(spark):
    from mdb_to_postgres_spark.sources import tables

    tables._DF_CACHE[("app-dead-beef", "/no/such/sf", "region")] = "stale"
    tables.T(spark, SMOKE_SF, "region")
    assert all(
        k[0] == spark.sparkContext.applicationId for k in tables._DF_CACHE
    )


# ------------------------------------------------- global-order memo LRU


def test_build_memo_is_lru_bounded(spark, monkeypatch):
    from mdb_to_postgres_spark.functions import global_order as go

    monkeypatch.setattr(go, "_BUILD_CACHE_MAX", 4)
    go._BUILD_CACHE.clear()
    frames = [spark.range(i + 1) for i in range(7)]
    for i, df in enumerate(frames):
        assert go._build_memo(df, ("r10", i), lambda i=i: i) == i
    assert len(go._BUILD_CACHE) == 4
    # the oldest entries were evicted; the newest still hit
    app = spark.sparkContext.applicationId
    assert (app, frames[0].semanticHash(), ("r10", 0)) not in go._BUILD_CACHE
    hits_before = go._BUILD_MISSES
    assert go._build_memo(frames[6], ("r10", 6), lambda: "MISS") == 6
    assert go._BUILD_MISSES == hits_before, "bounded memo lost a live hit"
    # LRU, not FIFO: touching the oldest surviving key protects it
    go._build_memo(frames[3], ("r10", 3), lambda: "MISS")
    go._build_memo(spark.range(99), ("r10", 99), lambda: 99)
    assert (app, frames[3].semanticHash(), ("r10", 3)) in go._BUILD_CACHE
    go._BUILD_CACHE.clear()


# ------------------------------------------------ shared pair substrate


def test_pair_stats_substrate_is_shared(spark):
    """The Jaccard pair list and the containment query must consume ONE
    (dfreq, doc_stats) build per (session, sf) — the round-10 headline
    structure-sharing item."""
    from mdb_to_postgres_spark.extensions import dedup
    from mdb_to_postgres_spark.registry import QUERIES

    app = spark.sparkContext.applicationId
    dedup._PAIR_STATS_CACHE.clear()
    QUERIES["x_dedup_near_jaccard"](spark, SMOKE_SF).count()
    QUERIES["x_dedup_containment"](spark, SMOKE_SF).count()
    keys = [k for k in dedup._PAIR_STATS_CACHE if k[0] == app]
    assert keys == [(app, SMOKE_SF)], keys
    a = dedup.doc_pair_stats(spark, SMOKE_SF)
    b = dedup.doc_pair_stats(spark, SMOKE_SF)
    assert a[0] is b[0] and a[1] is b[1]


def test_containment_with_substrate_equals_standalone(spark):
    """Injecting the session substrate must not change a single pair."""
    from mdb_to_postgres_spark.extensions.dedup import (
        _pairs_from,
        doc_pair_stats,
        doc_shingles,
    )

    sh = doc_shingles(spark, SMOKE_SF)
    key = lambda pdf: sorted(
        (a, b, round(c, 9), round(j, 9))
        for a, b, c, j in pdf[["doc_a", "doc_b", "containment", "jaccard"]].values
    )
    with_stats = key(
        _pairs_from(sh, "containment", stats=doc_pair_stats(spark, SMOKE_SF)).toPandas()
    )
    standalone = key(_pairs_from(sh, "containment").toPandas())
    assert with_stats == standalone


# ------------------------------------------------------ char-LM guard


def test_char_lm_broadcast_fallback_bit_equal(spark, monkeypatch):
    """Forcing the model over the map-literal cap must route scoring
    through the broadcast-join path and reproduce the map-only result
    bit-for-bit (same integer lattice)."""
    from mdb_to_postgres_spark.extensions import text_analysis as ta
    from mdb_to_postgres_spark.registry import QUERIES

    canon = lambda pdf: sorted(
        (d, n, s, round(m, 12))
        for d, n, s, m in pdf[
            ["doc_id", "n_bigrams", "ppm_sum", "mean_bigram_prob"]
        ].values
    )
    base = canon(QUERIES["x_text_char_lm_score"](spark, SMOKE_SF).toPandas())
    monkeypatch.setattr(ta, "_CHAR_LM_MAP_MAX", 0)
    fallback_df = QUERIES["x_text_char_lm_score"](spark, SMOKE_SF)
    # the guard really rerouted: no map-literal lookup in the plan
    plan = fallback_df._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan
    assert canon(fallback_df.toPandas()) == base


# ------------------------------------------------ stream staging markers


def test_sliced_stage_restages_when_source_regenerates(spark, tmp_path):
    from mdb_to_postgres_spark.streaming import runtime

    sf = tmp_path / "sfr10"
    sf.mkdir()
    shutil.copyfile(f"{SMOKE_SF}/events.parquet", sf / "events.parquet")
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    tag = os.path.basename(str(sf))
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(runtime.__file__)))
    )
    stage = os.path.join(repo, ".cache", tag, "events_stream_sliced_3")
    done = os.path.join(os.path.dirname(stage), "events_stream_sliced_3.done")
    slice0 = os.path.join(stage, "slice_000.parquet")
    sig1 = open(done).read()
    assert sig1 == runtime._src_sig(str(sf / "events.parquet"))
    ctime1 = os.stat(slice0).st_ctime_ns
    # same content staged again -> no restage (slice untouched)
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    assert os.stat(slice0).st_ctime_ns == ctime1
    # "regenerate" the source (mtime changes) -> marker mismatch -> restage
    os.utime(sf / "events.parquet", (1_800_000_000, 1_800_000_000))
    runtime.read_events_stream_sliced(spark, str(sf), n_slices=3)
    sig2 = open(done).read()
    assert sig2 != sig1
    assert sig2 == runtime._src_sig(str(sf / "events.parquet"))
    assert os.stat(slice0).st_ctime_ns != ctime1, "slices were not re-staged"
    shutil.rmtree(os.path.join(repo, ".cache", tag), ignore_errors=True)


def test_dedup_stream_schema_contract(spark):
    """Output schema ends at minute_start — the internal minute_ts helper
    must not leak (round-9 ADVICE: silent output-schema change)."""
    from mdb_to_postgres_spark.streaming import runtime

    cols = runtime.dedup_stream(
        runtime.read_events_stream(spark, ORACLE_SF)
    ).columns
    assert "minute_ts" not in cols
    assert "minute_start" in cols
