"""Round-10 depth items: the shared dedup pair-stats substrate, the
char-LM model-size guard, the global-order memo LRU bound, the staged-
stream staleness markers, and the session-substrate store's eviction
contract."""

from __future__ import annotations

import importlib
import os
import re
import shutil
import types

import pytest

from conftest import ORACLE_SF, SMOKE_SF

from mdb_to_postgres_spark.sources import tables
from mdb_to_postgres_spark.sources.tables import session_cache_get


# ---------------------------------------------------------------- caches

_DEAD_APP = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="app-dead-beef"))

# Store name -> one call that builds that substrate: "module.function"
# taking (spark, sf_dir), or T with a table name.
_SUBSTRATES = {
    "tables.df": ("sources.tables.T", "region"),
    "dedup.jaccard_pairs": ("extensions.dedup.x_dedup_near_jaccard",),
    "dedup.incr_base": ("extensions.dedup.x_dedup_minhash_incremental",),
    "dedup.lsh_bands": ("extensions.dedup.x_dedup_minhash_lsh",),
    "dedup.simhash_chunks": ("extensions.dedup.x_dedup_simhash",),
    "dedup.components": ("extensions.dedup.x_dedup_components",),
    "dedup.shingles": ("extensions.dedup.doc_shingles",),
    "dedup.pair_stats": ("extensions.dedup.doc_pair_stats",),
    "text.trigrams": ("extensions.text_analysis.doc_trigram_counts",),
    "text.ngram_profiles": ("extensions.text_analysis.x_text_langid_ngram",),
    "text.char_lm_model": ("extensions.text_analysis.x_text_char_lm_score",),
    "text.bm25_index": ("extensions.text_analysis.x_text_bm25_retrieval",),
    "text.bigram_lm_model": ("extensions.text_analysis.x_text_bigram_score",),
    "graph.pairs": ("extensions.graph._sim_pairs",),
    "sim.flat_corpus": ("extensions.similarity.flat_corpus",),
    "sim.flat_centroids": ("extensions.similarity.flat_centroids",),
    "sim.strides": ("extensions.similarity._centroid_stride",),
    "sim.ivf_assign": ("extensions.similarity.ivf_assignment",),
    "sim.kmeans_centroids": ("extensions.similarity.x_sim_ann_ivf_kmeans",),
    "sim.lsh_buckets": ("extensions.similarity._lsh_buckets",),
    "sim.lsh_codes": ("extensions.similarity._lsh_corpus_codes",),
    "sim.pq_encode": ("extensions.similarity.x_sim_ann_ivf_pq",),
    "sim.pq_dtab": ("extensions.similarity.x_sim_ann_ivf_pq",),
    "win.concurrency_bounds": ("operators.windows.win_concurrency_sweep",),
    "win.pareto_revenue": ("operators.windows.win_pareto_abc",),
    "win.rfm_entity": ("operators.windows.win_rfm_segmentation",),
    "agg.skew_counts": ("operators.aggregates.agg_key_skew_profile",),
    "agg.ks_pv": ("operators.aggregates.agg_ks_two_sample",),
    "phys.morton": ("operators.physical.sort_zorder_cluster",),
    "scans.star_userkeys": ("operators.scans.etl_build_star_schema",),
    "joins.order_pairs": ("operators.joins.order_part_pairs",),
}


def _entries(label: str) -> dict:
    return {
        k: v
        for k, v in tables._STORE.items()
        if k[0] == SMOKE_SF and (k[1] == label or k[1].startswith((label + ".", label + "::")))
    }


@pytest.mark.parametrize("label", list(_SUBSTRATES))
def test_session_cache_sweeps_stale_app_keys(spark, label):
    """Each session substrate is an entry of the one store under its name,
    so the store's applicationId sweep (test_session_store_contract) drops
    it with its session, and a second build call hits the identical
    object. An entry surviving its session would pin dead-JVM
    plans/checkpoint blocks for the process lifetime."""
    path, *args = _SUBSTRATES[label]
    mod, fn = path.rsplit(".", 1)
    build = getattr(importlib.import_module(f"mdb_to_postgres_spark.{mod}"), fn)
    build(spark, SMOKE_SF, *args)
    first = _entries(label)
    assert first, label
    build(spark, SMOKE_SF, *args)
    assert all(_entries(label)[k] is v for k, v in first.items()), label


def test_session_store_contract(spark):
    """A hit returns the identical object, two sf dirs coexist in one
    session, and a new applicationId drops every entry, T's included."""
    t_smoke = tables.T(spark, SMOKE_SF, "region")
    t_oracle = tables.T(spark, ORACLE_SF, "region")
    assert t_oracle is not t_smoke
    assert tables.T(spark, SMOKE_SF, "region") is t_smoke
    assert tables.T(spark, ORACLE_SF, "region") is t_oracle
    session_cache_get(_DEAD_APP, SMOKE_SF, "test.probe", object)
    assert list(tables._STORE) == [(SMOKE_SF, "test.probe")]
    assert tables.T(spark, SMOKE_SF, "region") is not t_smoke
    assert (SMOKE_SF, "test.probe") not in tables._STORE


def test_no_module_level_cache_dicts():
    """Session substrates live in the one store; the only module-level
    *_CACHE dict is global_order's plan-hash-keyed, LRU-bounded memo."""
    import mdb_to_postgres_spark as pkg

    decl = re.compile(r"^(_[A-Z0-9_]*CACHE)\s*(?::[^=]+)?=\s*\{\}", re.M)
    found = []
    for dirpath, _, files in os.walk(os.path.dirname(pkg.__file__)):
        for fn in files:
            if fn.endswith(".py"):
                found += decl.findall(open(os.path.join(dirpath, fn)).read())
    assert found == ["_BUILD_CACHE"], found


def test_table_catalog_evicts_stale_app(spark):
    session_cache_get(_DEAD_APP, "/no/such/sf", "tables.df.region", lambda: "stale")
    tables.T(spark, SMOKE_SF, "region")
    assert ("/no/such/sf", "tables.df.region") not in tables._STORE


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

    tables._STORE.pop((SMOKE_SF, "dedup.pair_stats"), None)
    QUERIES["x_dedup_near_jaccard"](spark, SMOKE_SF).count()
    QUERIES["x_dedup_containment"](spark, SMOKE_SF).count()
    keys = [k for k in tables._STORE if k[1] == "dedup.pair_stats"]
    assert keys == [(SMOKE_SF, "dedup.pair_stats")], keys
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
