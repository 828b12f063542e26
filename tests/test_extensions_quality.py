"""Quality checks for the approximate/scale extension operators: the
randomized variants must actually find what the exact variants find
(candidate recall), and ANN results must overlap exact KNN."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mdb_to_postgres_spark.registry import QUERIES, load_all
from tests.conftest import ORACLE_SF

load_all()


def test_minhash_lsh_recall_vs_exact(spark):
    exact = QUERIES["x_dedup_near_jaccard"](spark, ORACLE_SF).toPandas()
    lsh = QUERIES["x_dedup_minhash_lsh"](spark, ORACLE_SF).toPandas()
    exact_pairs = set(zip(exact.doc_a, exact.doc_b))
    lsh_pairs = set(zip(lsh.doc_a, lsh.doc_b))
    if not exact_pairs:
        return  # corpus has no near-dups at this sf; nothing to recall
    # High-similarity pairs (>=0.5) are what 8x4 banding targets.
    strong = set(zip(exact[exact.jaccard >= 0.5].doc_a, exact[exact.jaccard >= 0.5].doc_b))
    if strong:
        recall = len(strong & lsh_pairs) / len(strong)
        assert recall >= 0.8, (recall, len(strong))
    # LSH verification step means no false positives below threshold.
    assert all(j >= 0.35 for j in lsh.jaccard)


def test_minhash_kernel_twins_agree(spark):
    # The xxhash64 production kernel shares the banded topology with the
    # md5 oracle kernel; the exact-verification stage means both emit only
    # true >=0.35 pairs, and on the same corpus they must recover
    # (essentially) the same set — base-hash choice is not allowed to
    # change what the operator finds.
    md = QUERIES["x_dedup_minhash_lsh"](spark, ORACLE_SF).toPandas()
    xx = QUERIES["x_dedup_minhash_lsh_xxh"](spark, ORACLE_SF).toPandas()
    md_pairs = set(zip(md.doc_a, md.doc_b))
    xx_pairs = set(zip(xx.doc_a, xx.doc_b))
    if not md_pairs:
        return
    agree = len(md_pairs & xx_pairs) / len(md_pairs | xx_pairs)
    assert agree >= 0.8, (agree, len(md_pairs), len(xx_pairs))
    assert all(j >= 0.35 for j in xx.jaccard)


def test_simhash_kernel_twins_agree(spark):
    # SimHash signatures DEPEND on the hash kernel (the signature is the
    # projection), so exact pair equality is not expected — but both
    # kernels must find the hamming==0 exact-duplicate pairs and broadly
    # agree on the near-dup set.
    md = QUERIES["x_dedup_simhash"](spark, ORACLE_SF).toPandas()
    xx = QUERIES["x_dedup_simhash_xxh"](spark, ORACLE_SF).toPandas()
    md0 = set(zip(md[md.hamming == 0].doc_a, md[md.hamming == 0].doc_b))
    xx0 = set(zip(xx[xx.hamming == 0].doc_a, xx[xx.hamming == 0].doc_b))
    # Identical token multisets produce hamming 0 under ANY kernel, so the
    # corpus's true exact-duplicate pairs must be found by both. (hamming-0
    # is NOT exclusive to identical docs — near-identical multisets can
    # collide kernel-dependently — so md0 == xx0 is not required.)
    dup = QUERIES["x_dedup_exact"](spark, ORACLE_SF).toPandas()
    groups = dup[dup.copies > 1]
    if len(groups):
        assert md0, "md5 kernel missed all exact duplicates"
        assert xx0, "xxh kernel missed all exact duplicates"
    if len(md) >= 5:
        overlap = len(set(zip(md.doc_a, md.doc_b)) & set(zip(xx.doc_a, xx.doc_b)))
        assert overlap / len(md) >= 0.5, (overlap, len(md), len(xx))


def test_simhash_finds_exact_duplicates(spark):
    # Append a forced duplicate pair via union, then simhash distance 0.
    docs = spark.read.parquet(f"{ORACLE_SF}/documents.parquet")
    base = QUERIES["x_dedup_simhash"](spark, ORACLE_SF).toPandas()
    dup_exact = QUERIES["x_dedup_exact"](spark, ORACLE_SF).toPandas()
    dup_groups = dup_exact[dup_exact.copies > 1]
    if len(dup_groups):
        # every exact-duplicate group must surface as hamming==0 pairs
        assert (base.hamming == 0).any()


def test_multimodal_decode_shapes(spark):
    # The pipeline stage keeps the real ArrayType feature column...
    from pyspark.sql import functions as _F
    from mdb_to_postgres_spark.extensions.multimodal import decode_media

    docs = spark.read.parquet(f"{ORACLE_SF}/documents.parquet").select(
        "doc_id", _F.encode(_F.col("text"), "utf-8").alias("payload")
    )
    stage = decode_media(docs).toPandas()
    n_docs = len(stage)
    assert n_docs == docs.count()
    assert stage.feature.map(len).eq(8).all()
    # ...while the registered query serializes it for the driver
    # canonicalizer (round-4 crash): the integer lattice (feature*97).
    pdf = QUERIES["x_multimodal_decode_stub"](spark, ORACLE_SF).toPandas()
    assert len(pdf) == n_docs
    assert (pdf.width >= 16).all() and (pdf.width < 80).all()
    assert pdf.feature_q97.str.count(",").eq(7).all()
    # Deterministic stub: same input -> same features across runs.
    pdf2 = QUERIES["x_multimodal_decode_stub"](spark, ORACLE_SF).toPandas()
    a = pdf.sort_values("doc_id").reset_index(drop=True)
    b = pdf2.sort_values("doc_id").reset_index(drop=True)
    assert (a.width == b.width).all()
    assert (a.feature_q97 == b.feature_q97).all()
    # Lattice serialization is invertible against the stage's array values.
    joined = a.merge(
        stage.sort_values("doc_id").reset_index(drop=True), on="doc_id"
    )
    for csv, arr in zip(joined.feature_q97, joined.feature):
        got = [int(x) for x in csv.split(",")]
        assert all(0 <= g <= 96 and abs(g / 97.0 - float(v)) < 5e-6 for g, v in zip(got, arr))


def test_fingerprint_is_order_sensitive(spark):
    # Rolling hash must differ when token order differs (unlike a bag hash).
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="gamma beta alpha")]
    )
    df.createOrReplaceTempView("documents_tmp")
    # Reuse the registered query machinery by temporarily pointing at a
    # synthetic frame: compute directly with the same expression.
    from mdb_to_postgres_spark.extensions import text_analysis as ta

    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    tokval = F.transform(
        toks,
        lambda t: (
            F.length(t) * 31
            + F.ascii(F.substring(t, 1, 1)) * 7
            + F.ascii(t.substr(F.length(t), F.lit(1)))
        ).cast("long"),
    )
    fp = F.aggregate(tokval, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % 1000000007)
    out = {r.doc_id: r.f for r in df.select("doc_id", fp.alias("f")).collect()}
    assert out[1] != out[2]


def test_components_contain_every_pair(spark):
    pairs = QUERIES["x_dedup_near_jaccard"](spark, ORACLE_SF).toPandas()
    comp = QUERIES["x_dedup_components"](spark, ORACLE_SF).toPandas()
    label = dict(zip(comp.doc_id, comp.component_id))
    for a, b in zip(pairs.doc_a, pairs.doc_b):
        assert label[a] == label[b], (a, b)
    # component_id is the min doc_id of its members
    by_comp = comp.groupby("component_id").doc_id.min()
    assert (by_comp.index == by_comp.values).all()


def test_shingles_short_docs_do_not_crash(spark):
    """Documents with fewer than n tokens must be dropped by the shingle
    guard, not crash the transform (negative-length sequence -> slice(_, 0, n)
    raises) or emit bogus short shingles."""
    from mdb_to_postgres_spark.extensions.doc_text import _shingles

    d = spark.createDataFrame(
        [(1, "one"), (2, "just two"), (3, "exactly three tokens"),
         (4, "a full four token doc"), (5, "")],
        "doc_id: long, text: string",
    )
    rows = _shingles(d, 3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert 1 not in by_doc and 2 not in by_doc and 5 not in by_doc
    assert by_doc[3] == {"exactly three tokens"}
    assert len(by_doc[4]) == 3  # 5 tokens -> 3 trigrams


def test_session_caches_are_sf_keyed(spark):
    """The shingle-index and components caches key on (applicationId,
    sf_dir): asking for a different scale factor must NOT serve the other
    sf's materialization (would silently poison every shingle-based
    oracle comparison)."""
    from mdb_to_postgres_spark.extensions.dedup import doc_shingles

    a = doc_shingles(spark, "/root/testdata/sf0.001")
    b = doc_shingles(spark, "/root/testdata/sf0.01")
    # both sfs hold 500 docs but DIFFERENT text, so the shingle sets differ
    na, nb = a.select("shingle").distinct().count(), b.select("shingle").distinct().count()
    assert na != nb, "different scale factors must materialize different indexes"
    # second call serves the identical cached frame
    assert doc_shingles(spark, "/root/testdata/sf0.001") is a


def test_components_cache_consistent(spark):
    """Cached and freshly-computed component results must agree."""
    from mdb_to_postgres_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    first = QUERIES["x_dedup_components"](spark, sf).toPandas()
    again = QUERIES["x_dedup_components"](spark, sf).toPandas()  # cache hit
    key = lambda df: sorted(map(tuple, df[["doc_id", "component_id", "component_size"]].values))
    assert key(first) == key(again)


def test_gap_fill_spine_is_contiguous(spark):
    # Every user's resampled series must cover [min, max] with no holes:
    # row count == (mx - mn)/3600 + 1, and filled rows carry zero counts,
    # never nulls.
    pdf = QUERIES["win_gap_fill_resample"](spark, ORACLE_SF).toPandas()
    assert pdf["event_cnt"].notna().all()
    for uid, g in pdf.groupby("user_id"):
        hours = sorted(g["hour_start"])
        assert len(hours) == (hours[-1] - hours[0]) // 3600 + 1, uid
        assert (g["was_gap"] == (g["event_cnt"] == 0).astype(int)).all(), uid


def test_fuzzy_names_blocking_never_misses_close_pairs(spark):
    # Within the same head noun, blocking is exhaustive: a brute-force
    # pandas check over the (tiny) distinct-name set finds exactly the
    # same qualifying pairs.
    got = QUERIES["x_dedup_fuzzy_names"](spark, ORACLE_SF).toPandas()
    names = sorted(
        r.p_name
        for r in QUERIES["scan_parquet"](spark, ORACLE_SF).sparkSession.read.parquet(
            f"{ORACLE_SF}/part.parquet"
        ).select("p_name").distinct().collect()
    )
    def lev(a, b):
        import functools
        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0: return j
            if j == 0: return i
            return min(d(i-1, j) + 1, d(i, j-1) + 1,
                       d(i-1, j-1) + (a[i-1] != b[j-1]))
        return d(len(a), len(b))
    expect = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i+1:]
        if a.split(" ")[1] == b.split(" ")[1] and lev(a, b) <= 3
    }
    assert {(r.name_a, r.name_b) for _, r in got.iterrows()} == expect


def test_curriculum_is_a_permutation(spark):
    # global_pos must be a bijection onto 1..N and consistent with stages:
    # every stage-k position precedes every stage-(k+1) position.
    out = QUERIES["x_pack_curriculum"](spark, ORACLE_SF).toPandas()
    n = len(out)
    assert sorted(out.global_pos) == list(range(1, n + 1))
    stage_max = out.groupby("stage").global_pos.max()
    stage_min = out.groupby("stage").global_pos.min()
    for s in range(1, int(out.stage.max())):
        assert stage_max[s] < stage_min[s + 1]


def test_quality_gate_reason_consistent_with_keep(spark):
    out = QUERIES["x_text_quality_gate"](spark, ORACLE_SF).toPandas()
    assert ((out.reject_reason == "ok") == out.keep).all()
    # thresholds actually bind in the verdict
    bad = out[~out.keep]
    for _, r in bad.iterrows():
        assert r.n_tokens < 10 or r.ttr < 0.30 or r.stop_ratio < 0.01


def test_pagerank_mass_conserved(spark):
    # No dangling nodes (every node in the edge set has out-degree >= 1),
    # so total rank stays 1 after every iteration.
    out = QUERIES["x_graph_pagerank"](spark, ORACLE_SF).toPandas()
    assert abs(out.pagerank.sum() - 1.0) < 1e-9, out.pagerank.sum()
    assert (out.pagerank > 0).all()


def test_triangles_are_real_and_ordered(spark):
    tri = QUERIES["x_graph_triangles"](spark, ORACLE_SF).toPandas()
    pairs = set(
        zip(*QUERIES["x_dedup_near_jaccard"](spark, ORACLE_SF).toPandas()[["doc_a", "doc_b"]].T.values)
    )
    for _, t in tri.iterrows():
        assert t.doc_x < t.doc_y < t.doc_z
        assert (t.doc_x, t.doc_y) in pairs
        assert (t.doc_y, t.doc_z) in pairs
        assert (t.doc_x, t.doc_z) in pairs


def test_maxsim_bounded_by_token_count(spark):
    # MaxSim is a sum of _MV_TOKENS per-token maxima of cosines, so
    # |score| <= token count; and rn ranks scores descending per query.
    out = QUERIES["x_sim_maxsim_multivector"](spark, ORACLE_SF).toPandas()
    from mdb_to_postgres_spark.extensions.similarity import _MV_TOKENS
    assert (out.maxsim.abs() <= _MV_TOKENS).all()
    for _, grp in out.groupby("q_doc"):
        g = grp.sort_values("rn")
        assert (g.maxsim.diff().dropna() <= 1e-12).all()


def test_decode_stub_oracle_handles_empty_document():
    # ADVICE round-5: `i % n` is NULL in DuckDB for a zero-length doc while
    # the Spark stub emits the zero lattice. greatest(n, 1) must keep the
    # two in lockstep — pinned here against a synthetic empty-text corpus
    # (none exists in the shipped fixtures, which is exactly why this needs
    # a fixture of its own).
    import duckdb

    from mdb_to_postgres_spark.registry import all_oracles

    sql = all_oracles()["x_multimodal_decode_stub"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, ''), (2, 'ab'))"
        " AS t(doc_id, text)"
    )
    rows = {r[0]: r for r in con.execute(sql).fetchall()}
    # empty doc: width/height floor, 1 frame, all-zero feature lattice
    assert rows[1][1:] == (16, 16, 1, "0,0,0,0,0,0,0,0"), rows[1]
    # non-empty doc: features cycle over the payload bytes (ascii a=97 -> 0,
    # b=98 -> 1)
    assert rows[2][4] == "0,1,0,1,0,1,0,1", rows[2]


_ANN_QUERIES = [
    "x_sim_ann_lsh",
    "x_sim_ann_lsh_hyperplane",
    "x_sim_ann_ivf",
    "x_sim_ann_ivf_kmeans",
    "x_sim_ann_ivf_pq",
    "x_sim_ann_filtered",
]


@pytest.fixture(scope="module")
def exact_knn(spark):
    return QUERIES["x_sim_topk_knn"](spark, ORACLE_SF).toPandas()


@pytest.fixture(scope="module")
def vectors(spark):
    emb = spark.read.parquet(f"{ORACLE_SF}/embeddings.parquet").toPandas()
    return dict(zip(emb.vec_id, emb.embedding))


def _fold_cos(a, b) -> float:
    """Left-to-right double fold, the add order of the engine's unrolled
    kernel, so the value is bit-identical, not merely close."""
    dot = aa = bb = 0.0
    for x, y in zip(map(float, a), map(float, b)):
        dot += x * y
        aa += x * x
        bb += y * y
    return dot / (math.sqrt(aa) * math.sqrt(bb))


@pytest.mark.parametrize("name", _ANN_QUERIES)
def test_ann_quality_vs_exact_knn(spark, exact_knn, vectors, name):
    """Every ANN query is a candidate generator re-ranked by the exact
    kernel x_sim_topk_knn uses: each returned pair scores bit for bit
    like exact kNN, each query's ranks run 1..<=5 with cosine descending,
    and each generator keeps its recall floor vs exact kNN."""
    ann = QUERIES[name](spark, ORACLE_SF).toPandas()
    assert list(ann.columns) == ["query_id", "neighbor_id", "cos_sim", "rn"]
    assert len(ann) > 0
    for r in ann.itertuples():
        assert r.cos_sim == _fold_cos(vectors[r.query_id], vectors[r.neighbor_id]), r
    merged = ann.merge(exact_knn, on=["query_id", "neighbor_id"], suffixes=("_ann", "_knn"))
    assert len(merged) > 0
    assert (merged.cos_sim_ann == merged.cos_sim_knn).all()
    for _, grp in ann.sort_values(["query_id", "rn"]).groupby("query_id"):
        assert list(grp.rn) == list(range(1, len(grp) + 1)) and len(grp) <= 5
        assert (grp.cos_sim.diff().dropna() <= 0).all()

    found = set(zip(ann.query_id, ann.neighbor_id))
    top1 = exact_knn[exact_knn.rn == 1]
    top1_hits = len(found & set(zip(top1.query_id, top1.neighbor_id)))
    recalled = len(found & set(zip(exact_knn.query_id, exact_knn.neighbor_id)))
    if name == "x_sim_ann_lsh":
        # 8 tables x 6 bits => ~12% collision rate: real candidates for most
        # queries even on a structureless corpus
        assert ann.query_id.nunique() >= 15, ann.query_id.nunique()
    if name in ("x_sim_ann_ivf", "x_sim_ann_ivf_kmeans"):
        # random gaussian corpus = no cluster structure, IVF's worst case;
        # nprobe=8 of ~20 lists still must beat the 40% coverage floor
        assert top1_hits / len(top1) >= 0.4, top1_hits
    if name == "x_sim_ann_ivf_pq":
        # bounded by the 16-entry codebook STUB + 64-deep shortlist;
        # measured 0.56 on this corpus (vs 0.2% random-pick)
        assert recalled / len(exact_knn) >= 0.4, (recalled, len(exact_knn))
    if name == "x_sim_ann_ivf_kmeans":
        # determinism: seeded init + fixed iterations + id tiebreaks
        again = QUERIES[name](spark, ORACLE_SF).toPandas()
        a = ann.sort_values(["query_id", "rn"]).reset_index(drop=True)
        b = again.sort_values(["query_id", "rn"]).reset_index(drop=True)
        assert a.equals(b)
