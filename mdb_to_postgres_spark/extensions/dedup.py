"""Deduplication operators (SURVEY.md §2.9 #59-60 + driver-mandated set).

Scale shapes:
- exact dedup: hash-groupBy — shuffle is proportional to distinct content
  hashes, never to corpus bytes (hash first, shuffle 32-byte keys).
- n-gram Jaccard: shingle-inverted-index self-join — pairs are generated
  only for docs sharing a shingle, not the O(n^2) cross product.
- MinHash LSH: banded signatures bucket-join candidates, then exact
  verification on the (tiny) candidate set — the 100 TB near-dup path.
- SimHash: 64-bit signatures; Hamming-ball candidates via 16-bit chunk
  blocking (pigeonhole: distance<=3 pairs share a chunk).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.tables import T, session_cache_get

# Shared tokenization: lowercase, split on single spaces (corpus text is
# single-spaced lowercase words; the normalized variant handles messier
# input below).
def _TOKS() -> "F.Column":  # lazy: Column creation needs an active SparkContext
    return F.split(F.lower(F.col("text")), " ")


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per doc.

    Docs with fewer than n tokens are dropped BEFORE the window transform:
    without the guard, size(toks)-n goes negative, sequence() produces a
    descending range, and slice(toks, 0, n) raises (SQL arrays are
    1-indexed) — so one short document would crash every shingle-based
    query. Mirrors the `len(l) >= n` guard every DuckDB oracle carries."""
    return (
        df.select("doc_id", _TOKS().alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', slice(toks, i+1, {n})))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


@query(
    "x_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup (#59), deterministic keep-lowest-id."""
    return (
        T(spark, sf_dir, "documents")
        .select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("copies"))
    )


@query(
    "x_dedup_exact_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[ ]+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    SELECT content_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS copies
    FROM n GROUP BY content_hash
    """,
)
def x_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after whitespace/case normalization — catches the
    trivially-reformatted duplicates exact hashing misses."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "[ ]+", " "))).alias("content_hash"),
    )
    return d.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("copies")
    )


_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) >= 0.35
"""


@query("x_dedup_near_jaccard", oracle=_JACCARD_ORACLE)
def x_dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup (#60, deterministic variant): the
    complete (doc_a, doc_b, jaccard >= 0.35) pair list. Integer
    intersection / sizes -> one double divide: bit-deterministic.

    The verified pair list is the most-shared substrate in the repo — the
    component builder, the cluster QA report and the whole graph tier all
    consume it — so it is computed once per (session, sf), exactly like
    the pair table a production dedup run materializes before clustering,
    and it is computed by the SCALE plan (_pairs_from: candidate-free
    hot/cold split verify — no term quadratic in boilerplate shingle df),
    which is provably and test-asserted identical to the naive
    inverted-index self-join this query's DuckDB oracle runs."""
    def build() -> DataFrame:
        return _pairs_from(
            doc_shingles(spark, sf_dir), "jaccard", stats=doc_pair_stats(spark, sf_dir)
        ).localCheckpoint()

    return session_cache_get(spark, sf_dir, "dedup.jaccard_pairs", build)


# Document-frequency cap splitting the exact verify: shingles with df
# <= _HOT_DF flow through the inverted-index match stream (each such
# shingle emits at most _HOT_DF^2 pairs — the stream stays LINEAR in
# postings), shingles above it are carried as tiny per-doc arrays and
# intersected per CANDIDATE pair instead of per posting pair. Measured on
# the 100x replica: 343 boilerplate shingles (all-kept-word trigrams,
# df 1500-2000) were 55% of a 618M-row match stream and grew QUADRATICALLY
# with corpus size (105x for 10x docs) while the cold stream grew 9x —
# the real-world shape of license headers / navigation chrome in a web
# corpus. The cap trades one bounded broadcast (the hot vocab is tiny by
# definition: at most postings/_HOT_DF entries, 343 here) for removing
# the only quadratic term in the exact pipeline.
_HOT_DF = 64

# measure -> (num, den, size): score >= t forces den * isect >= num *
# size(sz_a, sz_b). Jaccard: J >= t <=> isect >= t/(1+t) * (sz_a + sz_b),
# 7/27 at t = 0.35. Containment: isect >= 0.8 * min(sz_a, sz_b).
_BOUNDS = {
    "jaccard": (7, 27, lambda a, b: a + b),
    "containment": (8, 10, F.least),
}


def _pairs_from(
    sh: DataFrame,
    measure: str,
    hot_df: int = _HOT_DF,
    stats: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Exact thresholded pair list over any distinct (doc_id, shingle)
    table — the one set-similarity pair engine. `measure` is "jaccard"
    (|A∩B| / |A∪B| >= 0.35 -> doc_a, doc_b, jaccard; behind
    x_dedup_near_jaccard's session pair list and everything built on it)
    or "containment" (|A∩B| / min(|A|,|B|) >= 0.8 -> doc_a, doc_b,
    containment, jaccard; behind x_dedup_containment). `stats` (from
    doc_pair_stats) injects the session-cached (dfreq, doc_stats)
    substrate shared by both measures; when absent (standalone/test use)
    the same artifacts build per call.

    The output is PROVABLY identical to the naive full-index self-join
    (_naive_pairs_from / _naive_containment_from; tests/test_dedup_pairs.py
    asserts it for both measures at hot caps 64/4/0 and on adversarial
    synthetic corpora). With (num, den, size) from _BOUNDS, four claims
    carry the proof:

    1. COMPLETENESS (channel 1): every pair sharing >= 1 COLD
       (df <= hot_df) shingle appears in the cold match stream directly.
    2. EXACTNESS: cold and hot shingles partition the vocabulary, so cold
       match count + hot array intersect is the true intersection for
       every channel-1 pair.
    3. FEASIBILITY FILTER: isect <= upper = cold_isect + min(n_hot_a,
       n_hot_b), so any pair failing den * upper >= num * size(sz_a, sz_b)
       is provably sub-threshold and drops BEFORE the per-pair array joins
       — the checkpointed survivor set is output-sized, not
       sharing-pairs-sized (26k Jaccard survivors out of 52M sharing pairs
       at the 100x replica).
    4. HOT-ONLY pairs (channel 2): a qualifying pair sharing NO cold
       shingle has isect <= min(n_hot_a, n_hot_b), and size(sz_a, sz_b)
       >= sz_s for the smaller doc s under both measures, so
       den * n_hot_s >= num * sz_s — the smaller doc is hot-heavy (under
       Jaccard both are). Channel 2 joins every hot-heavy doc's hot
       shingles against ALL hot postings (bounded by |heavy| * max hot df,
       not df^2), so every such pair appears; it anti-joins the channel-1
       survivors and scores the rest by hot intersect alone: exact for
       genuinely hot-only pairs, and a provably sub-threshold undercount
       for anything else (an undercount only lowers both scores, so no
       false positive can cross the filter). Channel 2 is EMPTY on any
       corpus whose boilerplate is a small fraction of each doc — probed
       with a one-row count on the checkpointed stats table and skipped.

    Cost model vs the naive index (100x replica, 500k docs): the match
    stream drops every hot shingle — the only super-linear term. There is
    no prefix-candidate stage: at t = 0.35 a PPJoin prefix self-join kept
    52M of 52M cold-sharing pairs, and at t = 0.8 a positional prefix
    stage made containment slower, not faster (interleaved A/B, 4 cores:
    median 160 s with it vs 108 s without at the 100x replica, 2.5 s vs
    1.5 s at sf0.1). ONE broadcast of the (shingle, df) table feeds the
    cold/hot split; per-doc stats (set size + the bounded hot array) come
    from ONE extra pass over the postings, checkpointed thin (one row per
    doc) so the feasibility broadcast, the survivor array joins and the
    heavy probe all reuse it. At billion-doc scale the two small
    broadcasts (vocab df, doc stats) outgrow memory — swap them for
    shuffle joins; every other shape is already shuffle-based and linear.
    """
    num, den, size = _BOUNDS[measure]
    if stats is None:
        stats = _build_pair_stats(sh, hot_df)
    dfreq, doc_stats = stats
    post = sh.join(F.broadcast(dfreq), "shingle")
    # Per-side views of the thin doc stats: (size, hot count) broadcast
    # for the bound, the hot arrays for the exact rescore.
    meta_a, meta_b = (
        F.broadcast(
            doc_stats.select(
                F.col("doc_id").alias(f"doc_{s}"),
                F.col("sz").alias(f"sz_{s}"),
                F.size("hot_sh").alias(f"n_hot_{s}"),
            )
        )
        for s in "ab"
    )
    hot_a, hot_b = (
        doc_stats.select(F.col("doc_id").alias(f"doc_{s}"), F.col("hot_sh").alias(f"hot_{s}"))
        for s in "ab"
    )

    def rescored(pairs: DataFrame) -> DataFrame:
        # hot_sh is never NULL (see doc_stats), so size(array_intersect) is
        # always >= 0 here — no sizeOfNull=-1 hazard on this inner join.
        return pairs.join(hot_a, "doc_a").join(hot_b, "doc_b").select(
            "doc_a",
            "doc_b",
            (F.col("cold_isect") + F.size(F.array_intersect("hot_a", "hot_b"))).alias("isect"),
            "sz_a",
            "sz_b",
        )

    # Channel 1: pairs sharing at least one cold shingle. The match
    # stream runs over cold postings only — each cold shingle emits at
    # most hot_df^2 pairs, so the stream is LINEAR in postings.
    cold = post.filter(F.col("df") <= hot_df)
    ca = cold.select(F.col("doc_id").alias("doc_a"), "shingle")
    cb = cold.select(F.col("doc_id").alias("doc_b"), "shingle")
    upper = F.col("cold_isect") + F.least("n_hot_a", "n_hot_b")
    survivors = (
        ca.join(cb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("cold_isect"))
        .join(meta_a, "doc_a")
        .join(meta_b, "doc_b")
        .filter(den * upper >= num * size(F.col("sz_a"), F.col("sz_b")))
        .localCheckpoint()
    )
    both = rescored(survivors)
    # Channel 2: hot-only pairs, possible only with a hot-heavy doc
    # (claim 4). One cheap count on the checkpointed stats table; empty on
    # every normal corpus.
    heavy = doc_stats.filter(den * F.size("hot_sh") >= num * F.col("sz"))
    if heavy.limit(1).count() > 0:
        hvx = heavy.select(F.col("doc_id").alias("doc_s"), F.explode("hot_sh").alias("shingle"))
        hot_post = post.filter(F.col("df") > hot_df).select(
            F.col("doc_id").alias("doc_o"), "shingle"
        )
        ch2 = (
            hvx.join(hot_post, "shingle")
            .filter(F.col("doc_s") != F.col("doc_o"))
            .select(
                F.least("doc_s", "doc_o").alias("doc_a"),
                F.greatest("doc_s", "doc_o").alias("doc_b"),
            )
            .distinct()
            .join(survivors.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
            .join(meta_a, "doc_a")
            .join(meta_b, "doc_b")
            .withColumn("cold_isect", F.lit(0).cast("long"))
        )
        both = both.unionByName(rescored(ch2))
    jaccard = F.col("isect").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("isect"))
    if measure == "jaccard":
        out = both.withColumn("jaccard", jaccard).filter(F.col("jaccard") >= 0.35)
        return out.select("doc_a", "doc_b", "jaccard")
    out = (
        both.withColumn("containment", F.col("isect").cast("double") / F.least("sz_a", "sz_b"))
        .withColumn("jaccard", jaccard)
        .filter(F.col("containment") >= 0.8)
    )
    return out.select("doc_a", "doc_b", "containment", "jaccard")


# Naive full-inverted-index Jaccard: every sharing pair enumerated,
# grouped, thresholded — the equivalence oracle for _pairs_from(sh,
# "jaccard") and the shape of every DuckDB oracle over the pair list.
# Quadratic in hot-shingle df, so off the query path.
def _naive_pairs_from(sh: DataFrame) -> DataFrame:
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("isect").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("isect")),
        )
        .filter(F.col("jaccard") >= 0.35)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


_N_HASHES = 32
_N_BANDS = 8  # 8 bands x 4 rows: catches jaccard ~>= 0.5 candidates

# Universal-hash family over a single 28-bit md5-derived base hash:
# h_i(x) = (A_i * h28(x) + B_i) mod P. One md5 per shingle instead of 32;
# the A/B constants come from a fixed LCG so both engines bake in the SAME
# literals. P = 2^31-1 (Mersenne); A_i*h < 2^59 never overflows BIGINT.
_MINHASH_P = 2_147_483_647


def _minhash_coeffs() -> list[tuple[int, int]]:
    seed, out = 42, []
    for _ in range(_N_HASHES):
        seed = (seed * 6364136223846793005 + 1442695040888963407) % 2**63
        a = seed % (_MINHASH_P - 1) + 1
        seed = (seed * 6364136223846793005 + 1442695040888963407) % 2**63
        b = seed % _MINHASH_P
        out.append((a, b))
    return out


_MINHASH_AB = _minhash_coeffs()


def _minhash_oracle() -> str:
    """DuckDB mirror of the universal-hash MinHash+LSH pipeline below,
    generated so the 32 min-hash aggregates and 8 band signatures stay in
    lockstep with _N_HASHES/_N_BANDS/_MINHASH_AB."""
    rows_per_band = _N_HASHES // _N_BANDS
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS band_sig FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"CAST(m{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(_N_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    ),
    hb AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM hb GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS isect
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) >= 0.35
    """


def _minhash_bands(sh: DataFrame, h_col, band_sig) -> DataFrame:
    """(doc_id, band, band_sig) banded index rows from a shingle index:
    shingle -> base BIGINT hash (``h_col``) -> 32 affine universal
    minhashes -> 8 band signatures of 4 rows each."""
    hb = sh.select("doc_id", h_col.alias("h"))
    sig = hb.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(_MINHASH_AB)
        ]
    )
    rows_per_band = _N_HASHES // _N_BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    band_sig(
                        [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band", "band_sig"),
    )


def _verify_jaccard(
    sh: DataFrame, cand: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over the candidate pairs only (never all-pairs).
    `sizes` (doc_id, sz) injects the shared pair-stats substrate's per-doc
    set sizes when `sh` IS the corpus shingle index (doc_stats.sz is that
    same distinct-shingle count); standalone callers build it per call."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("isect").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("isect")),
        )
        .filter(F.col("jaccard") >= 0.35)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, h_col, band_sig, kernel: str
) -> DataFrame:
    """Shared banded-LSH topology (#60, scale variant): shingle ->
    banded signature index (_minhash_bands) -> bucket join on (band,
    band_sig) -> exact Jaccard verification of candidates only
    (_verify_jaccard). Everything is DataFrame ops: the signature build
    is one groupBy over the shingle index; candidate generation touches
    only bucket collisions. The banded-join shape, not the hash kernel,
    is what carries to 100 TB — the two registered variants below differ
    ONLY in the kernel plugged in here.

    The banded index is a per-(session, sf, kernel) substrate — the
    persisted signature table of a production pipeline (the bucketed
    saveAsTable variant, join_bucketed_dedup_verify, IS that table);
    rebuilding it on every call re-ran the full per-shingle hash + 32-way
    min aggregation (the dominant cost of both registered variants)."""
    sh = doc_shingles(spark, sf_dir)
    bands = session_cache_get(
        spark,
        sf_dir,
        f"dedup.lsh_bands::{kernel}",
        lambda: _minhash_bands(sh, h_col, band_sig).localCheckpoint(),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_sig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    _, doc_stats = doc_pair_stats(spark, sf_dir)
    return _verify_jaccard(sh, cand, sizes=doc_stats.select("doc_id", "sz"))


@query("x_dedup_minhash_lsh", oracle=_minhash_oracle())
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup, cross-engine-checkable kernel.

    ONE md5 per shingle -> 28-bit base hash (hex prefix) -> 32 affine
    universal hashes (A_i*h+B_i mod 2^31-1) with literal A/B constants
    shared with the DuckDB oracle, so the whole pipeline hash-checks
    end-to-end at ~1/32 the hashing cost of naive per-permutation md5.
    Tests assert candidate recall against x_dedup_near_jaccard."""
    return _minhash_lsh_pairs(
        spark,
        sf_dir,
        h_col=F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint"),
        band_sig=lambda cols: F.md5(
            F.concat_ws("|", *[c.cast("string") for c in cols])
        ),
        kernel="md5",
    )


@query(
    "x_dedup_minhash_incremental",
    oracle=f"""
    SELECT * FROM ({_minhash_oracle()})
    WHERE doc_a % 10 = 7 OR doc_b % 10 = 7
    """,
)
def x_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash index maintenance (#60 cont.): when a delta of
    new documents arrives (simulated here as doc_id % 10 = 7), only the
    DELTA's signatures are computed — a per-doc aggregation over just the
    new docs' shingles — and probed against the existing banded index
    plus themselves. Base-base pairs are never re-examined, so the
    per-batch cost is O(delta + collisions), not O(corpus): the property
    that lets a 100 TB dedup index absorb daily arrivals without nightly
    rebuilds (in production the base index is a persisted (doc_id, band,
    band_sig) table; bucket it on band_sig and the probe join is
    shuffle-free on the base side).

    MinHash signatures are per-doc, so delta signatures computed in
    isolation are bit-identical to a full rebuild's — the oracle is the
    FULL pipeline restricted to pairs touching a delta doc, and the hash
    check proves the incremental path loses nothing."""
    sh = doc_shingles(spark, sf_dir)
    h_col = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")

    def band_sig(cols):
        return F.md5(F.concat_ws("|", *[c.cast("string") for c in cols]))

    is_delta = F.col("doc_id") % 10 == 7
    # The BASE index is a per-(session, sf) substrate (production: the
    # persisted banded table, built once per corpus snapshot, read by
    # every batch) — localCheckpointed once. The DELTA signatures are NOT
    # checkpointed per call (round 12, guide §5): the subtree is
    # delta-bounded (filter of the checkpointed shingle index + one
    # groupBy), so recomputing it for its two references costs 2x0.21 s
    # while the eager localCheckpoint's extra job + block registration
    # measured 0.40-0.45 s of pure overhead on top of the same compute
    # (bands 0.21 s -> ckpt+count 0.65 s). Interleaved A/B: 1.24 -> 1.08 s
    # min per call, bit-equal. At 100 TB the trade holds: two delta-sized
    # map passes beat materializing a per-batch index copy on the heap.
    base_bands = session_cache_get(
        spark,
        sf_dir,
        "dedup.incr_base",
        lambda: _minhash_bands(sh.filter(~is_delta), h_col, band_sig).localCheckpoint(),
    )
    delta_bands = _minhash_bands(sh.filter(is_delta), h_col, band_sig)
    merged = base_bands.unionByName(delta_bands)
    cand = (
        delta_bands.alias("x")
        .join(merged.alias("y"), ["band", "band_sig"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    _, doc_stats = doc_pair_stats(spark, sf_dir)
    return _verify_jaccard(sh, cand, sizes=doc_stats.select("doc_id", "sz"))


@query("x_dedup_minhash_lsh_xxh")  # rows-only: xxhash64 has no DuckDB twin
def x_dedup_minhash_lsh_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH, production kernel: same topology as
    x_dedup_minhash_lsh with xxhash64 (one JVM-side 64-bit hash, no hex
    round-trip, no md5) as base hash and band signature. This is the
    engine-local deployment path — rows-only here the way
    fn_hash_impl_specific twins fn_hash; the md5 variant carries the
    cross-engine correctness evidence for the shared shape, and
    tests/test_extensions_quality.py asserts both kernels recover the
    same high-Jaccard pairs."""
    return _minhash_lsh_pairs(
        spark,
        sf_dir,
        h_col=F.pmod(F.xxhash64("shingle"), F.lit(_MINHASH_P)),
        band_sig=lambda cols: F.xxhash64(*cols),
        kernel="xxh",
    )


_SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits BIGINT in both engines
_SIMHASH_CHUNKS = 4  # 15-bit chunks; pigeonhole: hamming<=3 pairs share one


def _simhash_oracle() -> str:
    """DuckDB mirror of the md5-derived SimHash pipeline below."""
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    width = _SIMHASH_BITS // _SIMHASH_CHUNKS
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
    ),
    bs AS (
      SELECT doc_id, {bit_sums}
      FROM h GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {sig} AS simhash FROM bs),
    chunks AS (
      SELECT doc_id, simhash, c.chunk_id,
             (simhash >> ({width} * c.chunk_id)) & {(1 << width) - 1} AS chunk_val
      FROM sim CROSS JOIN (SELECT UNNEST(range({_SIMHASH_CHUNKS})) AS chunk_id) c
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sim_a, y.simhash AS sim_b
      FROM chunks x JOIN chunks y
        ON x.chunk_id = y.chunk_id AND x.chunk_val = y.chunk_val
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """


def _simhash_pairs(spark: SparkSession, sf_dir: str, h_sql: str) -> DataFrame:
    """Shared SimHash topology: token -> 60-bit hash (``h_sql``, a SQL
    expression over column ``tok``) -> per-bit +/-1 sums -> sign signature
    -> 15-bit chunk blocking (pigeonhole for Hamming distance <= 3) ->
    exact popcount filter. The two registered variants differ only in the
    token-hash kernel.

    The 60-way bit-sum aggregate and the 60-term signature are built as
    single SQL strings parsed JVM-side: constructing them as nested Column
    trees cost 2-5 s of py4j round-trips + Catalyst analysis per plan
    build at this width (measured round 4; same class of fix as the
    round-2 unrolled-F.expr dot product)."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_TOKS()).alias("tok"))
    h = tok.select("doc_id", F.expr(h_sql).alias("h"))
    # shiftright() function form, not the ``>>`` operator: inside array(...)
    # the lexer resolves ``>>`` as the ARRAY<...>> type-closing token and
    # raises PARSE_SYNTAX_ERROR.
    bit_sum_arr = ", ".join(
        f"sum(case when shiftright(h, {b}) & 1 = 1 then 1 else -1 end)"
        for b in range(_SIMHASH_BITS)
    )
    bit_sums = h.groupBy("doc_id").agg(F.expr(f"array({bit_sum_arr})").alias("bsum"))
    sig_sql = " + ".join(
        f"(case when bsum[{b}] > 0 then cast({1 << b} as bigint) else cast(0 as bigint) end)"
        for b in range(_SIMHASH_BITS)
    )
    sim = bit_sums.select("doc_id", F.expr(sig_sql).alias("simhash"))
    width = _SIMHASH_BITS // _SIMHASH_CHUNKS
    chunk_arr = ", ".join(
        f"shiftrightunsigned(simhash, {width * c}) & {(1 << width) - 1}"
        for c in range(_SIMHASH_CHUNKS)
    )
    # The chunked signature table is a per-(session, sf, kernel) substrate
    # (the signature build — token explode + 60-way bit sums — dominates
    # both variants; like the banded MinHash index it is the table a
    # production run persists once per snapshot).
    chunks = session_cache_get(
        spark,
        sf_dir,
        f"dedup.simhash_chunks::{h_sql}",
        lambda: sim.select(
            "doc_id",
            "simhash",
            F.posexplode(F.expr(f"array({chunk_arr})")).alias("chunk_id", "chunk_val"),
        ).localCheckpoint(),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_id", "chunk_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@query("x_dedup_simhash", oracle=_simhash_oracle())
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, cross-engine-checkable kernel: the token hash is
    the first 15 hex chars of md5 (60 bits, BIGINT-safe) so DuckDB
    reproduces the signature bit-for-bit and the whole pipeline
    hash-checks end-to-end."""
    return _simhash_pairs(
        spark,
        sf_dir,
        h_sql="cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)",
    )


@query("x_dedup_simhash_xxh")  # rows-only: xxhash64 has no DuckDB twin
def x_dedup_simhash_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, production kernel: xxhash64 shifted to the same
    60-bit width (no md5 string building, no hex->decimal conversion —
    one JVM-native hash per token; measured ~16% faster end-to-end at
    sf0.1, where the 60-way bit-sum aggregate, not the hash, dominates —
    the md5 savings grow with tokens/doc). Topology identical to
    x_dedup_simhash, which carries the cross-engine correctness evidence;
    tests assert kernel agreement on recovered pairs."""
    return _simhash_pairs(
        spark,
        sf_dir,
        h_sql=f"shiftrightunsigned(xxhash64(tok), {64 - _SIMHASH_BITS})",
    )


# The (doc_id, shingle) inverted index is the shared substrate of every
# shingle-based operator (Jaccard, MinHash banding, contamination scan) —
# materialize it once per (session, sf) instead of re-exploding the corpus
# per query. At 100 TB this is the index a pipeline writes to parquet once
# per snapshot; localCheckpoint is the in-session equivalent.
def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached distinct word-trigram index over the documents table."""
    return session_cache_get(
        spark,
        sf_dir,
        "dedup.shingles",
        lambda: _shingles(T(spark, sf_dir, "documents"), 3).localCheckpoint(),
    )


# Shared pair-engine statistics over the corpus shingle index: the
# (shingle, df) vocabulary table and the thin per-doc stats row (set size +
# bounded hot-shingle array) are IDENTICAL inputs to both measures of the
# pair engine (_pairs_from): Jaccard — the session pair list behind
# x_dedup_near_jaccard / x_dedup_prefix_filter_join / the graph tier — and
# containment (x_dedup_containment). Two consumers of one
# artifact = the house rule for a session-cached substrate: build both
# tables once per (applicationId, sf_dir) — at 100 TB these are the
# vocabulary/doc-stats sidecars a dedup pipeline persists beside the
# inverted index, rebuilt per snapshot, not per query.
def _build_pair_stats(sh: DataFrame, hot_df: int) -> tuple[DataFrame, DataFrame]:
    """(dfreq, doc_stats) for one (doc_id, shingle) table and hot cap:
    dfreq = per-shingle document frequency (vocab-sized, broadcastable);
    doc_stats = one thin row per doc — shingle-set size + the sorted array
    of its hot (df > hot_df) shingles, bounded by construction (the hot
    vocabulary has at most postings/hot_df entries). collect_set skips the
    NULL the when() emits for cold shingles, so hot_sh is [] (never NULL)
    for boilerplate-free docs. Both localCheckpointed: every downstream
    broadcast / array join / feasibility probe reuses the materialized
    rows instead of re-running the two posting-stream shuffles."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df")).localCheckpoint()
    doc_stats = (
        sh.join(F.broadcast(dfreq), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("sz"),
            F.sort_array(
                F.collect_set(F.when(F.col("df") > hot_df, F.col("shingle")))
            ).alias("hot_sh"),
        )
        .localCheckpoint()
    )
    return dfreq, doc_stats


def doc_pair_stats(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-cached (dfreq, doc_stats) over doc_shingles at the deployed
    hot cap (_HOT_DF) — the substrate shared by the Jaccard and
    containment measures of _pairs_from."""
    return session_cache_get(
        spark,
        sf_dir,
        "dedup.pair_stats",
        lambda: _build_pair_stats(doc_shingles(spark, sf_dir), _HOT_DF),
    )

# Recursive-closure CTE prefix shared by the components query and the
# canonical-keeper query built on top of it.
_COMPONENTS_CTES = """
    WITH RECURSIVE pairs AS (
      WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
               i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
        FROM toks WHERE len(l) >= 3
      ),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id JOIN sizes sb ON i.doc_b = sb.doc_id
      WHERE CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) >= 0.35
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS component_id FROM walk GROUP BY node)
"""

_COMPONENTS_ORACLE = _COMPONENTS_CTES + """
    SELECT c.doc_id, c.component_id, s.component_size
    FROM comp c
    JOIN (SELECT component_id, COUNT(*) AS component_size FROM comp
          GROUP BY component_id) s USING (component_id)
"""


@query("x_dedup_components", oracle=_COMPONENTS_ORACLE)
def x_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the step that
    turns pairwise matches into dedup clusters (keep component_id, drop
    the rest). Iterative min-label propagation: each round every node
    takes the min label among itself and its neighbors; converges in
    O(graph diameter) rounds. Each round is one distributed join+groupBy;
    ``localCheckpoint`` cuts the lineage so plans stay O(1) per round (at
    100 TB this is the alternating large/small-star pattern; diameters of
    near-dup clusters are tiny). The DuckDB oracle computes the same
    closure with a recursive CTE — exact match.

    Scale shape per round (the LPA one-exchange pattern, transferred in
    round 11): the edge list is exchanged by ``a`` ONCE up front
    (repartition + localCheckpoint preserves the partitioning across
    rounds), so each round only the THIN (node, label) side shuffles
    into the join; the union of propagated + current labels is then
    repartitioned by node once and the min-label aggregate runs
    exchange-free on top (HashPartitioning on the grouping key
    satisfies the clustering requirement). Same-session A/B at sf1:
    see BASELINE.md round-11 anchors.

    The converged (doc_id, component_id) table is cached per (session, sf)
    — downstream consumers (x_dedup_canonical) reuse the materialized
    clusters instead of re-running the iteration, exactly as a production
    pipeline materializes the cluster table once per corpus snapshot."""

    def build() -> DataFrame:
        pairs = x_dedup_near_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        edges = (
            fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .repartition("a")
            .localCheckpoint()
        )
        labels = (
            edges.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
        ).localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        max_rounds = 50
        for rounds in range(1, max_rounds + 1):
            prop = edges.join(
                labels.select(F.col("node").alias("a"), "label"), "a"
            ).select(F.col("b").alias("node"), "label")
            labels = (
                labels.unionByName(prop)
                .repartition("node")
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            ).localCheckpoint()
            new_sum = labels.agg(F.sum("label")).collect()[0][0]
            if new_sum == cur_sum:  # min-labels are monotone; equal sum = fixpoint
                break
            cur_sum = new_sum
        else:  # never silently return split components on a deep chain graph
            raise RuntimeError(
                f"component propagation did not converge in {max_rounds} rounds "
                "(graph diameter exceeds the bound; raise max_rounds or switch "
                "to large/small-star doubling)"
            )
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("component_id")
        ).localCheckpoint()

    comp = session_cache_get(spark, sf_dir, "dedup.components", build)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("component_size"))
    return comp.join(sizes, "component_id").select("doc_id", "component_id", "component_size")


@query(
    "x_dedup_canonical",
    oracle=_COMPONENTS_CTES + """
    , docs AS (SELECT doc_id, n_chars FROM documents),
    clustered AS (
      SELECT c.doc_id, c.component_id, d.n_chars
      FROM comp c JOIN docs d USING (doc_id)
    ),
    keepers AS (
      SELECT component_id, doc_id AS keeper_id FROM (
        SELECT component_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY component_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM clustered
      ) WHERE rn = 1
    )
    SELECT cl.doc_id, k.keeper_id, cl.doc_id = k.keeper_id AS is_keeper
    FROM clustered cl JOIN keepers k USING (component_id)
    UNION ALL
    SELECT d.doc_id, d.doc_id AS keeper_id, TRUE AS is_keeper
    FROM docs d WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
    """,
)
def x_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the decision step that turns near-dup
    clusters into a dedup verdict for EVERY corpus document: within each
    cluster keep the longest version (n_chars desc, doc_id tiebreak);
    documents in no cluster keep themselves. Output (doc_id, keeper_id,
    is_keeper) is the full filter a downstream pipeline applies.

    Scale: components + one window over cluster members (cluster-local) +
    an anti-join for singletons — nothing touches pairs beyond the shared
    component computation."""
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = x_dedup_components(spark, sf_dir).select("doc_id", "component_id")
    # ONE left join + ONE window replaces the old keeper-window + join-back
    # + anti-join + union (guide §2.4): singleton docs get a synthetic
    # per-doc partition key ("s:<doc_id>", disjoint from the "c:" cluster
    # namespace), so each is its own window partition and keeps itself —
    # no skewed all-NULL partition, no second consumption of the
    # components subtree. first(doc_id) over the (n_chars DESC, doc_id)
    # order is exactly the old ROW_NUMBER()=1 keeper.
    joined = d.join(comp, "doc_id", "left")
    wkey = F.coalesce(
        F.concat(F.lit("c:"), F.col("component_id").cast("string")),
        F.concat(F.lit("s:"), F.col("doc_id").cast("string")),
    )
    w = Window.partitionBy(wkey).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return joined.select(
        "doc_id",
        F.first("doc_id").over(w).alias("keeper_id"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_keeper"),
    )


@query(
    "x_dedup_fuzzy_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (SELECT p_name, string_split(p_name, ' ')[2] AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def x_dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching with blocking: candidate pairs share a block
    key (here the head noun of the name), then exact Levenshtein filters —
    the entity-resolution shape for catalog/author/domain dedup. Pairs are
    generated per block, never all-pairs; at scale the block key is the
    shuffle key and skewed blocks salt exactly like any skewed join.
    Both engines compute the same textbook edit distance."""
    names = T(spark, sf_dir, "part").select("p_name").distinct()
    keyed = names.select("p_name", F.split(F.col("p_name"), " ")[1].alias("blk"))
    a = keyed.select(F.col("p_name").alias("name_a"), "blk")
    b = keyed.select(F.col("p_name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", "edit_dist")
    )


@query(
    "x_dedup_repeated_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    ),
    hot AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) >= 5
    )
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           ROUND(SUM(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hot_frac
    FROM sh s LEFT JOIN hot h ON s.shingle = h.shingle
    GROUP BY s.doc_id
    HAVING CAST(SUM(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) > 0
    """,
)
def x_dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated n-gram coverage (#60 cont.): the fraction of
    each doc's 3-gram shingles that appear in >= 5 distinct docs — the
    span-level memorization/boilerplate signal behind "deduplicating
    training data" span removal (repeated navigation chrome, license
    headers, templated text). Docs with zero hot shingles are dropped.

    Shape: the cached shingle inverted index -> one groupBy to find hot
    shingles (a table that only holds shingles crossing the threshold,
    tiny vs the corpus) -> semi-ish left join marking membership -> per-doc
    ratio. The hot table is the only state shared across docs, and it
    shrinks as the threshold rises — at 100 TB it stays broadcastable for
    any threshold that means 'boilerplate'."""
    sh = doc_shingles(spark, sf_dir)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 5)
        .select("shingle", F.lit(True).alias("is_hot"))
    )
    marked = sh.join(F.broadcast(hot), "shingle", "left")
    hot_cnt = F.sum(F.when(F.col("is_hot"), 1).otherwise(0))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            hot_cnt.alias("n_hot"),
            F.round(hot_cnt.cast("double") / F.count("*").cast("double"), 6).alias("hot_frac"),
        )
        .filter(F.col("n_hot") > 0)
    )


@query(
    "x_dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.isect AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment,
           CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.isect AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.8
    """,
)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup (#60 cont.): |A∩B| / min(|A|,|B|) >= 0.8 —
    the asymmetric overlap measure that catches a document EMBEDDED in a
    larger one (quote inclusion, article + wrapper page, excerpt reuse),
    which symmetric Jaccard structurally misses: a 100-shingle doc inside
    a 1000-shingle doc has containment 1.0 but Jaccard 0.1. Both metrics
    are emitted so the gap is visible per pair. Runs on the candidate-free
    hot/cold split pair engine (_pairs_from, measure "containment") with
    the containment feasibility bound isect >= 0.8 * min(sz): the
    boilerplate-shingle df^2 term never enters the match stream (see
    _pairs_from for the proof and the measured 100x numbers). Bit-equality
    with the naive self-join is asserted in tests/test_dedup_pairs.py plus
    the DuckDB oracle check. The (dfreq, doc_stats) build
    rides the session substrate shared with the Jaccard measure
    (doc_pair_stats) — the per-call work is the cold match stream +
    survivor rescore only."""
    return _pairs_from(
        doc_shingles(spark, sf_dir), "containment", stats=doc_pair_stats(spark, sf_dir)
    )


def _naive_containment_from(sh: DataFrame) -> DataFrame:
    """Naive full-inverted-index containment: the equivalence oracle for
    _pairs_from(sh, "containment") (quadratic in hot-shingle df — off the
    query path)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "containment",
            F.col("isect").cast("double") / F.least("sz_a", "sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("isect").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("isect")),
        )
        .filter(F.col("containment") >= 0.8)
    )
    return out.select("doc_a", "doc_b", "containment", "jaccard")


_URL_RAW_TPL = """
      (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
      || '://' ||
      (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
      || '.Example.COM/page/' || CAST(doc_id % 50 AS {STR}) ||
      (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&utm_campaign=y' ELSE '' END) ||
      (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
"""
_URL_RAW_SQL = _URL_RAW_TPL.format(STR="VARCHAR")  # DuckDB oracle spelling


@query(
    "x_dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               url, '#.*$', ''), '[?]utm_[^#]*', ''), '/$', ''),
               '^http://', 'https://')) AS curl
      FROM raw
    )
    SELECT curl, COUNT(*) AS n_variants, MIN(doc_id) AS first_doc
    FROM canon GROUP BY curl
    """,
)
def x_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalized dedup (#59 cont.): the web-crawl dedup that runs
    BEFORE any content hashing — scheme upgrade, host case fold,
    tracking-parameter (utm_*) strip, fragment strip, trailing-slash
    normalization — then groups page variants under one canonical URL
    with a keep-first representative.

    The synthesized raw URLs encode five orthogonal noise axes off
    doc_id so every rule is exercised; canonicalization is a fixed
    regexp_replace chain (POSIX-simple patterns, identical both engines;
    this corpus' paths are already lowercase, so the final case fold is
    host-safe — production folds scheme+host only). Map-side projection
    + one groupBy on the canonical key: the shuffle carries canonical
    URLs, and cardinality drops by the variant factor before any
    downstream content dedup runs."""
    d = T(spark, sf_dir, "documents")
    raw = d.selectExpr("doc_id", f"{_URL_RAW_TPL.format(STR='STRING')} AS url")
    curl = F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("url"), r"#.*$", ""),
                    r"[?]utm_[^#]*",
                    "",
                ),
                r"/$",
                "",
            ),
            r"^http://",
            "https://",
        )
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(F.count("*").alias("n_variants"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "x_dedup_prefix_filter_join",
    oracle="""
    WITH toksl AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toksl WHERE len(l) >= 3
    ),
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rn,
             COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN df d USING (shingle)
    ),
    prefix AS (
      SELECT doc_id, shingle, sz FROM ranked
      WHERE rn <= sz - ((35 * sz + 99) // 100) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND 100 * b.sz >= 35 * a.sz AND 100 * a.sz >= 35 * b.sz
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS isect
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.doc_a
      JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) >= 0.35
    """,
)
def x_dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (#60 cont.), the
    AllPairs/PPJoin candidate bound over the shingle sets: order each
    doc's shingles by ascending document frequency and index only the
    first |d| - ceil(t*|d|) + 1 of them (t = 0.35) — any pair with
    shingle-set Jaccard >= t MUST share a prefix shingle (pigeonhole on
    the rarest ones), so recall is exactly 1 while the hottest shingles
    never generate candidate pairs. Same threshold as
    x_dedup_near_jaccard, so the output is IDENTICAL by construction
    (tested) — the deterministic third candidate-generation strategy
    beside the full inverted index (more candidates) and banded MinHash
    (probabilistic recall).

    The prefix bound matters exactly where the full index degenerates: a
    boilerplate shingle shared by every doc generates O(n^2) candidate
    pairs in a naive inverted index but lands in NO prefix (highest df =
    last rank), so the candidate join never sees it. The VERIFY stage
    needs the same protection — counting intersections through the full
    match stream re-imports the df^2 term the prefixes avoided (measured
    on the 100x replica: 343 boilerplate trigrams were 55% of a 618M-row
    match stream, growing quadratically while everything else grew
    linearly) — so it splits on _HOT_DF: cold shingles count through the
    candidate-semi-joined match stream, hot shingles ride as bounded
    per-doc arrays intersected per candidate pair. The split partitions
    the vocabulary, so cold count + hot count is the exact intersection.
    Prefix filtering presumes a heavy-tailed vocabulary: on TOKEN sets
    over this corpus's ~30-word vocab every 'rare' token still hits half
    the docs and candidates go quadratic (measured 30 s before this
    shingle formulation: blocking keys must be selective, whatever the
    algorithm).

    COST-MODEL NOTE: the registered row returns the shared session-cached
    pair list (x_dedup_near_jaccard's candidate-free _pairs_from engine)
    — at t = 0.35 the prefix bound keeps 52M of 52M cold-sharing pairs
    (measured, 100x replica), so the candidate join is pure overhead at
    this threshold and the default plan for a production-named operator
    must be the 100 TB-safe one. The PPJoin candidate plan survives only
    as this query's DuckDB oracle above; the engine's bit-equality with
    the naive self-join is asserted in tests/test_dedup_pairs.py."""
    return x_dedup_near_jaccard(spark, sf_dir)


@query(
    "x_dedup_threshold_histogram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
      SELECT CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect) AS jac
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    )
    SELECT LEAST(CAST(FLOOR(jac * 10) AS BIGINT), 9) AS jaccard_band,
           COUNT(*) AS n_pairs,
           MIN(jac) AS min_jaccard,
           MAX(jac) AS max_jaccard
    FROM j GROUP BY 1
    """,
)
def x_dedup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold tuning curve (#60 cont.): the full pairwise
    Jaccard distribution over shingle-sharing pairs, bucketed into ten
    bands — what an engineer reads BEFORE choosing the dedup threshold
    (and the MinHash band/row parameters that approximate it): a bimodal
    histogram means a safe threshold exists in the valley; a smooth
    decay means every threshold trades recall for precision.

    Reuses the cached shingle substrate and the near_jaccard match-
    stream shape with the threshold filter REMOVED (the whole point);
    the result is 10 rows regardless of corpus size, and at 100 TB the
    same curve is computed on the md5-band sample (agg_sampled_estimate)
    rather than every pair.

    Per-doc sizes ride the shared pair-stats substrate (doc_pair_stats
    — this is its third consumer; doc_stats.sz IS the distinct-shingle
    count, bit-equal by construction and A/B-verified), so the per-call
    work is the match stream + band aggregation only."""
    sh = doc_shingles(spark, sf_dir)
    _, doc_stats = doc_pair_stats(spark, sf_dir)
    sizes = doc_stats.select("doc_id", "sz")
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            (
                F.col("isect").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("isect"))
            ).alias("jac")
        )
    )
    return jac.groupBy(
        F.least(F.floor(F.col("jac") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
            "jaccard_band"
        )
    ).agg(
        F.count("*").alias("n_pairs"),
        F.min("jac").alias("min_jaccard"),
        F.max("jac").alias("max_jaccard"),
    )


def _ensure_bucketed_bands(spark: SparkSession, sf_dir: str) -> str:
    """Write the banded MinHash signature index as a bucketed table (once
    per sf/session), hash-bucketed AND sorted on band_sig — the persisted
    form of the dedup substrate a 100 TB pipeline maintains between runs."""
    import os

    from ..operators.physical import _clear_stale_location

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tname = f"minhash_bands_bkt_{tag}"
    if not spark.catalog.tableExists(tname):
        _clear_stale_location(spark, tname)
        sh = doc_shingles(spark, sf_dir)
        h_col = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")
        bands = _minhash_bands(
            sh,
            h_col,
            lambda cols: F.md5(F.concat_ws("|", *[c.cast("string") for c in cols])),
        )
        # ONE combined bucket key: Spark only treats bucketed sides as
        # co-partitioned when the bucket columns cover ALL join keys
        # (spark.sql.requireAllClusterKeysForCoPartition defaults true),
        # so a (band, band_sig) join over a band_sig-bucketed table still
        # exchanges. (band || '|' || sig) is equivalent as a join key and
        # makes the bucketing cover it exactly.
        keyed = bands.select(
            "doc_id",
            F.concat_ws("|", F.col("band").cast("string"), "band_sig").alias(
                "bucket_key"
            ),
        )
        (
            keyed.write.bucketBy(8, "bucket_key")
            .sortBy("bucket_key")
            .mode("overwrite")
            .saveAsTable(tname)
        )
    return tname


@query("join_bucketed_dedup_verify", oracle=_minhash_oracle())
def join_bucketed_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate generation over a BUCKETED signature table —
    the zero-Exchange variant of x_dedup_minhash_lsh's heaviest shuffle.

    The banded index self-join on (band, band_sig) is THE dominant
    exchange of a petabyte dedup run (every doc's every band rides it).
    Persisting the index bucketed+sorted on band_sig makes that self-join
    Exchange-free: HashPartitioning(band_sig) satisfies the join's
    clustered distribution on (band, band_sig) because the partitioning
    keys are a subset of the join keys, so each task sort-merges one
    bucket file against itself (plan-asserted: no Exchange under the
    candidate join). Same oracle as x_dedup_minhash_lsh — layout is an
    execution detail, the result hash-checks identically."""
    tname = _ensure_bucketed_bands(spark, sf_dir)
    bands = spark.table(tname)
    cand = (
        bands.alias("x")
        .hint("merge")
        .join(bands.alias("y").hint("merge"), ["bucket_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    _, doc_stats = doc_pair_stats(spark, sf_dir)
    return _verify_jaccard(
        doc_shingles(spark, sf_dir), cand, sizes=doc_stats.select("doc_id", "sz")
    )


@query(
    "x_dedup_cluster_quality_report",
    oracle=f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jp
      UNION SELECT doc_b, doc_a FROM jp
    ),
    walk(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS component_id
             FROM walk GROUP BY node),
    pair_comp AS (
      SELECT c.component_id, jp.jaccard
      FROM jp JOIN comp c ON jp.doc_a = c.doc_id
    ),
    per AS (
      SELECT component_id, COUNT(*) AS n_pairs,
             CAST(SUM(CAST(ROUND(jaccard * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS ppm,
             MIN(jaccard) AS min_jaccard
      FROM pair_comp GROUP BY component_id
    ),
    sizes AS (SELECT component_id, COUNT(*) AS component_size
              FROM comp GROUP BY component_id)
    SELECT p.component_id, s.component_size, p.n_pairs, p.min_jaccard,
           CAST(p.ppm AS DOUBLE) / (p.n_pairs * 1000000.0) AS mean_jaccard,
           CAST(p.n_pairs AS DOUBLE)
             / (s.component_size * (s.component_size - 1) / 2.0)
             AS edge_density
    FROM per p JOIN sizes s USING (component_id)
    """,
)
def x_dedup_cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster QA report — the per-snapshot audit a production
    dedup stage emits before anything is dropped: for every near-dup
    cluster, its size, how many verified pairs support it, the weakest
    supporting similarity (min Jaccard — a low value flags a chain of
    marginal matches gluing unrelated docs into one cluster), the mean
    similarity (ppm-quantized before summation, the integer-lattice
    discipline), and the edge density (1.0 = clique = high-confidence
    cluster; low density = transitive-closure artifact worth review).

    Pure composition over materialized substrates: the cached component
    table (x_dedup_components) joined with the verified pair list — two
    thin-key joins and one groupBy; the report is tiny however large the
    corpus, which is exactly why pipelines can afford to gate every
    snapshot on it."""
    jp = x_dedup_near_jaccard(spark, sf_dir)
    comp = x_dedup_components(spark, sf_dir).select("doc_id", "component_id", "component_size")
    pair_comp = jp.join(
        comp.select(F.col("doc_id").alias("doc_a"), "component_id", "component_size"),
        "doc_a",
    )
    per = pair_comp.groupBy("component_id", "component_size").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.round(F.col("jaccard") * 1000000, 0).cast("bigint"))
        .cast("bigint")
        .alias("ppm"),
        F.min("jaccard").alias("min_jaccard"),
    )
    return per.select(
        "component_id",
        "component_size",
        "n_pairs",
        "min_jaccard",
        (F.col("ppm").cast("double") / (F.col("n_pairs") * 1000000.0)).alias(
            "mean_jaccard"
        ),
        (
            F.col("n_pairs").cast("double")
            / (F.col("component_size") * (F.col("component_size") - 1) / 2.0)
        ).alias("edge_density"),
    )


# Content-defined chunking constants: gear-style rolling hash over an
# 8-char window (fixed power weights mod 2^20), boundary where the hash
# is 0 mod 64 -> expected chunk ~64 chars. Char codes come from md5 of
# the character itself, NOT from ascii()/ord() — the two engines disagree
# on non-ASCII codepoint semantics, md5 of the UTF-8 char never does.
_CDC_A = 31
_CDC_W = 8
_CDC_MOD = 1 << 20
_CDC_DIV = 64
_CDC_POWS = [pow(_CDC_A, j, _CDC_MOD) for j in range(_CDC_W)]

# Round 12 (guide §1.2 per-task work): md5(ch) depends only on the
# character, so the 255 single-codepoint values are precomputed HERE with
# the identical function (md5 over the char's UTF-8 bytes, first 4 hex
# digits) and the per-char projection indexes this constant array by
# ascii(ch) instead of running MessageDigest + hex conv per character.
# ascii() is ONLY an index on the Spark side — the VALUES stay md5-derived,
# so the engines-disagree-on-codepoints concern above does not reopen; any
# codepoint outside 1..255 falls back to the original md5 expression.
# Bit-equal chunk tables at sf0.1; 1.19 -> 0.81 s min-of-5.
_CDC_CODES = [
    int(hashlib.md5(chr(b).encode("utf-8")).hexdigest()[:4], 16) for b in range(1, 256)
]
_CDC_CODE_ARR = "array(" + ",".join(f"{v}L" for v in _CDC_CODES) + ")"


def cdc_chunk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, chunk_text) stream behind x_dedup_chunk_cdc, exposed
    so tests can assert the losslessness law: per doc, the chunks
    concatenated in order reassemble the original text exactly (chunking
    is a PARTITION of the document, not a sample of it)."""
    # Rebalance BEFORE the CPU-heavy projection: the corpus arrives as
    # one parquet split locally, and the per-char md5 work would pin a
    # single core (measured 5.9 s -> 1.2 s steady at sf0.1 from this one
    # line). At 100 TB the same rebalance evens out skewed file sizes
    # ahead of a compute-bound stage; the shuffled payload is the raw
    # text column once — cheap relative to the per-char work it unlocks.
    nparts = max(spark.sparkContext.defaultParallelism * 2, 8)
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 1)
        .repartition(nparts, "doc_id")
    )
    # Per-row array pipeline — the whole chunking runs inside ONE
    # projection (char codes -> boundary positions -> spans -> substrings
    # as nested array lambdas), so NOTHING explodes or shuffles until the
    # ~1-chunk-per-64-chars stream: no per-char rows, no window sort.
    terms = " + ".join(
        f"if(i > {j}, element_at(cs, i - {j}), 0L) * {pw}" if j
        else f"element_at(cs, i) * {pw}"
        for j, pw in enumerate(_CDC_POWS)
    )
    base = d.select(
        "doc_id",
        "text",
        F.expr(
            "transform(transform(sequence(1, length(text)),"
            " i -> substring(text, i, 1)),"
            f" ch -> if(ascii(ch) BETWEEN 1 AND 255,"
            f" element_at({_CDC_CODE_ARR}, ascii(ch)),"
            " cast(conv(substring(md5(ch), 1, 4), 16, 10) as bigint)))"
        ).alias("cs"),
    )
    bounded = base.select(
        "doc_id",
        "text",
        F.expr(
            f"filter(sequence(1, size(cs)),"
            f" i -> (({terms}) % {_CDC_MOD}) % {_CDC_DIV} = 0)"
        ).alias("bs"),
    )
    texts = bounded.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform("
                "  filter("
                "    transform(sequence(1, size(bs) + 1), k -> struct("
                "      if(k = 1, 1, element_at(bs, k - 1) + 1) AS s,"
                "      if(k <= size(bs), element_at(bs, k), length(text)) AS e)),"
                "    c -> c.s <= c.e),"
                "  c -> substring(text, c.s, c.e - c.s + 1))"
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    return texts


@query(
    "x_dedup_chunk_cdc",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
             ('0x' || substr(md5(substr(text, CAST(t.i AS INTEGER), 1)), 1, 4))::BIGINT
               AS code
      FROM documents, LATERAL (SELECT UNNEST(range(1, length(text) + 1)) AS i) t
    ),
    rolled AS (
      SELECT doc_id, pos,
             ({" + ".join(
                 f"COALESCE(LAG(code, {j}) OVER w, 0) * {p}"
                 for j, p in enumerate(_CDC_POWS)
             )}) % {_CDC_MOD} AS h
      FROM chars
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN h % {_CDC_DIV} = 0 THEN 1 ELSE 0 END AS b
      FROM rolled
    ),
    chunked AS (
      SELECT doc_id, pos,
             CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT)
               AS chunk_id
      FROM flagged
    ),
    texts AS (
      SELECT c.doc_id, c.chunk_id,
             string_agg(substr(d.text, CAST(c.pos AS INTEGER), 1), ''
                        ORDER BY c.pos) AS chunk_text
      FROM chunked c JOIN documents d ON c.doc_id = d.doc_id
      GROUP BY c.doc_id, c.chunk_id
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(MAX(length(chunk_text)) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM texts
    GROUP BY md5(chunk_text)
    HAVING COUNT(*) >= 2 AND COUNT(DISTINCT doc_id) >= 2
    """,
)
def x_dedup_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (#60 cont.) — the storage-system
    dedup primitive (LBFS/Venti lineage) applied to corpus text: a
    rolling hash over a short char window cuts each document into
    variable-size chunks at CONTENT-determined boundaries, so two
    near-duplicate documents chunk identically inside their shared
    substrings regardless of insertions elsewhere (a fixed-size grid
    would lose alignment after one edit). Duplicated chunks across
    documents are the partial-overlap signal n-gram Jaccard smooths
    away: verified non-vacuous on this corpus (~300 cross-doc duplicate
    chunks at sf0.01).

    Scale shape: the ENTIRE chunker — char codes, 8-term rolling hash,
    boundary detection, span algebra, substring extraction — is nested
    array lambdas inside ONE map-side projection per document (no UDF,
    no per-char row explosion, no window sort, no join): two earlier
    forms that exploded chars into rows and windowed over them measured
    ~5-6 s at sf0.1; this form plus an upfront rebalance runs ~1.2 s
    steady. Only the ~1-chunk-per-64-chars stream ever leaves the row,
    already reduced to md5 keys, so the cross-corpus shuffle carries
    32-byte hashes, never text."""
    texts = cdc_chunk_stream(spark, sf_dir)
    return (
        texts.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.max(F.length("chunk_text")).cast("bigint").alias("chunk_len"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter((F.col("n_occurrences") >= 2) & (F.col("n_docs") >= 2))
    )
