"""Similarity search over embeddings (SURVEY.md §2.9 #61-62).

Determinism: cosine is computed as a left-to-right double fold over the
vector (Spark ``F.aggregate`` == DuckDB ``list_reduce`` order), then one
divide over two correctly-rounded sqrts — bit-identical across engines.

Scale shapes:
- brute force is the correctness baseline (and is itself partition-
  parallel: the corpus side is broadcast when it fits);
- random-hyperplane LSH buckets candidates: probes touch only colliding
  buckets — the 100 TB ANN path;
- IVF: coarse-quantize the corpus by nearest centroid, probe the closest
  nprobe lists only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.tables import T, session_cache_get

# -- shared cosine machinery (fold order matches DuckDB list_reduce) -----
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# -- fast path: unrolled fixed-dimension expressions ---------------------
#
# Higher-order functions (aggregate/transform) are CodegenFallback in
# Spark: the lambda is interpreted per element, which made the all-pairs
# query ~30x slower than necessary. For the known corpus dimensionality we
# unroll the fold into a flat chain of products/adds that whole-stage
# codegen compiles; array getItem inside a hot join is a further ~10x
# slower than flat scalar columns (measured: 39s -> 4s at sf0.1), so the
# pairwise operators project the vector into DIM double columns before
# joining. The unrolled trees are built as SINGLE SQL strings through
# F.expr, not per-term Column operators: 127 py4j round-trips per dot
# product cost ~0.3 s of pure plan-construction latency per call (parsing
# the equivalent string is ~1000x cheaper). SQL + is left-associative, so
# the add order still matches DuckDB's list_reduce (((t0+t1)+t2)+...) and
# results stay bit-deterministic.

DIM = 64  # corpus embedding dimensionality (all scale factors)


def flat_emb(e: DataFrame, id_alias: str, prefix: str, dim: int = DIM) -> DataFrame:
    """(id, <prefix>0..<prefix>{dim-1}, <prefix>norm) projection."""
    cols = [
        F.expr(f"CAST(embedding[{i}] AS DOUBLE) AS {prefix}{i}") for i in range(dim)
    ]
    sq = " + ".join(f"{prefix}{i} * {prefix}{i}" for i in range(dim))
    return e.select(F.col("vec_id").alias(id_alias), *cols).withColumn(
        f"{prefix}norm", F.expr(f"SQRT({sq})")
    )


def dot_flat(pa: str, pb: str, dim: int = DIM) -> Column:
    """Left-fold dot over flat columns — same add order as the oracle."""
    return F.expr(" + ".join(f"{pa}{i} * {pb}{i}" for i in range(dim)))


def _parallelize(df: DataFrame) -> DataFrame:
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# The flat (neighbor_id, c0..c63, cnorm) corpus projection is the shared
# substrate of every corpus-vs-query operator (exact KNN, both LSH paths,
# both IVF paths): 64 getItem casts + a norm per vector, re-derived from
# parquet on every call before this cache existed. Materialized once per
# (session, sf) via localCheckpoint — the in-session equivalent of the
# flattened projection table a production pipeline writes next to the
# embedding parquet.
def flat_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = T(spark, sf_dir, "embeddings")
        return _parallelize(
            flat_emb(e.filter(F.col("vec_id") >= 20), "neighbor_id", "c")
        ).localCheckpoint()

    return session_cache_get(spark, sf_dir, "sim.flat_corpus", build)


# DuckDB twin of the fold above. list_reduce has no init; the implicit
# first-element init equals Spark's 0.0+x first step for addition.
_SQL_DOT = (
    "list_reduce(list_transform(range(len({a})),"
    " i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)), (x, y) -> x + y)"
)
_SQL_NORM = (
    "SQRT(list_reduce(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)})"
        f" / (({_SQL_NORM.format(a=a)}) * ({_SQL_NORM.format(a=b)}))"
    )


@query(
    "x_sim_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 200 AND b.vec_id < 200
      AND {_sql_cosine('a.embedding', 'b.embedding')} > 0.2
    """,
)
def x_sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine (#61) on a bounded slice (all unordered pairs
    of the first 200 vectors), thresholded."""
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = _parallelize(flat_emb(e, "vec_a", "a"))
    b = flat_emb(e, "vec_b", "b")
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    cos = dot_flat("a", "b") / (F.col("anorm") * F.col("bnorm"))
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") > 0.2)
        .select("vec_a", "vec_b", "cos_sim")
    )


@query(
    "x_sim_topk_knn",
    oracle=f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'c.embedding')} AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
             ) AS rn
      FROM embeddings q JOIN embeddings c ON c.vec_id >= 20
      WHERE q.vec_id < 20
    ) WHERE rn <= 5
    """,
)
def x_sim_topk_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k nearest neighbors (#62): 20 query vectors vs the
    rest of the corpus; window top-5 with id tiebreak. The corpus scan is
    a broadcast of the (tiny) query side against every corpus partition —
    embarrassingly parallel at any corpus size."""
    e = T(spark, sf_dir, "embeddings")
    q = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    c = flat_corpus(spark, sf_dir)
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


# Multi-table random-hyperplane LSH: L tables of k sign-bits each. A
# candidate pair needs ALL k bits equal in at least ONE table — the
# standard amplification that trades candidate-set size for recall. For a
# structureless gaussian corpus (our worst case), k=6/L=8 keeps the
# per-query candidate set at ~12% of the corpus while retaining useful
# recall on the moderately-similar top neighbors.
_L_TABLES = 8
_K_PLANES = 6


def _hyperplanes(n_planes: int, dim: int = DIM) -> list[list[float]]:
    """Deterministic gaussian hyperplanes, generated driver-side once and
    baked into the plan as literals (the 'stored model' is n*64 doubles —
    nothing to ship to executors beyond the task binary). A seeded
    Box-Muller over a 64-bit LCG keeps this dependency-free and identical
    across runs/engines."""
    import math

    state = 0x2545F4914F6CDD1D
    planes: list[list[float]] = []

    def lcg() -> float:  # uniform in (0, 1)
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return ((state >> 11) + 1) / float(1 << 53)

    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            u1, u2 = lcg(), lcg()
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def _lsh_codes(e: DataFrame, id_col: str) -> DataFrame:
    """(id, tbl, code) — one k-bit bucket code per hash table per vector.

    The projection is a dense (batch x dim) @ (dim x L*k) matmul — exactly
    the shape Arrow-batched numpy is built for, so this runs as
    ``mapInPandas`` (one BLAS call per batch) instead of a Catalyst
    expression tree. The expression-tree alternatives were measured and
    rejected: per-element higher-order functions are interpreted
    (CodegenFallback), and a 48x64-term literal tree stalls the driver for
    tens of seconds inside Janino. Sign-bucketing needs no cross-engine
    float determinism (rows-only op), so the BLAS summation order is fine."""
    import numpy as np
    import pandas as pd

    planes = _hyperplanes(_L_TABLES * _K_PLANES)
    h_t = np.array(planes, dtype=np.float64).T  # dim x (L*k)
    weights = (1 << np.arange(_K_PLANES, dtype=np.int64))

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            bits = (emb @ h_t) > 0  # n x (L*k)
            codes = bits.reshape(n, _L_TABLES, _K_PLANES) @ weights  # n x L
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), _L_TABLES),
                    "tbl": np.tile(np.arange(_L_TABLES), n),
                    "code": codes.reshape(-1).astype(np.int64),
                }
            )

    # Parallelism follows the input partitioning: at toy scale the single
    # parquet file arrives as 1-2 fat partitions (one BLAS call each, no
    # Python-worker fan-out), at 100 TB it arrives as thousands of file
    # splits and the signature stage scales out with them. Round 1 had a
    # hard `.coalesce(4)` here — coalesce only ever REDUCES partition
    # count, so that capped the stage at 4 tasks at ANY corpus size.
    return e.select(F.col(id_col), "embedding").mapInPandas(
        gen, schema=f"{id_col} long, tbl int, code long"
    )


# Corpus-side LSH code table: the persisted bucket index of a real LSH
# deployment (encode once per corpus snapshot, probe forever). Cached per
# (session, sf) like flat_corpus/_lsh_buckets — only the 20 query
# vectors' codes are computed per call.
def _lsh_corpus_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = T(spark, sf_dir, "embeddings")
        c_raw = e.filter(F.col("vec_id") >= 20).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
        return _lsh_codes(c_raw, "neighbor_id").localCheckpoint()

    return session_cache_get(spark, sf_dir, "sim.lsh_codes", build)


@query("x_sim_ann_lsh")  # rows-only: random hyperplanes are engine-specific
def x_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH (#62 scale path): vectors
    bucket by k-bit sign codes in L tables; a query rescores exactly only
    the candidates colliding in >=1 table. Candidate generation is a thin
    (query_id, neighbor_id) join — the 64-dim vectors never ride through
    the bucket shuffle. Tests measure overlap vs x_sim_topk_knn."""
    e = T(spark, sf_dir, "embeddings")
    q_raw = e.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    qf = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    cf = flat_corpus(spark, sf_dir)
    cand = (
        _lsh_corpus_codes(spark, sf_dir)
        .join(F.broadcast(_lsh_codes(q_raw, "query_id")), ["tbl", "code"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cf.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .withColumn("cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


_N_CENTROIDS_MOD = 25  # MINIMUM centroid stride (floor for tiny corpora)
_NPROBE = 8  # random (clusterless) corpora are IVF's worst case; probe wide

# Data-dependent centroid stride: nlist ~ sqrt(N), the standard IVF
# sizing. A FIXED stride makes the centroid count grow linearly with the
# corpus, so nearest-centroid assignment costs O(N^2 / stride) — measured
# as the 100x replica's 166-172 s ANN outliers (200k vectors x 8000
# centroids = 1.6B cosines). stride = max(25, N // ceil(sqrt(N))) keeps
# nlist ~ sqrt(N) (assignment ~ N^1.5, the IVF contract), reduces to the
# historical constant 25 at every driver-gate SF (N <= 2000 at sf0.1 has
# stride 25/44 — sf0.001/0.01 unchanged), and is integer-exact in both
# engines: ceil(sqrt) of a BIGINT is reproducible (IEEE sqrt is correctly
# rounded; math.isqrt on the Python side avoids float entirely).

# GREATEST(..., 1) guards the empty-table divisor (CEIL(SQRT(0)) = 0), for
# parity with the Python n == 0 branch below.
_STRIDE_SQL = (
    "(SELECT GREATEST(25, COUNT(*) // "
    "GREATEST(CAST(CEIL(SQRT(COUNT(*) * 1.0)) AS BIGINT), 1)) "
    "FROM embeddings)"
)


def _centroid_stride(spark: SparkSession, sf_dir: str) -> int:
    import math

    def build() -> int:
        n = T(spark, sf_dir, "embeddings").count()
        r = math.isqrt(n - 1) + 1 if n > 0 else 1  # = ceil(sqrt(n))
        return max(_N_CENTROIDS_MOD, n // r)

    return session_cache_get(spark, sf_dir, "sim.strides", build)


def _ivf_oracle() -> str:
    """DuckDB mirror of the seed-centroid IVF path: same cosine fold, same
    argmax/probe tie-breaks. The pipeline is approximate relative to exact
    KNN but fully deterministic, so it hash-checks like any other query."""
    cos_ct = _sql_cosine("c.embedding", "t.cemb")
    cos_qt = _sql_cosine("q.qemb", "t.cemb")
    cos_qc = _sql_cosine("q.qemb", "co.embedding")
    return f"""
    WITH corpus AS (
      SELECT vec_id AS neighbor_id, embedding FROM embeddings WHERE vec_id >= 20
    ),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS cemb FROM embeddings
      WHERE vec_id % {_STRIDE_SQL} = 0
    ),
    asg AS (
      SELECT neighbor_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                ORDER BY cent_sim DESC, centroid_id) AS rn
      FROM (SELECT c.neighbor_id, t.centroid_id, {cos_ct} AS cent_sim
            FROM corpus c CROSS JOIN cent t)
    ),
    assigned AS (SELECT neighbor_id, centroid_id FROM asg WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id < 20),
    pr AS (
      SELECT query_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cent_sim DESC, centroid_id) AS prn
      FROM (SELECT q.query_id, t.centroid_id, {cos_qt} AS cent_sim
            FROM q CROSS JOIN cent t)
    ),
    probes AS (SELECT query_id, centroid_id FROM pr WHERE prn <= {_NPROBE}),
    scored AS (
      SELECT p.query_id, a.neighbor_id, {cos_qc} AS cos_sim
      FROM probes p
      JOIN assigned a ON p.centroid_id = a.centroid_id
      JOIN q ON p.query_id = q.query_id
      JOIN corpus co ON a.neighbor_id = co.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """


# The flattened seed-centroid codebook (centroid_id, t0..t63, tnorm) is
# the other persisted IVF artifact: bounded at sqrt(N) rows, read by the
# assignment build and by EVERY probe-selection subtree. Before this cache
# each ann_ivf/ann_filtered call re-scanned the embeddings parquet and
# re-flattened 64 casts + a norm just to rebuild the same codebook
# (round 12, guide §6: the probes subtree alone measured 0.41 s min of a
# 1.24 s call at sf0.1). Cached per (session, sf) like flat_corpus.
def flat_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = T(spark, sf_dir, "embeddings")
        return flat_emb(
            e.filter(F.col("vec_id") % _centroid_stride(spark, sf_dir) == 0),
            "centroid_id",
            "t",
        ).localCheckpoint()

    return session_cache_get(spark, sf_dir, "sim.flat_centroids", build)


# The thin (neighbor_id, centroid_id) seed-centroid assignment is shared
# by x_sim_ann_ivf and x_sim_ann_filtered — the same inverted-list table a
# production deployment persists once and every query probes. Cached per
# (session, sf) like flat_corpus.
def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every corpus vector to its nearest seed centroid. Computed
    THIN — (vector_id, centroid_id) only via max_by with a (sim, -id)
    tiebreak — so the 65 double columns never ride through the
    aggregation shuffle. At 100 TB the inverted lists are exactly this
    thin table, partitioned by centroid_id."""

    def build() -> DataFrame:
        e = T(spark, sf_dir, "embeddings")
        cent = flat_centroids(spark, sf_dir)
        corpus = flat_corpus(spark, sf_dir)
        cent_sim = dot_flat("c", "t") / (F.col("cnorm") * F.col("tnorm"))
        return (
            corpus.crossJoin(F.broadcast(cent))
            .select("neighbor_id", "centroid_id", cent_sim.alias("cent_sim"))
            .groupBy("neighbor_id")
            .agg(
                F.max_by(
                    "centroid_id",
                    F.struct(F.col("cent_sim"), (-F.col("centroid_id")).alias("nid")),
                ).alias("centroid_id")
            )
            .localCheckpoint()
        )

    return session_cache_get(spark, sf_dir, "sim.ivf_assign", build)


@query("x_sim_ann_ivf", oracle=_ivf_oracle())
def x_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF coarse quantization (#62 scale path): corpus vectors are
    assigned to their nearest centroid (deterministic seed vectors);
    queries probe the nprobe nearest centroid lists and exact-rescore only
    those. The inverted-list partitioning is exactly how a 100 TB corpus
    would be laid out (one parquet partition per list)."""
    e = T(spark, sf_dir, "embeddings")
    cent = flat_centroids(spark, sf_dir)
    corpus = flat_corpus(spark, sf_dir)
    assigned = corpus.join(ivf_assignment(spark, sf_dir), "neighbor_id")
    # Queries pick their nprobe closest centroids.
    q = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    q_sim = dot_flat("q", "t") / (F.col("qnorm") * F.col("tnorm"))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent.select("centroid_id", *[f"t{i}" for i in range(DIM)], "tnorm")))
        .withColumn("cent_sim", q_sim)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _NPROBE)
        .select("query_id", *[f"q{i}" for i in range(DIM)], "qnorm", "centroid_id")
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id")
    scored = cand.withColumn(
        "cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


@query(
    "x_dedup_embedding_cos",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 400 AND b.vec_id < 400
      AND {_sql_cosine('a.embedding', 'b.embedding')} > 0.4
    """,
)
def x_dedup_embedding_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: unordered pairs above
    threshold, as the EXACT baseline on a bounded slice (first 400
    vectors — constant cost at every scale factor). All-pairs over the full
    corpus is O(n^2) and can never run at 100 TB; the production near-dup
    paths are the banded ones (x_dedup_minhash_lsh, x_dedup_simhash,
    x_sim_ann_ivf), which this query exists to validate against.

    Threshold 0.4, not the 0.95 a real dedup would use: this synthetic
    gaussian corpus contains no true near-dups (max pairwise cosine
    ~0.51 at sf0.01), so 0.95 returned zero rows on both engines — a
    vacuous hash-match. 0.4 sits in the corpus's top-similarity band and
    yields ~40 checked pairs at every sf."""
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    a = _parallelize(flat_emb(e, "vec_a", "a"))
    b = flat_emb(e, "vec_b", "b")
    cos = dot_flat("a", "b") / (F.col("anorm") * F.col("bnorm"))
    # Round 12 (guide §7.2 duplicated subtrees / §4.4's duplication class
    # for plain expressions): without the guard, predicate pushdown folds
    # `cos_sim > 0.4` INTO the BNLJ join condition AHEAD of the cheap
    # vec_a < vec_b prune — every ordered pair (2x the survivors) paid the
    # 64-term dot product inside the giant join condition, and the Project
    # re-evaluated it for survivors. The always-true nondeterministic
    # guard (monotonically_increasing_id() >= 0) pins the evaluation above
    # the join: the BNLJ now tests only vec_a < vec_b and each surviving
    # pair computes cos ONCE in the codegen'd projection. Bit-equal (the
    # guard never changes the value); 0.87 -> 0.50 s median at sf0.1.
    guarded = F.when(F.monotonically_increasing_id() >= 0, cos)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", guarded)
        .filter(F.col("cos_sim") > 0.4)
        .select("vec_a", "vec_b", "cos_sim")
    )


_KMEANS_ITERS = 2


def _assign_thin(corpus: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """(id, centroid_id) nearest-centroid assignment — thin max_by, no
    vector columns through the shuffle (same shape as x_sim_ann_ivf)."""
    sim = dot_flat("c", "t") / (F.col("cnorm") * F.col("tnorm"))
    return (
        corpus.crossJoin(F.broadcast(cent))
        .select(id_col, "centroid_id", sim.alias("cent_sim"))
        .groupBy(id_col)
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("cent_sim"), (-F.col("centroid_id")).alias("nid"))
            ).alias("centroid_id")
        )
    )


# Lloyd-trained centroids, cached per (session, sf): see docstring below.
@query("x_sim_ann_ivf_kmeans")  # rows-only: Lloyd means are float AVGs,
# whose value depends on partial-aggregation order — unlike the seed-
# centroid IVF above, no cross-engine bit-identical oracle exists
def x_sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with Lloyd-refined centroids (#62 scale path, trained variant):
    the seed centroids of x_sim_ann_ivf are improved with k-means
    iterations — assign (thin max_by) then recompute each centroid as the
    member mean (64 column AVGs) — before building the inverted lists.
    Each iteration is one broadcast-crossjoin + two aggregations; the
    iterative structure is exactly how MLlib's KMeans maps to DataFrames.
    Deterministic: seeded init, fixed iteration count, argmax tiebreak by
    centroid id. The TRAINED centroids are cached per (session, sf) —
    production trains once and serves many queries, so re-running the
    Lloyd rounds per query would misstate the serving cost (same
    train/serve split as the cached banded MinHash index)."""
    e = T(spark, sf_dir, "embeddings")
    # corpus feeds every Lloyd round plus the final assignment/rescore —
    # the flat projection comes from the per-(session, sf) substrate cache
    # shared with x_sim_ann_ivf/knn/lsh instead of a per-call checkpoint.
    corpus = flat_corpus(spark, sf_dir)

    def train() -> DataFrame:
        cent = flat_centroids(spark, sf_dir)
        for _ in range(_KMEANS_ITERS):
            assigned = _assign_thin(corpus, cent, "neighbor_id")
            members = corpus.join(assigned, "neighbor_id")
            means = members.groupBy("centroid_id").agg(
                *[F.avg(f"c{i}").alias(f"t{i}") for i in range(DIM)]
            )
            sq = " + ".join(f"t{i} * t{i}" for i in range(DIM))
            cent = means.withColumn("tnorm", F.expr(f"SQRT({sq})")).localCheckpoint()
        return cent

    cent = session_cache_get(spark, sf_dir, "sim.kmeans_centroids", train)
    assigned = corpus.join(_assign_thin(corpus, cent, "neighbor_id"), "neighbor_id")
    q = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    q_sim = dot_flat("q", "t") / (F.col("qnorm") * F.col("tnorm"))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_sim", q_sim)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _NPROBE)
        .select("query_id", *[f"q{i}" for i in range(DIM)], "qnorm", "centroid_id")
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").withColumn(
        "cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


# -- hyperplane LSH, cross-engine checkable variant ----------------------
#
# 4 tables x 8 signed-projection bits. Plane weights are small integer
# literals from the same fixed LCG as dedup's minhash coefficients, baked
# identically into the Spark expression strings and the DuckDB oracle, so
# both engines derive bit-identical signatures. Staged as 32 separate
# 64-term dot columns (one per plane) BEFORE bucket assembly — a single
# fused 512-term expression risks Janino's method-size cliff (README
# "codegen lessons").

_LSH_TABLES, _LSH_BITS = 4, 8


def _lsh_planes() -> list[list[list[int]]]:
    seed = 1337
    out = []
    for _ in range(_LSH_TABLES):
        tbl = []
        for _ in range(_LSH_BITS):
            row = []
            for _ in range(DIM):
                seed = (seed * 6364136223846793005 + 1442695040888963407) % 2**63
                row.append(seed % 19 - 9)
            tbl.append(row)
        out.append(tbl)
    return out


_LSH_W = _lsh_planes()


# Each plane dot is emitted as 4 parenthesized 16-term chunks, not one flat
# 64-term chain: 32 flat dots in one Project generated >64 KB of bytecode in
# a single Janino method (observed: "Code grows beyond 64 KB", whole-stage
# codegen fell back to interpreted eval for the substrate build — exactly
# the cliff a 100 TB signature pass cannot afford). Chunks are small enough
# for Spark's expression-splitting to give each its own method. The chunked
# association ((c0)+(c1))+(c2)... is mirrored verbatim in the DuckDB oracle,
# so signatures stay bit-identical across engines.
_LSH_CHUNK = 16


def _lsh_dot_chunks(w: list[int], emb: str, one_based: bool) -> list[str]:
    off = 1 if one_based else 0
    return [
        " + ".join(
            f"CAST({emb}[{d + off}] AS DOUBLE) * {w[d]}"
            for d in range(k, min(k + _LSH_CHUNK, DIM))
        )
        for k in range(0, DIM, _LSH_CHUNK)
    ]


def _lsh_dot_sql(w: list[int], emb: str, one_based: bool) -> str:
    return " + ".join(f"({c})" for c in _lsh_dot_chunks(w, emb, one_based))


def _lsh_sql_oracle() -> str:
    qdots = ",\n             ".join(
        f"({_lsh_dot_sql(_LSH_W[t][b], 'embedding', True)}) AS d{t}_{b}"
        for t in range(_LSH_TABLES)
        for b in range(_LSH_BITS)
    )
    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN d{t}_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_LSH_BITS)
        )
    buckets = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, {bucket(t)} AS bucket FROM dots"
        for t in range(_LSH_TABLES)
    )
    cos = _sql_cosine("q.embedding", "c.embedding")
    return f"""
    WITH dots AS (
      SELECT vec_id, {qdots} FROM embeddings
    ),
    buck AS (
      {buckets}
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM buck qb JOIN buck cb
        ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
      WHERE qb.vec_id < 20 AND cb.vec_id >= 20
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_sim
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """


# Signature substrate cache: analyzing the 32x64-term dot Project costs
# seconds of DRIVER time per construction (parser+analyzer on a 2048-term
# tree — same lesson as the py4j plan-construction note in README), so the
# (vec_id, table_id, bucket) table is built once per (session, sf) and
# localCheckpoint'ed — exactly the parquet signature table a production
# pipeline materializes.
def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = T(spark, sf_dir, "embeddings")
        # Stage 1: 128 small chunk columns (16 terms each). The
        # localCheckpoint is a CollapseProject barrier as much as a cache:
        # without it Catalyst re-fuses chunks+dots+buckets into one Project
        # whose generated consume method exceeds Janino's 64 KB ceiling and
        # the whole substrate build drops to interpreted eval.
        n_chunks = (DIM + _LSH_CHUNK - 1) // _LSH_CHUNK
        chunk_cols = [
            F.expr(f"({chunk})").alias(f"c{t}_{b}_{k}")
            for t in range(_LSH_TABLES)
            for b in range(_LSH_BITS)
            for k, chunk in enumerate(
                _lsh_dot_chunks(_LSH_W[t][b], "embedding", False)
            )
        ]
        chunks = e.select("vec_id", *chunk_cols).localCheckpoint()
        # Stage 2: per-plane dot = left-assoc sum of its chunks — the same
        # association the chunked oracle SQL spells out.
        dots = chunks.select(
            "vec_id",
            *[
                sum(
                    [F.col(f"c{t}_{b}_{k}") for k in range(1, n_chunks)],
                    F.col(f"c{t}_{b}_0"),
                ).alias(f"d{t}_{b}")
                for t in range(_LSH_TABLES)
                for b in range(_LSH_BITS)
            ],
        )
        bucket_exprs = [
            sum(
                [
                    F.when(F.col(f"d{t}_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                    for b in range(_LSH_BITS)
                ],
                F.lit(0),
            ).alias(f"bk{t}")
            for t in range(_LSH_TABLES)
        ]
        buck = (
            dots.select("vec_id", *bucket_exprs)
            .select(
                "vec_id",
                F.posexplode(
                    F.array(*[F.col(f"bk{t}") for t in range(_LSH_TABLES)])
                ).alias("table_id", "bucket"),
            )
            .localCheckpoint()
        )
        return buck

    return session_cache_get(spark, sf_dir, "sim.lsh_buckets", build)


@query("x_sim_ann_lsh_hyperplane", oracle=_lsh_sql_oracle())
def x_sim_ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH ANN, hash-checked end to end: 4 tables x 8
    signed-projection bits from literal integer planes; candidates are
    bucket collisions only (multi-table OR boosts recall), exact-rescored
    and top-5'd per query. The engine-local twin (x_sim_ann_lsh) does the
    same signature via a numpy matmul in mapInPandas — the right kernel at
    scale; this variant proves the bucketing semantics against DuckDB with
    pure expression arithmetic. Shuffle keys are (table, bucket) ints;
    vectors never ride the candidate join."""
    e = T(spark, sf_dir, "embeddings")
    buck = _lsh_buckets(spark, sf_dir)
    qb = buck.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cb = buck.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    cand = qb.join(cb, ["table_id", "bucket"]).select("query_id", "neighbor_id").distinct()
    qf = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    cf = flat_emb(e.filter(F.col("vec_id") >= 20), "neighbor_id", "c")
    # Broadcast the (small) candidate list INTO the wide flat corpus: the
    # 130-column vectors stay map-side and never ride a shuffle (measured
    # 10.9s -> ~2s at sf0.1 versus shuffling cf on neighbor_id).
    scored = (
        cf.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .withColumn("cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


# -- multi-vector (late-interaction) retrieval ---------------------------

_MV_TOKENS = 8  # token-vectors per pseudo-document (vec_id // 8)
_MV_CORPUS_MAX = 400  # bounded corpus slice: constant cost at every sf

_MAXSIM_SQL = f"""
    WITH q AS (
      SELECT vec_id // {_MV_TOKENS} AS q_doc, vec_id AS q_tok, embedding AS qemb
      FROM embeddings WHERE vec_id < {2 * _MV_TOKENS}
    ),
    c AS (
      SELECT vec_id // {_MV_TOKENS} AS c_doc, vec_id AS c_tok, embedding AS cemb
      FROM embeddings
      WHERE vec_id >= {2 * _MV_TOKENS} AND vec_id < {_MV_CORPUS_MAX}
    ),
    tok_best AS (
      SELECT q.q_doc, c.c_doc, q.q_tok,
             MAX({_sql_cosine('q.qemb', 'c.cemb')}) AS best_cos
      FROM q CROSS JOIN c
      GROUP BY q.q_doc, c.c_doc, q.q_tok
    ),
    doc_score AS (
      SELECT q_doc, c_doc,
             CAST(SUM(CAST(best_cos AS DECIMAL(18,12))) AS DOUBLE) AS maxsim
      FROM tok_best GROUP BY q_doc, c_doc
    )
    SELECT q_doc, c_doc, maxsim, rn FROM (
      SELECT q_doc, c_doc, maxsim,
             ROW_NUMBER() OVER (PARTITION BY q_doc
                                ORDER BY maxsim DESC, c_doc) AS rn
      FROM doc_score
    ) WHERE rn <= 3
"""


@query("x_sim_maxsim_multivector", oracle=_MAXSIM_SQL)
def x_sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: documents are
    BAGS of token vectors (pseudo-docs of 8 corpus vectors each); score =
    sum over query tokens of the max cosine against any doc token. This is
    the retrieval scoring a multi-vector index needs and none of the
    single-vector ops express.

    Shape: token-pair scoring is a broadcast of the (tiny) query token set
    against the corpus token partitions; the two-level reduce (MAX per
    query token, then SUM per doc pair) is two thin groupBys keyed by doc
    ids — token vectors never ride a shuffle. Per-token maxes are rounded
    to DECIMAL(18,12) before the final sum so the doc score is
    order-independent and hash-checkable; at 100 TB the corpus side would
    first prune candidates with ANN (x_sim_ann_*) and MaxSim-rescore only
    survivors — this operator IS that rescorer."""
    e = T(spark, sf_dir, "embeddings")
    q = flat_emb(e.filter(F.col("vec_id") < 2 * _MV_TOKENS), "q_tok", "q").withColumn(
        "q_doc", F.floor(F.col("q_tok") / _MV_TOKENS)
    )
    c = _parallelize(
        flat_emb(
            e.filter(
                (F.col("vec_id") >= 2 * _MV_TOKENS) & (F.col("vec_id") < _MV_CORPUS_MAX)
            ),
            "c_tok",
            "c",
        ).withColumn("c_doc", F.floor(F.col("c_tok") / _MV_TOKENS))
    )
    cos = dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    tok_best = (
        c.crossJoin(F.broadcast(q))
        .select("q_doc", "c_doc", "q_tok", cos.alias("cos_sim"))
        .groupBy("q_doc", "c_doc", "q_tok")
        .agg(F.max("cos_sim").alias("best_cos"))
    )
    doc_score = tok_best.groupBy("q_doc", "c_doc").agg(
        F.sum(F.col("best_cos").cast("decimal(18,12)")).cast("double").alias("maxsim")
    )
    w = Window.partitionBy("q_doc").orderBy(F.desc("maxsim"), F.asc("c_doc"))
    return (
        doc_score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_doc", "c_doc", "maxsim", "rn")
    )


# --- IVF-PQ: product-quantization codebook over the flat substrate ------

_PQ_M = 8  # subspaces
_PQ_D = DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace; codebook rows = corpus seeds vec_id 20..35
_PQ_SHORTLIST = 64  # ADC shortlist size handed to exact rescoring


def _pq_l2_sql(va: str, vb: str) -> str:
    """Left-associated squared-L2 over _PQ_D flat column pairs — identical
    fold order in both engines."""
    return " + ".join(f"({va}{j} - {vb}{j}) * ({va}{j} - {vb}{j})" for j in range(_PQ_D))


def _pq_oracle() -> str:
    # Unit-normalize BEFORE quantizing: on unit vectors L2^2 = 2 - 2*cos,
    # so ADC distance ranking is monotone to the cosine ranking exact KNN
    # uses. Same left-fold norm as the Spark side for bit agreement.
    norm = "SQRT(" + " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)"
        for i in range(DIM)
    ) + ")"
    sub = lambda m_expr, j: f"(CAST(embedding[{m_expr} * {_PQ_D} + {j} + 1] AS DOUBLE) / nrm)"
    cb_cols = ", ".join(f"{sub('m.m', j)} AS cb{j}" for j in range(_PQ_D))
    v_cols = ", ".join(f"{sub('m.m', j)} AS v{j}" for j in range(_PQ_D))
    q_cols = ", ".join(f"{sub('m.m', j)} AS q{j}" for j in range(_PQ_D))
    return f"""
    WITH ms AS (SELECT UNNEST(range({_PQ_M})) AS m),
    nv AS (SELECT vec_id, embedding, {norm} AS nrm FROM embeddings),
    cb AS (
      SELECT vec_id - 20 AS k, m.m AS m, {cb_cols}
      FROM nv, ms m WHERE vec_id >= 20 AND vec_id < {20 + _PQ_K}
    ),
    sub AS (
      SELECT vec_id AS neighbor_id, m.m AS m, {v_cols}
      FROM nv, ms m WHERE vec_id >= 20
    ),
    enc AS (
      SELECT neighbor_id, m, k AS code FROM (
        SELECT s.neighbor_id, s.m, cb.k,
               ROW_NUMBER() OVER (PARTITION BY s.neighbor_id, s.m
                                  ORDER BY {_pq_l2_sql('v', 'cb')} ASC, cb.k ASC) AS rn
        FROM sub s JOIN cb ON s.m = cb.m
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, m.m AS m, {q_cols}
      FROM nv, ms m WHERE vec_id < 20
    ),
    dtab AS (
      SELECT q.query_id, cb.m, cb.k,
             ROUND({_pq_l2_sql('q', 'cb')}, 9) AS d
      FROM qsub q JOIN cb ON q.m = cb.m
    ),
    adc AS (
      SELECT d.query_id, e.neighbor_id,
             CAST(SUM(CAST(d.d AS DECIMAL(28,9))) AS DOUBLE) AS pq_dist
      FROM enc e JOIN dtab d ON e.m = d.m AND e.code = d.k
      GROUP BY d.query_id, e.neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY pq_dist ASC, neighbor_id ASC) AS arn
        FROM adc
      ) WHERE arn <= {_PQ_SHORTLIST}
    ),
    qv AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id < 20),
    cv AS (SELECT vec_id AS neighbor_id, embedding AS cemb FROM embeddings WHERE vec_id >= 20),
    resc AS (
      SELECT s.query_id, s.neighbor_id, {_sql_cosine('q.qemb', 'c.cemb')} AS cos_sim
      FROM short s JOIN qv q USING (query_id) JOIN cv c USING (neighbor_id)
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM resc
    ) WHERE rn <= 5
    """


@query("x_sim_ann_ivf_pq", oracle=_pq_oracle())
def x_sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization over the IVF substrate (#62 cont., IVF-PQ):
    64-dim vectors are split into 8 sub-vectors of 8 dims; each sub-vector
    is encoded as the index of its nearest codebook entry (16 codes per
    subspace — here a deterministic codebook stub taken from corpus seeds
    vec_id 20..35; a trained deployment plugs the k-means path in
    x_sim_ann_ivf_kmeans into the same shape). A vector becomes 8 small
    codes — 64 doubles -> 8 bytes, the 64x compression that lets a 100 TB
    embedding corpus fit scan-resident — and query scoring is ADC: one
    (query, subspace, code) distance table of M*K rows per query,
    broadcast, then approximate distance = SUM of 8 looked-up entries,
    accumulated as ROUND(...,9) DECIMAL so the float add order never
    leaks into ranking. Vectors are unit-normalized before quantization
    (L2 on unit vectors is monotone to cosine), the ADC ranking keeps a
    64-deep shortlist, and full-precision cosine rescores only
    the shortlist — the standard IVF-PQ deployment split of cheap scan +
    exact tail.

    Everything shuffles thin: encoding is (neighbor_id, m, code) via
    min_by over a broadcast 128-row codebook; after the one-time encode
    the only full vectors touched are the ~64 shortlisted rows
    per query. Recall vs exact KNN is bounded by the 16-entry codebook
    STUB (tests measure it; a trained k-means codebook — see
    x_sim_ann_ivf_kmeans — is the production fit on real data)."""
    e = T(spark, sf_dir, "embeddings")

    norm_sql = "SQRT(" + " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)" for i in range(DIM)
    ) + ")"

    def subspaces(df: DataFrame, id_in: str, id_out: str, prefix: str) -> DataFrame:
        # unit-normalized values: see _pq_oracle on why (cosine monotone)
        structs = ", ".join(
            "struct("
            + ", ".join(
                f"(CAST(embedding[{m * _PQ_D + j}] AS DOUBLE) / nrm) AS {prefix}{j}"
                for j in range(_PQ_D)
            )
            + ")"
            for m in range(_PQ_M)
        )
        return (
            df.withColumn("nrm", F.expr(norm_sql))
            .select(
                F.col(id_in).alias(id_out),
                F.posexplode(F.expr(f"array({structs})")).alias("m", "s"),
            )
            .select(id_out, "m", "s.*")
        )

    cb = subspaces(
        e.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 20 + _PQ_K)), "vec_id", "kid", "cb"
    ).select((F.col("kid") - 20).alias("k"), "m", *[f"cb{j}" for j in range(_PQ_D)])
    sub = subspaces(e.filter(F.col("vec_id") >= 20), "vec_id", "neighbor_id", "v")
    l2 = F.expr(_pq_l2_sql("v", "cb"))
    # The corpus PQ codes are the persisted artifact of a real IVF-PQ
    # deployment (encode once per snapshot, scan forever): cache the
    # thin (neighbor_id, m, code) table per (session, sf) like
    # flat_corpus — only the query-side distance tables are per-call.
    # Cached at NEIGHBOR grain — codes[m] for m = 0.._PQ_M-1 in one array
    # column (still the persisted PQ-codes artifact, 8 small ints per
    # vector). The row-per-(neighbor, m) form forced the ADC below through
    # a join + hash agg; the array form lets it finish inside a projection.
    enc = session_cache_get(
        spark,
        sf_dir,
        "sim.pq_encode",
        lambda: (
            sub.join(F.broadcast(cb), "m")
            .select("neighbor_id", "m", "k", l2.alias("l2"))
            .groupBy("neighbor_id", "m")
            .agg(F.min_by("k", F.struct("l2", "k")).alias("code"))
            .groupBy("neighbor_id")
            .agg(F.array_sort(F.collect_list(F.struct("m", "code"))).alias("mc"))
            .select("neighbor_id", F.expr("transform(mc, x -> x.code)").alias("codes"))
            .localCheckpoint()
        ),
    )
    qsub = subspaces(e.filter(F.col("vec_id") < 20), "vec_id", "query_id", "q")
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "k", F.round(F.expr(_pq_l2_sql("q", "cb")), 9).alias("d")
    )
    # ADC distance tables as per-query LITERAL arrays instead of a
    # (enc x dtab) join + groupBy (guide §3/§2.4): the distance table is
    # bounded (n_q * M * K = 2560 doubles at every sf — query count and
    # codebook are constants), so it collects at build time and each
    # (neighbor, query) pair sums its M table entries via O(1)
    # GetArrayItem reads in ONE map-only projection over the cached code
    # table — the M-row-per-pair shuffle and the hash aggregation
    # disappear, and scoring runs register-resident exactly like a real
    # ADC scan. (A broadcast MAP was measured and rejected: Spark's
    # element_at on a non-literal map is a linear scan per lookup.)
    # DECIMAL adds are exact, so the fixed m=0..M-1 order is
    # bit-identical to the old groupBy SUM; collected doubles round-trip
    # bit-exactly through literals.
    # The collected table is a bounded per-(session, sf) model — the same
    # class of artifact as the char-LM map (derived from the data, 2560
    # entries at every sf). The whole LAZY adc plan is memoized with it
    # (plan construction only — nothing materializes; every count() still
    # scores from the code table), because parsing + assembling the
    # 2560-literal expression costs ~0.6 s of driver time per build.
    def _build_adc() -> DataFrame:
        dd = {(r["query_id"], r["m"], r["k"]): r["d"] for r in dtab.collect()}
        qids = sorted({q for (q, _, _) in dd})

        # ONE SQL string, ONE F.expr: building this from per-literal
        # Column ops costs ~2.5 s of pure py4j round-trip latency (2560
        # F.lit calls — the same trap the module docstring records for
        # per-term dot products). CAST('<repr>' AS DOUBLE) round-trips
        # the collected doubles bit-exactly (shortest-repr parse), and
        # constant folding collapses the whole query-table array into one
        # Literal once per plan.
        #
        # Shape note (64 KB method limit): each query's 128-entry distance
        # table rides INSIDE its exploded struct (x.dt) and the 8 lookups
        # index that small runtime array AFTER the Generate. Inlining the
        # lookups into the explode input instead (20 structs x 8
        # element_at each, one giant unsplittable expression) makes the
        # Generate's doConsume grow beyond 64 KB — Janino rejects it and
        # the stage silently runs interpreted, re-paying a failed compile
        # on every execution.
        def _qtab(q: int) -> str:
            vals = ", ".join(
                f"CAST('{dd[(q, m, k)]!r}' AS DOUBLE)"
                for m in range(_PQ_M)
                for k in range(_PQ_K)
            )
            return f"array({vals})"

        q_structs = ", ".join(
            f"named_struct('query_id', CAST({int(q)} AS BIGINT), 'dt', {_qtab(q)})"
            for q in qids
        )
        dist = " + ".join(
            f"CAST(element_at(x.dt,"
            f" {m * _PQ_K} + CAST(codes[{m}] AS INT) + 1) AS DECIMAL(28,9))"
            for m in range(_PQ_M)
        )
        return enc.select(
            "neighbor_id", "codes", F.explode(F.expr(f"array({q_structs})")).alias("x")
        ).select(
            "x.query_id", "neighbor_id", F.expr(f"CAST({dist} AS DOUBLE)").alias("pq_dist")
        )

    adc = session_cache_get(spark, sf_dir, "sim.pq_dtab", _build_adc)
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("pq_dist"), F.asc("neighbor_id"))
    short = (
        adc.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # Exact rescoring of the ADC shortlist only — the standard IVF-PQ
    # deployment shape: PQ prunes the corpus ~50x, full-precision cosine
    # ranks the survivors.
    corpus = flat_corpus(spark, sf_dir)
    qf = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q")
    resc = (
        short.join(corpus, "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        resc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def _ivf_filtered_oracle() -> str:
    """Label-constrained IVF: same pipeline as _ivf_oracle with the
    metadata predicate (neighbor label == query label) applied INSIDE the
    inverted lists, before rescoring."""
    cos_ct = _sql_cosine("c.embedding", "t.cemb")
    cos_qt = _sql_cosine("q.qemb", "t.cemb")
    cos_qc = _sql_cosine("q.qemb", "co.embedding")
    return f"""
    WITH corpus AS (
      SELECT vec_id AS neighbor_id, embedding, label FROM embeddings WHERE vec_id >= 20
    ),
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS cemb FROM embeddings
      WHERE vec_id % {_STRIDE_SQL} = 0
    ),
    asg AS (
      SELECT neighbor_id, label, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                ORDER BY cent_sim DESC, centroid_id) AS rn
      FROM (SELECT c.neighbor_id, c.label, t.centroid_id, {cos_ct} AS cent_sim
            FROM corpus c CROSS JOIN cent t)
    ),
    assigned AS (SELECT neighbor_id, label, centroid_id FROM asg WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qemb, label FROM embeddings
          WHERE vec_id < 20),
    pr AS (
      SELECT query_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cent_sim DESC, centroid_id) AS prn
      FROM (SELECT q.query_id, t.centroid_id, {cos_qt} AS cent_sim
            FROM q CROSS JOIN cent t)
    ),
    probes AS (SELECT query_id, centroid_id FROM pr WHERE prn <= {_NPROBE}),
    scored AS (
      SELECT p.query_id, a.neighbor_id, {cos_qc} AS cos_sim
      FROM probes p
      JOIN assigned a ON p.centroid_id = a.centroid_id
      JOIN q ON p.query_id = q.query_id AND a.label = q.label
      JOIN corpus co ON a.neighbor_id = co.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """


@query("x_sim_ann_filtered", oracle=_ivf_filtered_oracle())
def x_sim_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered ANN (#62 cont.): top-5 neighbors restricted to
    corpus vectors sharing the query's metadata label — the
    metadata-constrained retrieval every production vector store serves
    ("same language", "same tenant", "same license tier"). The predicate
    is applied INSIDE the inverted lists (pre-filtering) rather than on
    the final top-k (post-filtering) — post-filtering an unfiltered top-5
    can return <5 or even 0 survivors when the predicate is selective,
    which is exactly the classic filtered-ANN failure mode this shape
    avoids. Cost: the label rides the thin assignment table (one int per
    vector); selectivity shrinks the rescore set, never grows it."""
    e = T(spark, sf_dir, "embeddings")
    cent = flat_centroids(spark, sf_dir)
    corpus = flat_corpus(spark, sf_dir)
    labels = e.select(F.col("vec_id").alias("neighbor_id"), "label")
    assigned_thin = ivf_assignment(spark, sf_dir).join(labels, "neighbor_id")
    assigned = corpus.join(assigned_thin, "neighbor_id")
    qlab = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    q = flat_emb(e.filter(F.col("vec_id") < 20), "query_id", "q").join(
        F.broadcast(qlab), "query_id"
    )
    q_sim = dot_flat("q", "t") / (F.col("qnorm") * F.col("tnorm"))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent.select("centroid_id", *[f"t{i}" for i in range(DIM)], "tnorm")))
        .withColumn("cent_sim", q_sim)
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _NPROBE)
        .select("query_id", *[f"q{i}" for i in range(DIM)], "qnorm", "qlabel", "centroid_id")
    )
    cand = assigned.join(
        F.broadcast(probes),
        (assigned.centroid_id == probes.centroid_id) & (assigned.label == probes.qlabel),
    )
    scored = cand.withColumn(
        "cos_sim", dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


_RRF_K = 60


def _rrf_oracle() -> str:
    from .text_analysis import _BM25_SQL

    cos = _sql_cosine("q.embedding", "c.embedding")
    return f"""
    WITH lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM (
        {_BM25_SQL}
      )
    ),
    vec AS (
      SELECT c.vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY {cos} DESC, c.vec_id) AS r
      FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE c.vec_id >= 20
      ORDER BY {cos} DESC, c.vec_id LIMIT 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(1.0 / ({_RRF_K} + l.r), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.r), 0.0) AS rrf,
             l.r AS lex_rank, v.r AS vec_rank
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rrf, lex_rank, vec_rank,
           ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """


@query("x_sim_hybrid_rrf", oracle=_rrf_oracle())
def x_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (#62 cont.): the BM25
    lexical top-20 (x_text_bm25_retrieval's fixed query) and the vector
    top-20 (cosine to query vec 0) fuse by rrf = sum 1/(60 + rank) —
    the standard score-free combiner for hybrid search stacks (no
    cross-system score calibration needed, only ranks). Ranks are exact
    integers, the two-term rrf sum is one fixed-order float expression,
    ties break by doc id — fully deterministic. Each arm reuses its
    tier's index shape; fusion itself is a FULL OUTER join of two
    20-row lists — trivially broadcast at any corpus size."""
    from .text_analysis import x_text_bm25_retrieval

    lex = x_text_bm25_retrieval(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    e = T(spark, sf_dir, "embeddings")
    qv = flat_emb(e.filter(F.col("vec_id") == 0), "qid", "q")
    corpus = flat_corpus(spark, sf_dir)
    cos = dot_flat("q", "c") / (F.col("qnorm") * F.col("cnorm"))
    # Top-20 via orderBy+limit (TakeOrderedAndProject: per-partition heap,
    # only 20 rows per partition reach the driver-side merge) — NOT a
    # full-corpus row_number window, which would funnel every scored
    # vector through one task. The rank window then runs over 20 rows.
    vec = (
        corpus.crossJoin(F.broadcast(qv))
        .select(F.col("neighbor_id").alias("doc_id"), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))),
        )
        .select("doc_id", "vec_rank")
    )
    fused = (
        lex.join(vec, "doc_id", "full")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0))
            ).alias("rrf"),
            "lex_rank",
            "vec_rank",
        )
    )
    return (
        fused.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("rrf"), F.asc("doc_id")))
        )
        .filter(F.col("rn") <= 10)
    )


@query(
    "x_embedding_quantize_int8",
    oracle="""
    WITH mx AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, max_abs,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS BIGINT)) AS qv
      FROM mx WHERE max_abs > 0
    )
    SELECT vec_id, max_abs,
           len(qv) AS n_dims,
           list_reduce(qv, (a, b) -> a + b) AS q_sum,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max
    FROM q
    """,
)
def x_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (#62 cont.): per-vector symmetric max-abs
    scaling to the [-127, 127] grid — the 4x memory/bandwidth compression
    every large-scale vector-serving layer applies before ANN, upstream
    of the IVF-PQ codebook path.

    Cross-engine exact with zero float accumulation: max_abs is an exact
    float MAX (no summation order), the scale is one IEEE divide, each
    cell is multiply + add-half + floor (identical ops both engines), and
    the reported aggregates are integer folds. Pure map-side projection —
    quantization adds no shuffle at any corpus size; the summary columns
    (q_sum/q_min/q_max) are the dequantization-audit statistics."""
    e = T(spark, sf_dir, "embeddings")
    mx = e.select(
        "vec_id",
        "embedding",
        F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").alias(
            "max_abs"
        ),
    ).filter(F.col("max_abs") > 0)
    q = mx.select(
        "vec_id",
        "max_abs",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * (127.0D / max_abs) + 0.5D) AS BIGINT))"
        ).alias("qv"),
    )
    return q.select(
        "vec_id",
        "max_abs",
        F.size("qv").cast("bigint").alias("n_dims"),
        F.expr("aggregate(qv, 0L, (a, b) -> a + b)").alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


_MRL_DIM = 16  # truncation prefix (of DIM=64): the Matryoshka sub-vector


def _mrl_terms(q: str, c: str, n: int, off: int) -> str:
    """Unrolled left-associative dot product — IDENTICAL term order text
    on both engines (off=0 Spark arrays, off=1 DuckDB lists), so the
    float adds execute in the same sequence bit-for-bit."""
    return " + ".join(
        f"CAST({q}[{i + off}] AS DOUBLE) * CAST({c}[{i + off}] AS DOUBLE)"
        for i in range(n)
    )


def _mrl_norm(v: str, n: int, off: int) -> str:
    sq = " + ".join(
        f"CAST({v}[{i + off}] AS DOUBLE) * CAST({v}[{i + off}] AS DOUBLE)"
        for i in range(n)
    )
    return f"SQRT({sq})"


def _mrl_oracle() -> str:
    def ranked(n: int, name: str) -> str:
        cos = (
            f"({_mrl_terms('q.embedding', 'c.embedding', n, 1)})"
            f" / (({_mrl_norm('q.embedding', n, 1)}) * ({_mrl_norm('c.embedding', n, 1)}))"
        )
        return f"""
    {name} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rn
        FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20) c
      ) WHERE rn <= 5
    )"""

    return f"""
    WITH {ranked(64, 'full_top')}, {ranked(_MRL_DIM, 'trunc_top')}
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS kept,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM full_top f
    LEFT JOIN trunc_top t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id
    """


@query("x_sim_matryoshka_recall", oracle=_mrl_oracle())
def x_sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit (#62 cont.): rank neighbors by
    the FIRST {dim} dims of the 64-dim embedding and measure top-5
    recall against the full-precision ranking, per query — the
    go/no-go measurement before serving truncated vectors (4x cheaper
    scan + memory) from an MRL-trained model; on non-MRL embeddings
    like these the recall printout IS the evidence that truncation
    needs the training-side counterpart.

    Both rankings share one broadcast-query cross join over the corpus;
    dot products are unrolled left-associative expressions with
    identical term order on both engines (the similarity tier's
    determinism discipline), so even the float ranking hash-matches.

    Round 12 (guide §2.4): the two rankings used to be two separate
    corpus passes (top(64) and top({dim}) each rebuilt the crossJoin +
    its own window exchange, then an SMJ matched their top-5s). Both
    cosines now ride ONE scoring projection over ONE crossJoin; the two
    row_number windows share the same query_id hash exchange (one
    Exchange, two Sort+Window pairs), and the recall join collapses
    into a same-row rn comparison — kept = rows with rn_full<=5 AND
    rn_trunc<=5, identical to the old left-join count because both
    top-5s come from the same (query, neighbor) universe. Bit-equal at
    sf0.01/sf0.1; 1.16 -> 0.81 s min-of-5 (18 -> 5 Exchanges).""".replace(
        "{dim}", str(_MRL_DIM)
    )
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    # The corpus is ONE parquet split at bench SFs, and the scoring
    # projection below is compute-bound (two unrolled 64- and {dim}-term
    # dot products per row): repartition first so it widens to every core
    # — the same single-split trap documented for chunk_cdc/pca in
    # BASELINE.md. At cluster scale this is a no-op-sized rebalance.
    c = _parallelize(
        e.filter(F.col("vec_id") >= 20).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cemb")
        )
    )

    cos_full = F.expr(
        f"({_mrl_terms('qemb', 'cemb', 64, 0)})"
        f" / (({_mrl_norm('qemb', 64, 0)}) * ({_mrl_norm('cemb', 64, 0)}))"
    )
    cos_trunc = F.expr(
        f"({_mrl_terms('qemb', 'cemb', _MRL_DIM, 0)})"
        f" / (({_mrl_norm('qemb', _MRL_DIM, 0)})"
        f" * ({_mrl_norm('cemb', _MRL_DIM, 0)}))"
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cos_full.alias("cos_f"),
        cos_trunc.alias("cos_t"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos_f"), F.asc("neighbor_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("cos_t"), F.asc("neighbor_id"))
    both = (
        scored.withColumn("rn_f", F.row_number().over(wf))
        .withColumn("rn_t", F.row_number().over(wt))
        .filter(F.col("rn_f") <= 5)
    )
    kept = F.count(F.when(F.col("rn_t") <= 5, F.lit(1)))
    return both.groupBy("query_id").agg(
        kept.cast("bigint").alias("kept"),
        (kept.cast("double") / 5).alias("recall_at_5"),
    )


def _div_pair_cos() -> str:
    """Unrolled exact cosine between paired rows (a.*, b.*) — shared
    term order both engines (see _mrl_terms)."""
    return (
        f"({_mrl_terms('a.embedding', 'b.embedding', DIM, 1)})"
        f" / (({_mrl_norm('a.embedding', DIM, 1)}) * ({_mrl_norm('b.embedding', DIM, 1)}))"
    )


@query(
    "x_sim_corpus_diversity",
    oracle=f"""
    WITH pairs AS (
      SELECT CAST(ROUND({_div_pair_cos()}, 12) AS DECIMAL(28,15)) AS c
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_cosine,
           CAST(MAX(c) AS DOUBLE) AS max_cosine,
           CAST(MIN(c) AS DOUBLE) AS min_cosine
    FROM pairs
    """,
)
def x_sim_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus embedding-diversity probe (#61 cont.): mean pairwise cosine
    over a deterministic even/odd row pairing — the one-number mode-
    collapse / redundancy screen a mixture designer reads per source
    before weighting it (a source whose random pairs average cosine 0.9
    is near-duplicate mass; ~0 is diverse). The fixed pairing IS the
    sample: n/2 pairs, reproducible, no RNG, and at 100 TB the same
    probe runs per-source on the md5-band sample.

    Exactness: each pair's cosine is the unrolled shared-term-order
    expression (bit-identical both engines), ROUNDed then accumulated
    as DECIMAL (order-free — the MI discipline), one divide for the
    mean. The pair join is a self-join on vec_id+1: co-partitioned,
    thin, linear."""
    e = T(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 2 == 0).alias("a")
    b = e.alias("b")
    cos = F.expr(
        f"({_mrl_terms('a.embedding', 'b.embedding', DIM, 0)})"
        f" / (({_mrl_norm('a.embedding', DIM, 0)}) * ({_mrl_norm('b.embedding', DIM, 0)}))"
    )
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(F.round(cos, 12).cast("decimal(28,15)").alias("c"))
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        (F.sum("c").cast("double") / F.count("*")).alias("mean_cosine"),
        F.max("c").cast("double").alias("max_cosine"),
        F.min("c").cast("double").alias("min_cosine"),
    )


@query(
    "x_embedding_pca_covariance",
    oracle="""
    WITH xs AS (
      SELECT vec_id, CAST(t.i AS INTEGER) AS i,
             CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
    ),
    pp AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(ROUND(a.v * b.v * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS spp
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    marg AS (
      SELECT i, CAST(SUM(CAST(ROUND(v * 1000000, 0) AS BIGINT)) AS BIGINT) AS s
      FROM xs GROUP BY i
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
    SELECT pp.i, pp.j, n.n, pp.spp, ma.s AS si, mb.s AS sj,
           (CAST(pp.spp AS DOUBLE) / 1000000.0
            - CAST(ma.s AS DOUBLE) * CAST(mb.s AS DOUBLE)
              / (1000000000000.0 * n.n))
           / (n.n - 1) AS cov
    FROM pp
    JOIN marg ma ON pp.i = ma.i
    JOIN marg mb ON pp.j = mb.i
    CROSS JOIN n
    """,
)
def x_embedding_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan covariance matrix of the embedding corpus — the PCA /
    whitening / decorrelation statistic (all 64x65/2 upper-triangle
    cells), accumulated as mergeable sums so 100 TB of vectors reduce to
    d^2 partials per partition: the vectors themselves NEVER ride the
    shuffle, only 2,080 (i, j, partial-sum) cells per map task. The
    eigen-step (power iteration on the returned 64x64 matrix) is a
    driver-side O(d^2) epilogue on this output — asserted against numpy
    in tests, exactly how a production pipeline whitens embeddings
    before indexing or trains a PCA projection for dim reduction.

    Exactness: every cross product x_i*x_j is computed in double
    (identical promotion from the stored float32 on both engines),
    ppm-quantized, THEN summed — exact BIGINT lattice, add-order-free.
    The covariance finishes as one fixed-shape double expression of
    those exact integers, so partial-aggregation order can never leak
    into the result. The pair expansion is a generator projection
    (nested transform, no self-join); the only pre-aggregate exchange is
    the explicit rebalance below, which carries the raw vectors once to
    spread the compute-bound kernel across cores/executors."""
    # Rebalance before the Gram kernel: embeddings arrive as one parquet
    # split locally, and 2,080 products per row on one core is the same
    # single-split trap x_dedup_chunk_cdc hit.
    e = (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(max(spark.sparkContext.defaultParallelism * 2, 8), "vec_id")
    )
    # The Gram kernel explodes a FLAT bigint array (2,080 ppm-rounded
    # products per row) keyed by upper-triangle position, not an array of
    # (i, j, p) structs: dropping the struct wrapper cut the 10M-element
    # Generate+HashAggregate pass ~1.6x at sf0.1 (measured 5.7 -> 3.5 s);
    # the (k -> i, j) decode happens once, on the 2,080-row aggregate,
    # via a broadcast index built from the same nested sequence.
    prods = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.transform(
                F.sequence(i, F.lit(64)),
                lambda j: F.round(
                    F.element_at(F.col("emb"), i)
                    * F.element_at(F.col("emb"), j)
                    * 1000000,
                    0,
                ).cast("bigint"),
            ),
        )
    )
    # Round 12 (guide §2.2/§6): the marginal sums and the row count used
    # to ride two additional scans of embeddings (their own repartition +
    # posexplode passes — the static plan had FOUR parquet scans). They
    # now piggyback on the same flat payload: 64 marginal ppm terms and a
    # literal 1 are appended after the 2,080 products (+3% payload), so
    # ONE scan + ONE explode/aggregate produces cells k<2080, marginals
    # 2080<=k<2144 and n at k=2144. Bit-equal at sf0.01/sf0.1 (identical
    # bigint lattices per term).
    margs = F.transform(
        F.col("emb"), lambda v: F.round(v * 1000000, 0).cast("bigint")
    )
    payload = F.concat(prods, margs, F.array(F.lit(1).cast("bigint")))
    # The 2,145-row aggregate is localCheckpointed: its FOUR consumers
    # (cells, both marginal arms, n) otherwise re-plan the Gram pass and
    # only AQE's ReusedExchange — which proved FLAKY under bench memory
    # pressure (per-pass medians 1.1 → 19.6 s when the reuse misses) —
    # keeps it to one execution. The checkpoint is the deterministic
    # materialization barrier: one scan + one explode/aggregate per call,
    # then three reads of 2,145 cached rows.
    sums = (
        e.select(F.posexplode(payload).alias("k", "p_ppm"))
        .groupBy("k")
        .agg(F.sum("p_ppm").cast("bigint").alias("spp"))
        .localCheckpoint()
    )
    pp_flat = sums.filter(F.col("k") < 2080)
    idx_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.transform(
                F.sequence(i, F.lit(64)),
                lambda j: F.struct(
                    i.cast("int").alias("i"), j.cast("int").alias("j")
                ),
            ),
        )
    )
    idx = spark.range(1).select(F.posexplode(idx_pairs).alias("k", "ij")).select(
        "k", "ij.i", "ij.j"
    )
    pp = pp_flat.join(F.broadcast(idx), "k").select("i", "j", "spp")
    ma = sums.filter((F.col("k") >= 2080) & (F.col("k") < 2144)).select(
        (F.col("k") - 2080 + 1).cast("int").alias("mi"), F.col("spp").alias("si")
    )
    mb = ma.select(F.col("mi").alias("mj"), F.col("si").alias("sj"))
    n = sums.filter(F.col("k") == 2144).select(F.col("spp").alias("n"))
    return (
        pp.join(F.broadcast(ma), pp.i == ma.mi)
        .join(F.broadcast(mb), pp.j == mb.mj)
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            "n",
            "spp",
            "si",
            "sj",
            (
                (
                    F.col("spp").cast("double") / 1000000.0
                    - F.col("si").cast("double")
                    * F.col("sj").cast("double")
                    / (F.lit(1000000000000.0) * F.col("n"))
                )
                / (F.col("n") - 1)
            ).alias("cov"),
        )
    )
