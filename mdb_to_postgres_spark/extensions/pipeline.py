"""Training-data pipeline operators beyond the driver's named set: the
dataset-assembly steps (split / pack / decontaminate) that sit between
"corpus" and "training run" in an LLM data pipeline.

All three are deterministic and oracle-checked:
- splits come from md5 of the stable doc id (never from RNG state), so any
  engine reproduces the same membership — the property that matters when a
  100 TB corpus is re-split incrementally;
- packing is a prefix-sum over an explicit total order, a single window
  scan, not a driver-side loop;
- contamination is an inverted-index semi-join, the same
  shared-shingle shape as near-dup detection (extensions/dedup.py) but
  against a (small, broadcastable) eval set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.tables import T
from .dedup import doc_shingles
from .doc_text import JACCARD_PAIRS, SH_CTES, TOKENS, _TOKS


@query(
    "x_dataset_split",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hb
      FROM documents
    )
    SELECT CASE WHEN hb < '0d' THEN 'test'
                WHEN hb < '1a' THEN 'val'
                ELSE 'train' END AS split,
           COUNT(*) AS docs,
           CAST(SUM(CEIL(n_chars / 4.0)) AS BIGINT) AS est_tokens,
           MIN(doc_id) AS min_doc_id
    FROM h GROUP BY 1
    """,
)
def x_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5: hex prefixes below
    0x0d test, below 0x1a val, rest train) by md5 of the document id.
    Hash-based membership is stable under corpus growth and engine
    changes — the reason production pipelines never use RNG splits."""
    d = T(spark, sf_dir, "documents")
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(hb < "0d", F.lit("test")).when(hb < "1a", F.lit("val")).otherwise(F.lit("train"))
    )
    return (
        d.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.ceil(F.col("n_chars") / 4.0)).cast("long").alias("est_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


_PACK_BUDGET = 2048  # est. tokens per packed training sequence


@query(
    "x_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, est_tokens,
             COALESCE(SUM(est_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_tokens
      FROM t
    )
    SELECT doc_id, est_tokens,
           CAST(prior_tokens // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(prior_tokens % {_PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM c
    """,
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document a pack id and
    in-pack offset from the running token count over a stable total order
    — the distributed form of the greedy packer. The prefix-sum runs
    clustered (deterministic quantile buckets on doc_id + ONE hash
    exchange + local running sum + literal offsets,
    functions/global_order.py): this is THE packing pass a
    100 TB corpus actually executes, so no single-partition window over
    the documents may exist in the plan. pack_id is exact integer
    floor-div of the BIGINT prior-token count (double division would lose
    precision past 2^53 cumulative tokens)."""
    from ..functions.global_order import global_cumsum

    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", F.ceil(F.col("n_chars") / 4.0).cast("long").alias("est_tokens"))
    c = global_cumsum(t, [("doc_id", "asc")], F.col("est_tokens"), "prior_tokens")
    return c.select(
        "doc_id",
        "est_tokens",
        F.expr(f"prior_tokens div {_PACK_BUDGET}").cast("long").alias("pack_id"),
        (F.col("prior_tokens") % _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


_EVAL_MOD = 50  # docs with doc_id % 50 == 0 stand in for the benchmark set


@query(
    "x_contamination_check",
    oracle=f"""
    WITH {SH_CTES}
    SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
           COUNT(*) AS shared_shingles
    FROM sh t JOIN sh e ON t.shingle = e.shingle
    WHERE e.doc_id % {_EVAL_MOD} = 0 AND t.doc_id % {_EVAL_MOD} <> 0
    GROUP BY t.doc_id, e.doc_id
    HAVING COUNT(*) >= 2
    """,
)
def x_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag training docs sharing >=2 word
    3-gram shingles with any eval-set doc. The eval shingle index is tiny
    relative to the corpus, so it broadcasts — each training shard checks
    locally, no corpus-wide shuffle."""
    sh = doc_shingles(spark, sf_dir)
    train = sh.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    ev = sh.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    return (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= 2)
    )


@query(
    "x_pipeline_end_to_end",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, n_chars,
             list_filter({TOKENS}, t -> t <> '') AS toks
      FROM documents
    ),
    gated AS (
      SELECT doc_id, text, n_chars FROM toks
      WHERE len(toks) BETWEEN 20 AND 2000
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.1
    ),
    deduped AS (
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    split AS (
      SELECT doc_id, CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_tokens,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
      FROM deduped
    ),
    packed AS (
      SELECT split, doc_id, est_tokens,
             CAST(COALESCE(SUM(est_tokens) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_BUDGET} AS BIGINT) AS pack_id
      FROM split
    )
    SELECT split, COUNT(*) AS docs,
           CAST(SUM(est_tokens) AS BIGINT) AS est_tokens,
           COUNT(DISTINCT pack_id) AS n_packs,
           MIN(doc_id) AS min_doc_id
    FROM packed GROUP BY split
    """,
)
def x_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data pipeline, composed end-to-end as ONE
    declarative plan: quality gate (token count + type-token ratio) ->
    exact dedup (keep lowest doc_id per content hash) -> hash-based
    train/val/test split -> per-split token-budget packing -> per-split
    rollup. Five stages, zero driver-side loops; Catalyst fuses the
    narrow stages and the only shuffles are the dedup window, the pack
    prefix-sum (per-split), and the final rollup — the same three a
    100 TB run needs."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda t: t != "")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    gated = d.select("doc_id", "text", "n_chars", n_tok.alias("nt"), ttr.alias("ttr")).filter(
        F.col("nt").between(20, 2000) & (F.col("ttr") > 0.1)
    )
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dedup)).filter(F.col("rn") == 1)
    ).select("doc_id", "n_chars")
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = deduped.select(
        "doc_id",
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("est_tokens"),
        F.when(hb < "0d", F.lit("test")).when(hb < "1a", F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )
    w_pack = Window.partitionBy("split").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    packed = split.withColumn(
        "pack_id",
        (F.coalesce(F.sum("est_tokens").over(w_pack), F.lit(0)) / _PACK_BUDGET).cast("long"),
    )
    return packed.groupBy("split").agg(
        F.count("*").alias("docs"),
        F.sum("est_tokens").cast("long").alias("est_tokens"),
        F.countDistinct("pack_id").alias("n_packs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "x_sample_stratified",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    """,
)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus rebalancing: keep
    ~12.5% of dominant-language docs (hex band < '20') and ~50% of the
    rest (< '80'), by md5 of the stable doc id — the same no-RNG
    discipline as x_dataset_split, so membership is reproducible across
    runs, engines, and corpus growth (a row's fate never depends on what
    other rows exist).

    Scale: a narrow map-side filter — no shuffle, no sampleBy() RNG state,
    trivially pushable behind any scan. Per-stratum rates are data (the
    CASE), extendable to a broadcast-joined rate table.
    """
    d = T(spark, sf_dir, "documents")
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    rate_band = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    return d.filter(hb < rate_band).select("doc_id", "lang", "source")


@query(
    "x_mix_weighted_repeat",
    oracle="""
    SELECT doc_id, lang, UNNEST(generate_series(1,
        CASE WHEN lang = 'en' THEN 1 ELSE 3 END)) AS copy_idx
    FROM documents
    """,
)
def x_mix_weighted_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data mixing by integer upsampling: non-dominant languages
    are replicated 3x (epoch-style oversampling), dominant kept at 1x.
    explode(sequence(1, w)) emits copy_idx so downstream shuffling/packing
    can treat copies as distinct rows.

    Scale: generator-based replication is NARROW — each task expands its
    own rows, nothing shuffles; contrast with a join against a
    weights-expanded table, which would. Real pipelines put per-source
    weights in a small broadcast dim; the CASE here is that dim inlined.
    """
    d = T(spark, sf_dir, "documents")
    w = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(3))
    return d.select(
        "doc_id", "lang", F.explode(F.sequence(F.lit(1), w)).alias("copy_idx")
    ).withColumn("copy_idx", F.col("copy_idx").cast("bigint"))


_BATCH_SIZE = 16  # sequences per inference batch within a length bucket
_BUCKET_TOKENS = 64  # bucket width in estimated tokens


@query(
    "x_pack_batches",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, est_tokens,
             CAST(est_tokens // {_BUCKET_TOKENS} AS BIGINT) AS length_bucket,
             ROW_NUMBER() OVER (PARTITION BY est_tokens // {_BUCKET_TOKENS}
                                ORDER BY doc_id) - 1 AS pos
      FROM t
    )
    SELECT doc_id, est_tokens, length_bucket,
           CAST(pos // {_BATCH_SIZE} AS BIGINT) AS batch_idx,
           CAST(pos % {_BATCH_SIZE} AS BIGINT) AS batch_slot
    FROM b
    """,
)
def x_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment — the dynamic-batching layout an
    inference/training dataloader wants: sequences of similar length share
    a batch so padding waste is bounded by the bucket width. One window
    rank per bucket, integer div/mod into (batch_idx, slot); deterministic
    by doc_id tiebreak.

    Scale: the rank partitions by length_bucket (bounded cardinality), so
    each bucket's window is an independent sort — no global order, and at
    100 TB the bucket key prefixes a shard key the same way
    x_pack_sequences' ORDER BY does."""
    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", F.ceil(F.col("n_chars") / 4.0).cast("long").alias("est_tokens"))
    bucket = (F.col("est_tokens") / _BUCKET_TOKENS).cast("long")
    w = Window.partitionBy("length_bucket").orderBy("doc_id")
    b = t.withColumn("length_bucket", bucket).withColumn(
        "pos", F.row_number().over(w) - 1
    )
    return b.select(
        "doc_id",
        "est_tokens",
        "length_bucket",
        (F.col("pos") / _BATCH_SIZE).cast("long").alias("batch_idx"),
        (F.col("pos") % _BATCH_SIZE).cast("long").alias("batch_slot"),
    )


# Deterministic "version 2" of the corpus, shared by the diff/drift ops:
# doc_id % 10 == 0 removed, % 10 == 5 edited (suffix appended), one new
# doc per % 10 == 1 (id offset by 1,000,000). Pure column arithmetic, so
# both engines derive the identical v2 with no staged files.
_V2_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN text || ' v2 edit' ELSE text END AS text,
             n_chars + CASE WHEN doc_id % 10 = 5 THEN 8 ELSE 0 END AS n_chars
      FROM documents WHERE doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, n_chars
      FROM documents WHERE doc_id % 10 = 1
"""


def _corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    kept = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 5, F.concat(F.col("text"), F.lit(" v2 edit")))
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("n_chars") + F.when(F.col("doc_id") % 10 == 5, 8).otherwise(0)).alias(
            "n_chars"
        ),
    )
    added = d.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "n_chars"
    )
    return kept.unionByName(added)


@query(
    "x_dataset_diff",
    oracle=f"""
    WITH v2 AS ({_V2_SQL})
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN md5(a.text) <> md5(b.text) THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    WHERE NOT (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
               AND md5(a.text) = md5(b.text))
    """,
)
def x_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: added/removed/changed docs between two corpus
    snapshots by id + content hash (unchanged rows filtered out — at scale
    they are the overwhelming majority and the diff report should be
    proportional to churn, not corpus size). Full-outer hash join on the
    id, content compare via md5 — shuffle keys are ids and 32-byte
    hashes, never document bytes."""
    v1 = T(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("h1"))
    v2 = _corpus_v2(spark, sf_dir).select("doc_id", F.md5("text").alias("h2"))
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select("doc_id", "status")
    )


@query(
    "x_corpus_drift",
    oracle=f"""
    WITH v2 AS ({_V2_SQL}),
    h1 AS (SELECT n_chars // 100 AS bucket, COUNT(*) AS c1 FROM documents GROUP BY 1),
    h2 AS (SELECT n_chars // 100 AS bucket, COUNT(*) AS c2 FROM v2 GROUP BY 1),
    t1 AS (SELECT SUM(c1) AS n1 FROM h1),
    t2 AS (SELECT SUM(c2) AS n2 FROM h2)
    SELECT COALESCE(h1.bucket, h2.bucket) AS bucket,
           COALESCE(c1, 0) AS cnt_v1,
           COALESCE(c2, 0) AS cnt_v2,
           CAST(COALESCE(c1, 0) AS DOUBLE) / n1 AS share_v1,
           CAST(COALESCE(c2, 0) AS DOUBLE) / n2 AS share_v2,
           ABS(CAST(COALESCE(c1, 0) AS DOUBLE) / n1
               - CAST(COALESCE(c2, 0) AS DOUBLE) / n2) AS share_gap
    FROM h1 FULL OUTER JOIN h2 ON h1.bucket = h2.bucket
    CROSS JOIN t1 CROSS JOIN t2
    """,
)
def x_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between corpus versions: per
    length-bucket shares of each snapshot and their absolute gap (the
    ingredients of a KS/PSI drift gate a pipeline alarms on before
    training). Histograms are integer counts (bounded cardinality);
    shares are single IEEE divides — deterministic; the bucket join is
    dimension-sized regardless of corpus bytes."""
    v1 = T(spark, sf_dir, "documents")
    v2 = _corpus_v2(spark, sf_dir)
    h1 = (
        v1.groupBy(F.floor(F.col("n_chars") / 100).alias("bucket"))
        .agg(F.count("*").alias("c1"))
    )
    h2 = (
        v2.groupBy(F.floor(F.col("n_chars") / 100).alias("bucket"))
        .agg(F.count("*").alias("c2"))
    )
    # Totals are folded INTO the plan rather than eager .count() actions
    # at plan-construction time. Round 12 (guide §2.2): they are window
    # sums over the joined bucket table (bounded cardinality) — the old
    # single-row aggregate + crossJoin form re-derived each histogram
    # subtree for its total (16 Exchanges; sf0.1 median 0.52 -> 0.30 s
    # after, bit-equal at sf0.01/sf0.1). COALESCE keeps the sums equal to
    # the per-side totals: every h1 bucket row appears exactly once in
    # the full-outer join.
    c1 = F.coalesce("c1", F.lit(0))
    c2 = F.coalesce("c2", F.lit(0))
    j = (
        h1.join(h2, "bucket", "full_outer")
        .withColumn("n1", F.sum(c1).over(Window.partitionBy()))
        .withColumn("n2", F.sum(c2).over(Window.partitionBy()))
    )
    s1 = c1.cast("double") / F.col("n1")
    s2 = c2.cast("double") / F.col("n2")
    return j.select(
        "bucket",
        c1.alias("cnt_v1"),
        c2.alias("cnt_v2"),
        s1.alias("share_v1"),
        s2.alias("share_v2"),
        F.abs(s1 - s2).alias("share_gap"),
    )


@query(
    "x_tree_depth_pointer_jump",
    oracle="""
    WITH RECURSIVE walk(node, cur, d) AS (
      SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 1023
      UNION ALL
      SELECT node, (cur - 1) // 2, d + 1 FROM walk WHERE cur > 0
    )
    SELECT node AS doc_id, MAX(d) AS depth
    FROM walk GROUP BY node
    """,
)
def x_tree_depth_pointer_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal by pointer jumping: node depth in the implicit
    binary-heap tree (parent = (id-1)//2, root 0) over the first 1023
    docs. Each round joins the state with itself so the known-ancestor
    pointer doubles its reach — O(log depth) shuffles total versus the
    O(depth) self-joins of a naive walk (the recursive-CTE oracle does
    exactly that sequential walk). The same shape computes org-chart
    levels, thread nesting, or BOM depth at 100 TB, where depth ~ 40
    means 6 rounds instead of 40."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 1023)
    state = d.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") > 0, (F.col("doc_id") - 1) / F.lit(2))
        .otherwise(0)
        .cast("long")
        .alias("jump"),
        F.when(F.col("doc_id") > 0, 1).otherwise(0).cast("long").alias("d"),
    )
    # 1023 nodes -> max depth 9; 4 doubling rounds reach 2^4 = 16 >= 9.
    for _ in range(4):
        nxt = state.select(
            F.col("node").alias("jump"),
            F.col("jump").alias("jump2"),
            F.col("d").alias("d2"),
        )
        state = (
            state.join(nxt, "jump")
            .select("node", F.col("jump2").alias("jump"), (F.col("d") + F.col("d2")).alias("d"))
            .localCheckpoint()
        )
    return state.select(F.col("node").alias("doc_id"), F.col("d").alias("depth"))


_CURRICULUM_STAGES = 4

_CURR_SQL = f"""
    WITH scored AS (
      SELECT doc_id,
             NTILE({_CURRICULUM_STAGES}) OVER (ORDER BY n_chars, doc_id) AS stage,
             md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ),
    staged AS (
      SELECT doc_id, stage, shuffle_key,
             ROW_NUMBER() OVER (PARTITION BY stage
                                ORDER BY shuffle_key, doc_id) AS stage_pos,
             COUNT(*) OVER (PARTITION BY stage) AS stage_size
      FROM scored
    ),
    offsets AS (
      SELECT stage, stage_size,
             COALESCE(SUM(stage_size) OVER (ORDER BY stage
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS stage_offset
      FROM (SELECT DISTINCT stage, stage_size FROM staged)
    )
    SELECT s.doc_id, s.stage, s.stage_pos,
           CAST(o.stage_offset + s.stage_pos AS BIGINT) AS global_pos
    FROM staged s JOIN offsets o ON s.stage = o.stage
"""


@query("x_pack_curriculum", oracle=_CURR_SQL)
def x_pack_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: docs staged easy->hard by a difficulty proxy
    (length quartile via NTILE), deterministically shuffled WITHIN each
    stage (md5 of doc_id — reproducible, no RNG), then given a global
    training position as stage_offset + in-stage rank.

    The global order is never built with a global sort of the corpus: the
    in-stage rank is a window partitioned BY STAGE, and the offsets table
    is stage-count-sized (4 rows) — the same prefix-sum decomposition
    x_pack_sequences uses, so the plan scales as a partitioned window +
    broadcast join at 100 TB. The NTILE stage assignment is now ALSO
    clustered (global row number via deterministic buckets + one hash
    exchange + literal offsets + the front-loaded-remainder formula,
    functions/global_order.py), so
    the full plan has no single-partition pass over the corpus at all."""
    from ..functions.global_order import global_row_number, ntile_from_rn

    d = T(spark, sf_dir, "documents")
    scored = global_row_number(
        d.select("doc_id", "n_chars"),
        [("n_chars", "asc"), ("doc_id", "asc")],
        "rn",
        total_col="n_tot",
    ).select(
        "doc_id",
        ntile_from_rn("rn", "n_tot", _CURRICULUM_STAGES).alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    staged = scored.select(
        "doc_id",
        "stage",
        F.row_number()
        .over(Window.partitionBy("stage").orderBy("shuffle_key", "doc_id"))
        .alias("stage_pos"),
    )
    sizes = staged.groupBy("stage").agg(F.count("*").alias("stage_size"))
    offsets = sizes.select(
        "stage",
        F.coalesce(
            F.sum("stage_size").over(
                Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("stage_offset"),
    )
    return staged.join(F.broadcast(offsets), "stage").select(
        "doc_id",
        "stage",
        "stage_pos",
        (F.col("stage_offset") + F.col("stage_pos")).cast("bigint").alias("global_pos"),
    )


_REBALANCE_SQL = """
    WITH s AS (
      SELECT source, COUNT(*) AS docs,
             CAST(SUM(CEIL(n_chars / 4.0)) AS BIGINT) AS est_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(est_tokens) AS all_tokens, COUNT(*) AS n_sources FROM s)
    SELECT s.source, s.docs, s.est_tokens,
           CAST(s.est_tokens AS DOUBLE) / tot.all_tokens AS token_share,
           LEAST(1.0, (CAST(tot.all_tokens AS DOUBLE) / tot.n_sources)
                      / s.est_tokens) AS keep_rate
    FROM s CROSS JOIN tot
"""


@query("x_mix_rebalance_tokens", oracle=_REBALANCE_SQL)
def x_mix_rebalance_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture rebalancing (#80 cont.): compute each source's
    token share and the downsampling rate that equalizes token budgets
    across sources (rate = min(1, uniform_target / actual)). The output
    is the mixing table a sampler joins back onto the corpus (each doc
    kept when its md5 band < keep_rate, as x_sample_stratified does) —
    source-level cardinality, so the plan is one groupBy plus a broadcast
    single-row total at any corpus size; integer-exact token sums feed
    single IEEE divides."""
    d = T(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(F.ceil(F.col("n_chars") / 4.0)).cast("bigint").alias("est_tokens"),
    )
    tot = s.agg(
        F.sum("est_tokens").alias("all_tokens"), F.count("*").alias("n_sources")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "est_tokens",
        (F.col("est_tokens").cast("double") / F.col("all_tokens")).alias("token_share"),
        F.least(
            F.lit(1.0),
            (F.col("all_tokens").cast("double") / F.col("n_sources"))
            / F.col("est_tokens"),
        ).alias("keep_rate"),
    )


@query(
    "x_pipeline_contrastive_triplets",
    oracle=f"""
    WITH pos AS ({JACCARD_PAIRS}),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    cand AS (
      SELECT doc_a, doc_b, jaccard,
             ('0x' || substr(md5(CAST(doc_a AS VARCHAR) || ':' ||
                                 CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT
             % (SELECT n_docs FROM n) AS c0
      FROM pos
    )
    SELECT doc_a AS anchor, doc_b AS positive,
           CASE WHEN c0 <> doc_a AND c0 <> doc_b THEN c0
                WHEN (c0 + 1) % (SELECT n_docs FROM n) <> doc_a
                 AND (c0 + 1) % (SELECT n_docs FROM n) <> doc_b
                THEN (c0 + 1) % (SELECT n_docs FROM n)
                ELSE (c0 + 2) % (SELECT n_docs FROM n)
           END AS negative,
           jaccard AS pos_jaccard
    FROM cand
    """,
)
def x_pipeline_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-triplet mining (#76 cont.): each near-dup pair becomes
    an (anchor, positive) training pair, and the negative is drawn
    deterministically — md5(anchor:positive) mod corpus size, stepping
    past collisions with anchor/positive (doc_ids are contiguous 0..n-1,
    TESTDATA.md) — the hard-negative-free random baseline every
    contrastive embedding run starts from. No RNG anywhere, so resuming
    a 100 TB mining job regenerates identical triplets (the same
    md5-band determinism as x_dataset_split); a hard-negative upgrade
    swaps the md5 draw for an ANN neighbor outside the positive set
    (x_sim_ann_lsh substrate) without touching the pair plumbing."""
    from .dedup import x_dedup_near_jaccard

    pairs = x_dedup_near_jaccard(spark, sf_dir)
    # Corpus size folded INTO the plan (broadcast 1-row aggregate), never
    # an eager .count() at build time — the x_corpus_drift discipline.
    n = T(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    pairs = pairs.crossJoin(F.broadcast(n))
    n_docs = F.col("n_docs")
    c0 = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_a").cast("string"), F.col("doc_b").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % n_docs
    )
    c1 = (c0 + 1) % n_docs
    c2 = (c0 + 2) % n_docs
    neg = (
        F.when((c0 != F.col("doc_a")) & (c0 != F.col("doc_b")), c0)
        .when((c1 != F.col("doc_a")) & (c1 != F.col("doc_b")), c1)
        .otherwise(c2)
    )
    return pairs.select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        neg.alias("negative"),
        F.col("jaccard").alias("pos_jaccard"),
    )


@query(
    "etl_cdc_extract",
    oracle=f"""
    WITH v2 AS ({_V2_SQL}),
    h1 AS (SELECT doc_id, md5(text) AS h FROM documents),
    h2 AS (SELECT doc_id, md5(text) AS h FROM v2),
    j AS (
      SELECT COALESCE(h1.doc_id, h2.doc_id) AS doc_id, h1.h AS old_h, h2.h AS new_h
      FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
    ),
    ops AS (
      SELECT doc_id,
             CASE WHEN old_h IS NULL THEN 'insert'
                  WHEN new_h IS NULL THEN 'delete'
                  ELSE 'update' END AS op,
             CASE WHEN old_h IS NULL THEN 1 WHEN new_h IS NULL THEN 0 ELSE 2 END
               AS op_class,
             COALESCE(new_h, old_h) AS content_hash
      FROM j WHERE old_h IS NULL OR new_h IS NULL OR old_h <> new_h
    )
    SELECT op, doc_id, content_hash,
           ROW_NUMBER() OVER (ORDER BY op_class, doc_id) AS op_seq
    FROM ops
    """,
)
def etl_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extraction (#78 cont., the inverse of stream_cdc_upsert): diff
    two table snapshots into an ORDERED change feed — deletes first
    (op_class 0), then inserts, then updates, each by key — such that
    replaying the feed through a MERGE sink reconstructs v2 from v1
    exactly. This is how a pipeline without database-native CDC (the
    Access-export world of the reference) still ships incremental
    changes downstream: hash-compare snapshots, emit only churn. Shuffle
    carries ids + 32-byte hashes, never document bytes; feed size is
    proportional to churn, not corpus. op_seq is a clustered global row
    number (functions/global_order.py) bucketed on the ASC-monotone
    composite op_class*2^42 + doc_id (op_class alone has 3 values), so
    even a corpus-sized churn feed never funnels through one task."""
    v1 = T(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("old_h"))
    v2 = _corpus_v2(spark, sf_dir).select("doc_id", F.md5("text").alias("new_h"))
    j = v1.join(v2, "doc_id", "full_outer")
    op = (
        F.when(F.col("old_h").isNull(), "insert")
        .when(F.col("new_h").isNull(), "delete")
        .otherwise("update")
    )
    op_class = (
        F.when(F.col("old_h").isNull(), 1).when(F.col("new_h").isNull(), 0).otherwise(2)
    )
    ops = (
        j.filter(
            F.col("old_h").isNull()
            | F.col("new_h").isNull()
            | (F.col("old_h") != F.col("new_h"))
        )
        .select(
            op.alias("op"),
            "doc_id",
            F.coalesce("new_h", "old_h").alias("content_hash"),
            op_class.alias("op_class"),
        )
    )
    from ..functions.global_order import global_row_number

    seq = global_row_number(
        ops,
        [("op_class", "asc"), ("doc_id", "asc")],
        "op_seq",
        bucket_key=F.col("op_class") * F.lit(2**42) + F.col("doc_id"),
    )
    return seq.select("op", "doc_id", "content_hash", "op_seq")


@query(
    "x_sample_weighted_priority",
    oracle="""
    SELECT doc_id, n_chars,
           ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
            / 4294967296.0) / n_chars AS draw_key
    FROM documents
    ORDER BY draw_key, doc_id
    LIMIT 20
    """,
)
def x_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (#79 cont.), sequential-
    Poisson style (Ohlsson): each doc draws u from a deterministic md5
    of its id, ranked by u/weight, and the 20 smallest keys win — longer
    documents (weight = n_chars) are proportionally likelier, the
    training-mixture primitive for length-weighted corpus draws.

    Everything is RNG-free and transcendental-free: u = (h+1)/2^32 is an
    exact dyadic rational (h+1 <= 2^32 is exact in a double, the divide
    by a power of two is lossless), the key is ONE further IEEE divide —
    bit-identical on both engines, unlike the classic -ln(u)/w
    exponential-race key whose libm ln costs a ulp haggle. Plan is
    TakeOrderedAndProject: each partition keeps its local top-20, the
    driver merges 20*P rows — no global sort at any corpus size; resuming
    a crashed job regenerates the identical sample."""
    d = T(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    key = ((h + F.lit(1.0)) / F.lit(4294967296.0)) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", key.alias("draw_key"))
        .orderBy("draw_key", "doc_id")
        .limit(20)
    )


_K_ANON = 5


@query(
    "x_privacy_k_anonymity",
    oracle=f"""
    WITH full_qi AS (
      SELECT COUNT(*) AS csize FROM customer
      GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 2000)
    ),
    gen_qi AS (
      SELECT COUNT(*) AS csize FROM customer
      GROUP BY c_nationkey, c_mktsegment
    ),
    score AS (
      SELECT 'nation+segment+balance_bucket' AS qi_set,
             COUNT(*) AS n_classes,
             CAST(MIN(csize) AS BIGINT) AS k_anonymity,
             CAST(SUM(CASE WHEN csize < {_K_ANON} THEN csize ELSE 0 END) AS BIGINT) AS rows_at_risk,
             CAST(SUM(csize) AS BIGINT) AS n_rows
      FROM full_qi
      UNION ALL
      SELECT 'nation+segment',
             COUNT(*), CAST(MIN(csize) AS BIGINT),
             CAST(SUM(CASE WHEN csize < {_K_ANON} THEN csize ELSE 0 END) AS BIGINT),
             CAST(SUM(csize) AS BIGINT)
      FROM gen_qi
    )
    SELECT qi_set, n_classes, k_anonymity, rows_at_risk, n_rows,
           CAST(rows_at_risk AS DOUBLE) / n_rows AS risk_share,
           k_anonymity >= {_K_ANON} AS releasable
    FROM score
    """,
)
def x_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (#96 cont., k={_K_ANON}): equivalence-class sizes
    over a quasi-identifier set, reporting the dataset's k (the smallest
    class), how many rows sit in classes below k (re-identifiable under
    linkage), and whether the release gate passes — evaluated for the
    raw QI set AND a generalization step (dropping the balance bucket),
    demonstrating the generalize-until-k-holds loop that anonymization
    pipelines run before data leaves the boundary (the audit
    counterpart of etl_pseudonymize_keys and x_text_redact_pii).

    Each QI set costs one two-phase groupBy whose shuffle carries class
    keys + counts, then a few-row summary aggregate; classes, not rows,
    ride the second pass, so the audit is as cheap as any profiling
    scan at 100 TB."""
    c = T(spark, sf_dir, "customer")

    def classes(cols: list, label: str) -> DataFrame:
        cs = c.groupBy(*cols).agg(F.count("*").alias("csize"))
        return cs.agg(
            F.count("*").alias("n_classes"),
            F.min("csize").cast("bigint").alias("k_anonymity"),
            F.sum(F.when(F.col("csize") < _K_ANON, F.col("csize")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.sum("csize").cast("bigint").alias("n_rows"),
        ).select(F.lit(label).alias("qi_set"), "n_classes", "k_anonymity", "rows_at_risk", "n_rows")

    bal_bucket = F.floor(F.col("c_acctbal") / 2000)
    full_qi = classes(["c_nationkey", "c_mktsegment", bal_bucket.alias("bb")],
                      "nation+segment+balance_bucket")
    gen_qi = classes(["c_nationkey", "c_mktsegment"], "nation+segment")
    out = full_qi.unionByName(gen_qi)
    return out.select(
        "qi_set",
        "n_classes",
        "k_anonymity",
        "rows_at_risk",
        "n_rows",
        (F.col("rows_at_risk").cast("double") / F.col("n_rows")).alias("risk_share"),
        (F.col("k_anonymity") >= _K_ANON).alias("releasable"),
    )


_LEN_BUCKETS = (64, 128, 256, 512, 1024, 2048, 4096)


@query(
    "x_pack_length_bucketing",
    oracle=f"""
    WITH b AS (
      SELECT n_chars,
             CASE
               {' '.join(f"WHEN n_chars <= {t} THEN {t}" for t in _LEN_BUCKETS)}
               ELSE -1
             END AS bucket_max
      FROM documents
    )
    SELECT bucket_max,
           COUNT(*) AS docs,
           CAST(SUM(n_chars) AS BIGINT) AS content_chars,
           CAST(COUNT(*) * bucket_max AS BIGINT) AS padded_chars,
           CAST(SUM(n_chars) AS DOUBLE) / (COUNT(*) * bucket_max) AS pack_efficiency
    FROM b WHERE bucket_max > 0
    GROUP BY bucket_max
    """,
)
def x_pack_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (#69 cont.): assign each document to the
    smallest power-of-two length bucket that holds it and report the
    padding efficiency (content / padded capacity) per bucket — the
    dynamic-batching layout that cuts padding waste when fixed-shape
    batches feed an accelerator, complementary to x_pack_sequences'
    concat-packing (bucketing preserves document boundaries; packing
    does not).

    The bucket ladder is a literal CASE (no log2 at query time — the
    transcendental's boundary behavior at exact powers of two differs
    per libm); everything else is one two-phase aggregate whose shuffle
    carries #buckets rows. At scale the same bucket column becomes the
    repartition key, so each output file holds one shape."""
    d = T(spark, sf_dir, "documents")
    expr = "CASE " + " ".join(
        f"WHEN n_chars <= {t} THEN {t}" for t in _LEN_BUCKETS
    ) + " ELSE -1 END"
    b = d.select("n_chars", F.expr(expr).alias("bucket_max")).filter(
        F.col("bucket_max") > 0
    )
    return b.groupBy("bucket_max").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").cast("bigint").alias("content_chars"),
        (F.count("*") * F.col("bucket_max").cast("bigint")).cast("bigint").alias("padded_chars"),
        (
            F.sum("n_chars").cast("double")
            / (F.count("*") * F.col("bucket_max").cast("bigint"))
        ).alias("pack_efficiency"),
    )


@query(
    "x_mix_epoch_shuffle",
    oracle="""
    WITH ordered AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY epoch
               ORDER BY md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
             ) AS position
      FROM (SELECT doc_id FROM documents), (SELECT UNNEST(range(3)) AS epoch)
    )
    SELECT epoch, position, doc_id
    FROM ordered WHERE position <= 25
    """,
)
def x_mix_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffling (#80 cont.): each training epoch
    orders the corpus by md5(epoch || doc_id) — a different but fully
    reproducible permutation per epoch, so a resumed/re-run job sees the
    identical batch order with zero shuffle-state to persist (the data-
    loader property RNG seeds only give you if the worker topology never
    changes). Emitted: each epoch's first 25 positions.

    The hash IS the sort key, so at scale the epoch order is a
    repartitionByRange over it (range-partitioned sort, no global
    bottleneck), and epochs are independent — exactly how multi-epoch
    corpus orders ship to trainers."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("bigint").alias("epoch"))
    key = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
        )
    )
    ordered = d.crossJoin(F.broadcast(epochs)).withColumn(
        "position",
        F.row_number().over(Window.partitionBy("epoch").orderBy(key)),
    )
    return ordered.filter(F.col("position") <= 25).select("epoch", "position", "doc_id")


_MIX_ALPHA = 0.75  # mixture temperature: share^alpha flattens the head


@query(
    "x_mix_source_temperature",
    oracle=f"""
    WITH s AS (
      SELECT source, COUNT(*) AS docs FROM documents GROUP BY source
    ),
    n AS (SELECT CAST(SUM(docs) AS BIGINT) AS total FROM s),
    p AS (
      SELECT source, docs,
             CAST(ROUND(POW(CAST(docs AS DOUBLE) / n.total, {_MIX_ALPHA}), 12)
                  AS DECIMAL(28,15)) AS pw
      FROM s CROSS JOIN n
    ),
    z AS (SELECT CAST(SUM(pw) AS DOUBLE) AS norm FROM p)
    SELECT p.source, p.docs,
           CAST(p.pw AS DOUBLE) / z.norm AS mix_weight,
           (CAST(p.pw AS DOUBLE) / z.norm)
             / (CAST(p.docs AS DOUBLE) / n.total) AS upsample_factor
    FROM p CROSS JOIN z CROSS JOIN n
    """,
)
def x_mix_source_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source (#80 cont.): raw
    corpus shares raised to alpha = {_MIX_ALPHA} and renormalized — the
    standard training-mixture design that flattens dominant sources and
    upsamples the tail without hand-tuned weights (alpha = 1 is
    proportional, 0 is uniform); the emitted upsample_factor is what
    x_mix_weighted_repeat consumes as its repeat count.

    The one transcendental (pow) is applied to a few-rows-per-source
    table and ROUNDed then DECIMAL-summed for the normalizer, so the
    weights are deterministic cross-engine; everything before is exact
    integer counting. At 100 TB this query costs one count per source —
    the mixture table is metadata.

    Round 12 (guide §2.2): total and normalizer are single-partition
    window sums over the per-source table (bounded by #sources) instead
    of single-row aggregates crossJoined back — the old form re-derived
    the groupBy once per consumer (20 Exchanges). Now ONE documents
    shuffle + 2 thin windows; sf0.1 median 0.81 -> 0.30 s; bit-equal at
    sf0.01/sf0.1."""
    d = T(spark, sf_dir, "documents")
    p = (
        d.groupBy("source").agg(F.count("*").alias("docs"))
        .withColumn("total", F.sum("docs").over(Window.partitionBy()))
        .withColumn(
            "pw",
            F.round(
                F.pow(F.col("docs").cast("double") / F.col("total"), _MIX_ALPHA), 12
            ).cast("decimal(28,15)"),
        )
        .withColumn("norm", F.sum("pw").over(Window.partitionBy()).cast("double"))
    )
    return p.select(
        "source",
        "docs",
        (F.col("pw").cast("double") / F.col("norm")).alias("mix_weight"),
        (
            (F.col("pw").cast("double") / F.col("norm"))
            / (F.col("docs").cast("double") / F.col("total"))
        ).alias("upsample_factor"),
    )


_RESERVOIR_K = 5  # docs kept per source stratum


@query(
    "x_sample_reservoir_stratified",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT + 1)
              / 4294967296.0) AS draw_key
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, n_chars, draw_key,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY draw_key, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, n_chars, draw_key, rn
    FROM ranked WHERE rn <= {_RESERVOIR_K}
    """,
)
def x_sample_reservoir_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform reservoir sample of k=5 docs per source stratum — the
    distributed twin of classic Algorithm R, via the key equivalence: a
    size-k reservoir over any arrival order is distribution-identical to
    keeping the k smallest uniform draw keys, and THAT formulation merges
    — each partition keeps its local per-stratum top-k, merges keep the
    best k again (associative, resume-safe), where a literal
    sequential-reservoir state is order-dependent and unmergeable. Draw
    keys are md5-derived exact dyadic rationals (chars 9-16, a disjoint
    slice from the weighted sampler's so the two samples are
    independent); no RNG, the sample is bit-stable across reruns.

    Plan note: rn <= k over (source, key) is Spark's WindowGroupLimit —
    the per-partition rank prune runs BEFORE the shuffle, so only ~k rows
    per stratum per partition ever move."""
    d = T(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    key = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    keyed = d.select("source", "doc_id", "n_chars", key.alias("draw_key"))
    w = Window.partitionBy("source").orderBy("draw_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RESERVOIR_K)
    )


_L_DIVERSITY = 3


@query(
    "x_privacy_l_diversity",
    oracle=f"""
    WITH s AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sens
      FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS class_size,
           COUNT(DISTINCT sens) AS n_sensitive,
           COUNT(DISTINCT sens) >= {_L_DIVERSITY} AS meets_l
    FROM s GROUP BY c_nationkey, c_mktsegment
    """,
)
def x_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (#196 cont.): x_privacy_k_anonymity checks class
    SIZES; this checks class VARIETY — every quasi-identifier class
    (nation, market segment) must contain >= l distinct sensitive values
    (account-balance band), else membership in the class leaks the
    sensitive attribute even when k-anonymity holds (the homogeneity
    attack). Class-level aggregation only — one groupBy on the QI with a
    distinct-count, no row-level data leaves the executors."""
    c = T(spark, sf_dir, "customer")
    s = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("sens"),
    )
    return s.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size"),
        F.countDistinct("sens").alias("n_sensitive"),
        (F.countDistinct("sens") >= _L_DIVERSITY).alias("meets_l"),
    )


@query(
    "x_pipeline_dataset_card",
    oracle="""
    WITH d AS (
      SELECT lang, source, n_chars,
             CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ),
    card AS (
      SELECT COALESCE(lang, '<all>') AS lang,
             COALESCE(source, '<all>') AS source,
             COUNT(*) AS docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(est_tokens) AS BIGINT) AS est_tokens,
             CAST(MIN(n_chars) AS BIGINT) AS min_chars,
             CAST(MAX(n_chars) AS BIGINT) AS max_chars
      FROM d GROUP BY GROUPING SETS ((lang), (source), ())
    ),
    tot AS (SELECT COUNT(*) AS n FROM d)
    SELECT lang, source, docs, total_chars, est_tokens, min_chars, max_chars,
           CAST(docs AS DOUBLE) / tot.n AS frac_docs
    FROM card, tot
    """,
)
def x_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics rollup: the per-language, per-source and
    overall composition summary (docs, chars, estimated tokens, length
    extremes, corpus fraction) a training-data release publishes alongside
    the parquet — produced in ONE grouping-sets pass over the corpus
    instead of three separate scans (at 100 TB the scan IS the cost; the
    expand operator triples only the tiny aggregation state, not the
    input). NULL grouping markers are folded to '<all>' so the result
    carries no engine-specific NULL-ordering ambiguity."""
    d = T(spark, sf_dir, "documents").select(
        "lang",
        "source",
        "n_chars",
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_tokens"),
    )
    card = (
        d.groupingSets([["lang"], ["source"], []], "lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("est_tokens").cast("bigint").alias("est_tokens"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "docs",
            "total_chars",
            "est_tokens",
            "min_chars",
            "max_chars",
        )
    )
    tot = d.agg(F.count("*").alias("n"))
    return card.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "docs",
        "total_chars",
        "est_tokens",
        "min_chars",
        "max_chars",
        (F.col("docs").cast("double") / F.col("n")).alias("frac_docs"),
    )


# Merkle anti-entropy tree: 256 md5-of-id leaf buckets, 16-way fan-in to
# level 1, root at level 2. Row digest modulus = 10 hex chars (40 bits)
# so a leaf/level/root SUM can never overflow BIGINT (Spark wraps
# silently under non-ANSI where DuckDB widens to HUGEINT).
_MERKLE_LEAVES = 256
_MERKLE_FANIN = 16

_MERKLE_LEAF_SQL = """
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 256
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || md5(text)),
                                      1, 10))::BIGINT) AS BIGINT) AS ck
      FROM {src} GROUP BY 1
"""


@query(
    "etl_merkle_sync_diff",
    oracle=f"""
    WITH v2 AS ({_V2_SQL}),
    l1 AS ({_MERKLE_LEAF_SQL.format(src="documents")}),
    l2 AS ({_MERKLE_LEAF_SQL.format(src="v2")}),
    leaf AS (
      SELECT COALESCE(a.bucket, b.bucket) AS node_id,
             COALESCE(a.n, 0) AS n_v1, COALESCE(b.n, 0) AS n_v2,
             COALESCE(a.ck, 0) AS ck_v1, COALESCE(b.ck, 0) AS ck_v2
      FROM l1 a FULL OUTER JOIN l2 b ON a.bucket = b.bucket
    ),
    mid AS (
      SELECT node_id // {_MERKLE_FANIN} AS node_id,
             CAST(SUM(n_v1) AS BIGINT) AS n_v1, CAST(SUM(n_v2) AS BIGINT) AS n_v2,
             CAST(SUM(ck_v1) AS BIGINT) AS ck_v1, CAST(SUM(ck_v2) AS BIGINT) AS ck_v2
      FROM leaf GROUP BY 1
    ),
    root AS (
      SELECT CAST(0 AS BIGINT) AS node_id,
             CAST(SUM(n_v1) AS BIGINT) AS n_v1, CAST(SUM(n_v2) AS BIGINT) AS n_v2,
             CAST(SUM(ck_v1) AS BIGINT) AS ck_v1, CAST(SUM(ck_v2) AS BIGINT) AS ck_v2
      FROM mid
    ),
    tree AS (
      SELECT 0 AS level, * FROM leaf
      UNION ALL SELECT 1 AS level, * FROM mid
      UNION ALL SELECT 2 AS level, * FROM root
    )
    SELECT level, CAST(node_id AS BIGINT) AS node_id, n_v1, n_v2, ck_v1, ck_v2
    FROM tree WHERE ck_v1 <> ck_v2 OR n_v1 <> n_v2
    """,
)
def etl_merkle_sync_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree anti-entropy diff (Dynamo/Cassandra repair, applied
    to corpus sync): both corpus versions roll into a 3-level hash tree
    (256 md5-bucketed leaves, 16-way fan-in, root), and the output is
    exactly the DIFFERING subtree — the node set a replica pair
    exchanges to find out-of-sync row ranges in O(tree) messages instead
    of O(rows). Leaf checksums are order-independent additive digests
    (overflow-proof modulus), so every level is a re-aggregation of the
    level below: the whole tree is ONE scan per version plus two thin
    rollups, and at 100 TB the leaves land pre-partitioned by the same
    md5 band the sync protocol shards on.

    Composes with x_dataset_diff: this op finds WHICH buckets disagree
    at metadata cost; the row-level diff then runs only inside those
    buckets."""
    digest = lambda: F.conv(  # noqa: E731 — tiny shared column macro
        F.substring(
            F.md5(
                F.concat_ws("#", F.col("doc_id").cast("string"), F.md5("text"))
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    bucket = lambda: (  # noqa: E731
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % _MERKLE_LEAVES
    )

    def leaf_of(df: DataFrame) -> DataFrame:
        return (
            df.select(bucket().alias("bucket"), digest().alias("dg"))
            .groupBy("bucket")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("dg").cast("bigint").alias("ck"),
            )
        )

    v1 = leaf_of(T(spark, sf_dir, "documents").select("doc_id", "text"))
    v2 = leaf_of(_corpus_v2(spark, sf_dir).select("doc_id", "text"))
    a, b = v1.alias("a"), v2.alias("b")
    leaf = a.join(b, F.col("a.bucket") == F.col("b.bucket"), "full_outer").select(
        F.coalesce(F.col("a.bucket"), F.col("b.bucket")).alias("node_id"),
        F.coalesce(F.col("a.n"), F.lit(0)).cast("bigint").alias("n_v1"),
        F.coalesce(F.col("b.n"), F.lit(0)).cast("bigint").alias("n_v2"),
        F.coalesce(F.col("a.ck"), F.lit(0)).cast("bigint").alias("ck_v1"),
        F.coalesce(F.col("b.ck"), F.lit(0)).cast("bigint").alias("ck_v2"),
    )
    # Round 12 (guide §2.2): the three tree levels used to be three
    # separate branches over `leaf` (leaf / mid-rollup / root-rollup
    # unioned), re-running the leaf join per branch — 18 Exchanges. Each
    # leaf row now EXPLODES into its three (level, node_id) ancestors and
    # one groupBy builds the whole tree (level-0 groups are singletons,
    # so their sums are identities). 1 aggregation over 3*256 rows;
    # sf0.1 median 0.52 -> 0.33 s; bit-equal at sf0.01/sf0.1.
    lvl = F.explode(
        F.array(
            F.struct(F.lit(0).alias("level"), F.col("node_id").alias("nid")),
            F.struct(
                F.lit(1).alias("level"),
                F.floor(F.col("node_id") / _MERKLE_FANIN).cast("bigint").alias("nid"),
            ),
            F.struct(F.lit(2).alias("level"), F.lit(0).cast("bigint").alias("nid")),
        )
    )
    tree = (
        leaf.select(lvl.alias("x"), "n_v1", "n_v2", "ck_v1", "ck_v2")
        .select(
            F.col("x.level").alias("level"), F.col("x.nid").alias("node_id"),
            "n_v1", "n_v2", "ck_v1", "ck_v2",
        )
        .groupBy("level", "node_id")
        .agg(
            F.sum("n_v1").cast("bigint").alias("n_v1"),
            F.sum("n_v2").cast("bigint").alias("n_v2"),
            F.sum("ck_v1").cast("bigint").alias("ck_v1"),
            F.sum("ck_v2").cast("bigint").alias("ck_v2"),
        )
    )
    return tree.filter(
        (F.col("ck_v1") != F.col("ck_v2")) | (F.col("n_v1") != F.col("n_v2"))
    ).select("level", "node_id", "n_v1", "n_v2", "ck_v1", "ck_v2")


_T_CLOSE_PPM = 200000  # release threshold: EMD <= 0.20


@query(
    "x_privacy_t_closeness",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sb
      FROM customer
    ),
    dom AS (SELECT DISTINCT sb FROM c),
    cls AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS nc
            FROM c GROUP BY 1, 2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT sb) AS BIGINT) AS m FROM c),
    gb AS (SELECT sb, CAST(COUNT(*) AS BIGINT) AS gcnt FROM c GROUP BY sb),
    gcum AS (SELECT sb, CAST(SUM(gcnt) OVER (ORDER BY sb
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum
             FROM gb),
    cb AS (SELECT c_nationkey, c_mktsegment, sb, CAST(COUNT(*) AS BIGINT) AS ccnt
           FROM c GROUP BY 1, 2, 3),
    dense AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc, dom.sb,
             COALESCE(cb.ccnt, 0) AS ccnt
      FROM cls CROSS JOIN dom
      LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
                  AND cb.c_mktsegment = cls.c_mktsegment
                  AND cb.sb = dom.sb
    ),
    ccum AS (
      SELECT c_nationkey, c_mktsegment, nc, sb,
             CAST(SUM(ccnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY sb ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS ccum
      FROM dense
    ),
    terms AS (
      SELECT x.c_nationkey, x.c_mktsegment, x.nc,
             CAST(SUM(ABS(x.ccum * t.n - g.gcum * x.nc)) AS BIGINT) AS num,
             ANY_VALUE(t.n) AS n, ANY_VALUE(t.m) AS m
      FROM ccum x
      JOIN gcum g ON g.sb = x.sb
      CROSS JOIN tot t
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, nc AS class_size,
           CAST(num AS DOUBLE) / (nc * n * (m - 1)) AS emd,
           CAST(ROUND(1000000.0 * num / (nc * n * (m - 1)), 0) AS BIGINT)
             <= {_T_CLOSE_PPM} AS t_close_ok
    FROM terms
    """,
)
def x_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE 2007) — the third leg of the
    privacy trio: k-anonymity bounds class SIZE, l-diversity bounds
    sensitive-value VARIETY, t-closeness bounds the DISTANCE between
    each class's sensitive distribution and the global one (a class can
    pass both k and l yet still leak — e.g. 90% of its members in the
    top balance bucket when globally that bucket holds 10%). Distance =
    the ordered-attribute Earth Mover's Distance: mean absolute
    difference of the cumulative distributions over the ordered balance
    buckets, the t-closeness paper's own formulation.

    Exactness: the EMD is computed entirely on the integer lattice by
    cross-multiplying cumulative counts (|ccum*N - gcum*nc| — BIGINTs,
    no per-class divides until the single final one), so the audit is
    bit-identical at any parallelism. Shape: three thin aggregations
    (class, class x bucket, global x bucket), a broadcast bucket-domain
    densification (zero-count buckets MUST enter the cumsum), and a
    6-row-per-class window — classes, never rows, ride every join; at
    100 TB this costs what any profiling scan costs."""
    c = T(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("sb"),
    )
    # ONE pass over customer: the finest-grain (class x bucket) count table.
    # Every other statistic the audit needs — class sizes, bucket domain,
    # global bucket histogram, total count, bucket count — is a re-aggregation
    # of this bounded table (guide §2.4: derive marginals from one shuffled
    # substrate instead of re-scanning the fact). The localCheckpoint is the
    # materialization barrier that makes "one pass" real: without it,
    # Catalyst's column pruning and join-key null filters specialize each
    # consumer's copy of the subtree, so no two exchanges stay canonical-
    # equal and the fact is scanned five times (measured: 5 FileScans, 0
    # ReusedExchange). The checkpointed table is classes x buckets — a
    # profiling grain that stays broadcast-small at any corpus size.
    # Counts are integers, so every derived sum is bit-identical.
    cb = (
        c.groupBy("c_nationkey", "c_mktsegment", "sb")
        .agg(F.count("*").cast("bigint").alias("ccnt"))
        .localCheckpoint()
    )
    dom = cb.select("sb").distinct()
    cls = cb.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("ccnt").cast("bigint").alias("nc")
    )
    tot = cb.agg(
        F.sum("ccnt").cast("bigint").alias("n"),
        F.countDistinct("sb").cast("bigint").alias("m"),
    )
    gb = cb.groupBy("sb").agg(F.sum("ccnt").cast("bigint").alias("gcnt"))
    w_g = Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, 0)
    gcum = gb.select("sb", F.sum("gcnt").over(w_g).cast("bigint").alias("gcum"))
    dense = (
        cls.crossJoin(F.broadcast(dom))
        .join(cb, ["c_nationkey", "c_mktsegment", "sb"], "left_outer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "nc",
            "sb",
            F.coalesce(F.col("ccnt"), F.lit(0)).alias("ccnt"),
        )
    )
    w_c = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("sb").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ccum = dense.select(
        "c_nationkey",
        "c_mktsegment",
        "nc",
        "sb",
        F.sum("ccnt").over(w_c).cast("bigint").alias("ccum"),
    )
    terms = (
        ccum.join(F.broadcast(gcum), "sb")
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "nc")
        .agg(
            F.sum(F.abs(F.col("ccum") * F.col("n") - F.col("gcum") * F.col("nc")))
            .cast("bigint")
            .alias("num"),
            F.first("n").alias("n"),
            F.first("m").alias("m"),
        )
    )
    denom = F.col("nc") * F.col("n") * (F.col("m") - 1)
    return terms.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("nc").alias("class_size"),
        (F.col("num").cast("double") / denom).alias("emd"),
        (
            F.round(F.lit(1000000.0) * F.col("num") / denom, 0).cast("bigint")
            <= _T_CLOSE_PPM
        ).alias("t_close_ok"),
    )
