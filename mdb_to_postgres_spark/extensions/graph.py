"""Graph analytics over the document near-duplicate graph (SURVEY.md
§2.12): PageRank and triangle counting as iterative/self-join DataFrame
programs — the same substrate (shingle-Jaccard edges) the dedup tier
already materializes, so the graph is free.

Scale shapes:
- PageRank: each iteration is one join (ranks -> edges on src) + one
  groupBy(dst) — the textbook distributed formulation; contributions are
  cast to exact decimals before the SUM so ranks are bit-deterministic at
  any parallelism (float summation order never leaks into the result).
  Fixed iteration count, localCheckpoint between rounds to cut lineage.
- Triangles: ordered-edge three-way self-join (a<b<c) — each edge triple
  is counted exactly once, and the join keys are thin (doc_id, doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import session_cache_get
from .dedup import x_dedup_near_jaccard
from .doc_text import JACCARD_PAIRS

_PR_DAMP = 0.85
_PR_ITERS = 3
_PR_DEC = "DECIMAL(28,15)"

# The (doc_a, doc_b) similarity pair list is the substrate of every graph
# query here — materialized once per (session, sf) like the shingle index
# it derives from (at 100 TB this is the edge table a pipeline writes once
# per corpus snapshot).
def _sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_cache_get(
        spark,
        sf_dir,
        "graph.pairs",
        lambda: x_dedup_near_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(),
    )

# The Jaccard pair query body, reusable as a CTE prefix: (doc_a, doc_b,
# jaccard) with doc_a < doc_b.
# MATERIALIZED: DuckDB otherwise re-evaluates the (expensive) pair-list
# CTE for EVERY reference — the unrolled 3-iteration PageRank oracle
# references it enough times to spill >75 GB of temp at the 10x replica
# (round-10 finding). Same results, evaluated once.
_PAIRS_CTE = f"pairs AS MATERIALIZED ({JACCARD_PAIRS})"


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank: it0 = 1/N over edge-endpoint
    nodes; each iteration sums exact-decimal contributions rank/out_deg
    over in-edges. Every node in the undirected edge set has out-degree
    >= 1, so there is no dangling mass to redistribute."""
    its = []
    prev = "it0"
    for i in range(1, _PR_ITERS + 1):
        its.append(
            f"""it{i} AS (
      SELECT n.node,
             (1 - {_PR_DAMP}) / (SELECT COUNT(*) FROM nodes)
             + {_PR_DAMP} * COALESCE(c.contrib, 0.0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(p.rank / d.out_deg AS {_PR_DEC})) AS DOUBLE) AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
        prev = f"it{i}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY src),
    it0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS rank FROM nodes),
    {its_sql}
    SELECT node AS doc_id, rank AS pagerank FROM {prev}
    """


@query("x_graph_pagerank", oracle=_pagerank_oracle())
def x_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate similarity graph: undirected
    Jaccard edges, damping 0.85, fixed 3 iterations.

    Each iteration is one thin join + one groupBy — per-iteration shuffle
    bytes scale with edge count, never corpus bytes. Contributions are
    cast to DECIMAL(28,15) before summation, so the rank vector is
    bit-identical at any partitioning (and hash-checkable against the
    unrolled-CTE oracle); the final (1-d)/N + d*contrib is the same IEEE
    sequence on both engines. Restricted to edge-endpoint nodes: every
    node has out-degree >= 1, so no dangling-mass term is needed."""
    pairs = _sim_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Round-12 shape (guide §2.4): checkpoint the LOOP-INVARIANT substrates
    # once (nodes is referenced per iteration by the left join, src_deg by
    # the contribution join — without materialization the fused plan would
    # re-run the distinct / degree shuffles per reference), then run the
    # fixed 3 iterations as ONE lazy plan. The previous per-iteration
    # eager localCheckpoint cost a separate job cascade per round — 31
    # jobs per call vs 8 now; measured 2.9x (1.62 -> 0.55 s min at sf0.1,
    # bit-equal ranks). ranks is referenced exactly once per iteration,
    # so the fused lineage is linear — no exponential recompute; at a
    # much higher iteration count a checkpoint CADENCE (every ~10 rounds)
    # would cap plan depth, which the 3-round form does not need.
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n_nodes = nodes.count()  # scalar only: the (tiny, materialized) node-set size
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    src_deg = edges.join(deg, "src").localCheckpoint()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - _PR_DAMP) / n_nodes
    for _ in range(_PR_ITERS):
        contrib = (
            src_deg.join(ranks, src_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).cast(_PR_DEC).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(_PR_DAMP) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("rank").alias("pagerank"))


_TRIANGLE_ORACLE = f"""
    WITH {_PAIRS_CTE},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
    SELECT e1.a AS doc_x, e1.b AS doc_y, e2.b AS doc_z
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@query("x_graph_triangles", oracle=_TRIANGLE_ORACLE)
def x_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration in the similarity graph: ordered-edge
    three-way self-join (x<y<z by construction, so each triangle appears
    exactly once). The classic pre-clustering diagnostic — a triangle-rich
    near-dup graph means transitive duplicate families that connected
    components will merge. Joins carry only (doc_id, doc_id) pairs."""
    e = _sim_pairs(spark, sf_dir).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e1 = e.select(F.col("a").alias("doc_x"), F.col("b").alias("doc_y"))
    e2 = e.select(F.col("a").alias("doc_y"), F.col("b").alias("doc_z"))
    e3 = e.select(F.col("a").alias("doc_x"), F.col("b").alias("doc_z"))
    return e1.join(e2, "doc_y").join(e3, ["doc_x", "doc_z"]).select(
        "doc_x", "doc_y", "doc_z"
    )


@query(
    "x_graph_degree_distribution",
    oracle=f"""
    WITH pairs AS ({JACCARD_PAIRS}),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_nodes,
           CAST(SUM(degree) AS BIGINT) AS edge_endpoints
    FROM deg GROUP BY degree
    """,
)
def x_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (#75 cont.): the
    histogram that sizes every downstream graph pass — a heavy tail here
    is what turns connected-components or PageRank into a skew problem
    (one hub's edges land on one reducer), so pipelines read this before
    choosing salting.

    Endpoints are counted by unioning both edge directions (each
    undirected edge contributes one endpoint to each side) — a
    map-side-combinable count per node, then a second tiny aggregate over
    the degree values. Reuses the cached similarity-pair substrate; costs
    two thin shuffles (doc_id, then degree) regardless of corpus size."""
    pairs = _sim_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").alias("n_nodes"),
        F.sum("degree").cast("bigint").alias("edge_endpoints"),
    )


_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    sql = (
        f"WITH pairs AS MATERIALIZED ({JACCARD_PAIRS}),"
        "\n    e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs)"
    )
    for r in range(_KCORE_ROUNDS):
        sql += f""",
    d{r} AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM e{r}
        UNION ALL SELECT doc_b FROM e{r}
      ) GROUP BY doc_id HAVING COUNT(*) >= {_KCORE_K}
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT e.doc_a, e.doc_b FROM e{r} e
      JOIN d{r} a ON e.doc_a = a.doc_id
      JOIN d{r} b ON e.doc_b = b.doc_id
    )"""
    return f"""{sql}
    SELECT doc_id, degree FROM (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM e{_KCORE_ROUNDS}
        UNION ALL SELECT doc_b FROM e{_KCORE_ROUNDS}
      ) GROUP BY doc_id
    ) WHERE degree >= {_KCORE_K}
    """


@query("x_graph_kcore_peel", oracle=_kcore_oracle())
def x_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=_KCORE_K=2, _KCORE_ROUNDS=3 rounds) over the
    near-dup graph (#75 cont.): repeatedly drop nodes with degree < k and
    the edges they carried — the graph-densification step that isolates the tightly
    interlinked duplicate clusters (a node surviving 2-core peeling has
    at least two independent near-dup partners: template/boilerplate
    families, not chance collisions).

    Fixed-round unrolling keeps the whole computation ONE declarative
    plan mirrored exactly by the oracle's chained CTEs; full peeling
    iterates the same round to a fixpoint with the components-loop
    discipline (dedup.py: localCheckpoint per round + scalar convergence
    probe). Each round is degree-count + two semi-joins keyed on node
    ids — thin shuffles, broadcastable degree tables at any corpus
    size."""
    edges = _sim_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e = edges
    for _ in range(_KCORE_ROUNDS):
        # each round references the previous edge set THREE times (degree
        # union + both semi-joins): without a per-round materialization
        # the unrolled lineage grows ~3^rounds and re-executes the whole
        # prefix per reference (measured 40 s -> ~3 s at sf0.01) — the
        # same localCheckpoint-per-round discipline as the components
        # loop in dedup.py.
        e = e.localCheckpoint()
        deg = (
            e.select(F.col("doc_a").alias("doc_id"))
            .unionAll(e.select(F.col("doc_b").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count("*").alias("degree"))
            .filter(F.col("degree") >= _KCORE_K)
            .select("doc_id")
        )
        e = (
            e.join(F.broadcast(deg.withColumnRenamed("doc_id", "doc_a")), "doc_a")
            .join(F.broadcast(deg.withColumnRenamed("doc_id", "doc_b")), "doc_b")
            .select("doc_a", "doc_b")
        )
    return (
        e.select(F.col("doc_a").alias("doc_id"))
        .unionAll(e.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= _KCORE_K)
    )


_BFS_MAX_HOPS = 4


@query(
    "x_graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (SELECT node FROM nodes WHERE node % 7 = 0),
    bfs AS (
      SELECT node, 0 AS hops FROM seeds
      UNION
      SELECT e.dst AS node, b.hops + 1 AS hops
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hops < {_BFS_MAX_HOPS}
    )
    SELECT node AS doc_id, CAST(MIN(hops) AS INTEGER) AS hops
    FROM bfs GROUP BY node
    """,
)
def x_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-duplicate graph: hop distance (<= 4)
    from the nearest seed node (doc_id % 7 = 0) to every reachable node —
    the frontier-expansion primitive under "how far does contamination
    spread through the similarity graph".

    Spark side is textbook distributed BFS: per round, frontier JOIN edges
    (thin bigint keys) -> anti-join against the visited set -> next
    frontier, localCheckpoint per round to stop the 2^rounds lineage
    blow-up the pagerank/k-core ops already document. Rounds touch only
    the frontier's adjacency, never the whole graph; the oracle states the
    same reachability as a recursive CTE, which checks layer-order
    correctness (a node found at hop h is never also reported deeper)."""
    edges = _sim_pairs(spark, sf_dir)
    edges = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    frontier = nodes.filter(F.col("node") % 7 == 0).withColumn("hops", F.lit(0))
    visited = frontier
    for _ in range(_BFS_MAX_HOPS):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )
        fresh = nxt.join(visited.select("node"), "node", "left_anti").localCheckpoint()
        visited = visited.unionByName(fresh).localCheckpoint()
        frontier = fresh
    return visited.select("node", "hops").groupBy(F.col("node").alias("doc_id")).agg(
        F.min("hops").cast("int").alias("hops")
    )


@query(
    "x_graph_link_prediction",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
    ),
    edges AS (SELECT pa AS src, pb AS dst FROM co
              UNION ALL SELECT pb, pa FROM co),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    wedge AS (
      SELECT e1.dst AS part_a, e2.dst AS part_b, COUNT(*) AS common_neighbors
      FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst HAVING COUNT(*) >= 2
    ),
    anyco AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nonedge AS (
      SELECT w.part_a, w.part_b, w.common_neighbors
      FROM wedge w
      LEFT JOIN anyco p ON p.pa = w.part_a AND p.pb = w.part_b
      WHERE p.pa IS NULL
    )
    SELECT n.part_a, n.part_b, n.common_neighbors,
           CAST(n.common_neighbors AS DOUBLE)
             / (da.d + db.d - n.common_neighbors) AS neighborhood_jaccard
    FROM nonedge n
    JOIN deg da ON da.node = n.part_a
    JOIN deg db ON db.node = n.part_b
    """,
)
def x_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the item co-occurrence graph:
    part pairs never co-ordered (not even once) but sharing >= 2 strong co-order neighbors,
    scored by neighborhood Jaccard — the "customers who bought these also
    bought" candidate generator, and the graph face of
    x_rec_item_cooccurrence (which scores existing edges; this predicts
    missing ones). The near-dup graph can't host this op: its clusters
    are cliques by construction (transitive shingle overlap), so open
    wedges only exist in a behavioral graph.

    Scale shapes: the edge list keeps only support >= 2 pairs (the
    min-support prune that keeps the wedge join quadratic in per-hub
    degree, not corpus size); wedge enumeration is one self-join on the
    shared hub with a >= 2 common-neighbor floor; known edges drop via
    anti-join; degrees broadcast back. Integer counts -> one divide."""
    # ONE pass over the order-pair stream, shared with
    # x_rec_item_cooccurrence via the session-cached substrate: the
    # strong-edge set (c >= 2) and the any-co-occurrence anti-join side
    # both derive from the same counted pair table (recomputing the
    # basket self-join per consumer doubled this query's cost).
    from ..operators.joins import order_part_pairs

    pairs_all = order_part_pairs(spark, sf_dir)
    co = pairs_all.filter(F.col("c") >= 2)
    edges = co.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        co.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("src").alias("hub"), F.col("dst").alias("part_a"))
    e2 = edges.select(F.col("src").alias("hub"), F.col("dst").alias("part_b"))
    wedge = (
        e1.join(e2, "hub")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= 2)
    )
    anyco = pairs_all.select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b")
    )
    nonedge = wedge.join(anyco, ["part_a", "part_b"], "left_anti")
    da = deg.select(F.col("node").alias("part_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("part_b"), F.col("d").alias("d_b"))
    return (
        nonedge.join(F.broadcast(da), "part_a")
        .join(F.broadcast(db), "part_b")
        .select(
            "part_a",
            "part_b",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("d_a") + F.col("d_b") - F.col("common_neighbors"))
            ).alias("neighborhood_jaccard"),
        )
    )


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    # MATERIALIZED on co/edges/l0 and every l{k}: each label table is
    # referenced twice by the next round's cand (join + union) and twice
    # at the end (final select + sizes), so DuckDB's default lazy CTEs
    # re-evaluate the entire prefix per reference — 2^rounds copies of
    # the heavy li self-join. At the 10x replica that ran 570-840 s and
    # died as a resource artifact (both sf1 sweeps, old AND new Spark
    # side) — the same failure mode the pagerank oracle hit with the
    # similarity-pairs CTE. Same results, evaluated once per table.
    rounds = []
    prev = "l0"
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    cand{k} AS (
      SELECT e.dst AS node, l.lab FROM edges e JOIN {prev} l ON l.node = e.src
      UNION ALL SELECT node, lab FROM {prev}
    ),
    cnt{k} AS (SELECT node, lab, COUNT(*) AS c FROM cand{k} GROUP BY node, lab),
    l{k} AS MATERIALIZED (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM cnt{k}
      ) WHERE rn = 1
    )""")
        prev = f"l{k}"
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
    ),
    edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM co
              UNION ALL SELECT pb, pa FROM co),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
    {", ".join(rounds)},
    sizes AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS community_size
              FROM {prev} GROUP BY lab)
    SELECT f.node, f.lab AS community, s.community_size
    FROM {prev} f JOIN sizes s ON f.lab = s.lab
    """


@query("x_graph_label_propagation", oracle=_lpa_oracle())
def x_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over the strong item co-occurrence graph — the density-seeking
    complement to x_dedup_components (connectivity) and the community
    face of the behavioral graph that hosts link prediction: each node
    adopts the most frequent label among its neighbors-plus-self per
    round, ties broken to the smallest label (the determinism knob the
    async textbook variant lacks — synchronous rounds + total-order
    tie-break = bit-identical labels at any parallelism, resumable
    mid-iteration).

    Scale shape per round: one thin (node, label) join against the edge
    list, then ONE exchange — cand is repartitioned by node, after which
    both the (node, label) count and the per-node argmax run
    exchange-free (HashPartitioning on a subset of the grouping keys
    satisfies the clustering requirement), with `max_by(lab,
    struct(c, -lab))` replacing the row_number window so no per-node
    sort exists at all. The edge list itself is exchanged by src ONCE
    (repartition + localCheckpoint preserves the partitioning across
    rounds — only the thin labels side shuffles per round). All keyed on
    node ids, labels are 8-byte ints, localCheckpoint cuts the 3^rounds
    lineage blow-up (the pagerank lesson). Community sizes are a final
    thin aggregate. Same-session A/B at sf1 (10x): window form 2.74 s,
    one-exchange form 2.51 s, + pre-partitioned edges 2.17 s,
    bit-equal at every step."""
    from ..operators.joins import order_part_pairs

    co = order_part_pairs(spark, sf_dir).filter(F.col("c") >= 2)
    both = co.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        co.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    nodes = both.select(F.col("src").alias("node")).distinct()
    # Round-12 shape (guide §2.3/§2.4): SELF-LOOP edges replace the
    # per-round "plus self" union arm — cand becomes ONE join of the edge
    # list against labels, so labels is referenced exactly once per round
    # and the 3 rounds fuse into a single lazy linear plan with NO
    # per-round checkpoint jobs (the previous form referenced labels
    # twice per round, which without eager materialization doubles the
    # recompute per level; the self-loop fold removes the fan-out rather
    # than papering over it). The per-(node,lab) counts are identical:
    # the self-loop contributes exactly the old union arm's (node, own
    # lab) row. 24 -> 14 jobs per call, bit-equal labels and sizes. The
    # edge build is still exchanged by src once and materialized (it is
    # consumed by all 3 rounds); the final labels table is lazily
    # checkpointed because sizes + the output join read it twice.
    edges = (
        both.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .repartition("src")
        .localCheckpoint()
    )
    labels = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(_LPA_ROUNDS):
        cand = edges.join(
            labels.select(F.col("node").alias("src"), "lab"), "src"
        ).select(F.col("dst").alias("node"), "lab")
        cnt = (
            cand.repartition("node")
            .groupBy("node", "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = cnt.groupBy("node").agg(
            F.expr("max_by(lab, struct(c, -lab))").alias("lab")
        )
    labels = labels.localCheckpoint(eager=False)
    sizes = labels.groupBy("lab").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lab").select(
        "node", F.col("lab").alias("community"), "community_size"
    )
