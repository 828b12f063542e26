#!/usr/bin/env python
"""Golden physical-plan shapes: a compact node-type signature per
registered query, committed as tools/plan_shapes.json and re-checked by
the registry-wide sweep test. A silent planner regression — a broadcast
join degrading to SortMergeJoin, a lost TakeOrderedAndProject, a new
SinglePartition exchange — changes the signature and fails the suite
instead of surfacing rounds later as a bench regression.

Regenerate (after REVIEWING the diff is intended):
    python tools/plan_shapes.py --write
The session config here must stay identical to tests/conftest.py's spark
fixture (local[4], session.build_conf's SQL conf: 32 shuffle partitions)
— signatures are config-stable but not config-independent.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_shapes.json")
SF = "/root/testdata/sf0.001"

# Second scale point: the sf0.001 goldens cannot see a plan regression
# that only appears when AQE flips a broadcast/skew decision with data
# size, so the heaviest data-bound queries get a second signature at the
# 10x replica (.cache/sf1, regenerate via tools/scale_corpus.py).
# Regenerate after reviewing: python tools/plan_shapes.py --sf1 --write
GOLDEN_SF1 = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "plan_shapes_sf1.json"
)
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "sf1"
)
HEAVY_SF1 = (
    "x_dedup_containment",
    "x_dedup_near_jaccard",
    "join_skew_salted",
    "sort_zorder_cluster",
    "x_sim_ann_ivf_pq",
    "agg_join_size_sketch",
    "x_text_keyphrase_rake",
    "x_text_char_lm_score",
    "x_text_langid_ngram",
    "win_rfm_segmentation",
    "sql_q9_product_margin",
    "join_geo_grid_nearest",
)

_NODE = re.compile(r"^[\s:+|*-]*\(?\d*\)?\s*([A-Za-z][A-Za-z0-9]*)")


def shape_signature(plan: str) -> dict[str, int]:
    """Count physical node types in an executedPlan().toString() tree.
    Exchanges keep their partitioning flavor — that is where the scale
    regressions hide."""
    sig: dict[str, int] = {}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            if "rangepartitioning" in line:
                node = "Exchange_range"
            elif "SinglePartition" in line:
                node = "Exchange_single"
            elif "hashpartitioning" in line:
                node = "Exchange_hash"
        sig[node] = sig.get(node, 0) + 1
    return dict(sorted(sig.items()))


def compute_all(spark) -> dict[str, dict[str, int]]:
    from mdb_to_postgres_spark.registry import QUERIES, load_all

    load_all()
    shapes = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        shapes[name] = shape_signature(plan)
    return dict(sorted(shapes.items()))


def compute_sf1(spark) -> dict[str, dict[str, int]]:
    from mdb_to_postgres_spark.registry import QUERIES, load_all

    load_all()
    shapes = {}
    for name in HEAVY_SF1:
        plan = QUERIES[name](spark, SF1)._jdf.queryExecution().executedPlan().toString()
        shapes[name] = shape_signature(plan)
    return dict(sorted(shapes.items()))


def main() -> None:
    from pyspark.sql import SparkSession

    from mdb_to_postgres_spark.session import build_conf

    builder = SparkSession.builder.master("local[4]").appName("plan-shapes")
    spark = build_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if "--sf1" in sys.argv:
        shapes, golden_path, sf_tag = compute_sf1(spark), GOLDEN_SF1, SF1
    else:
        shapes, golden_path, sf_tag = compute_all(spark), GOLDEN, SF
    if "--write" in sys.argv:
        with open(golden_path, "w") as f:
            json.dump({"sf": sf_tag, "shapes": shapes}, f, indent=1, sort_keys=True)
        print(f"wrote {len(shapes)} shapes -> {golden_path}")
        return
    with open(golden_path) as f:
        golden = json.load(f)["shapes"]
    changed = {
        n: (golden.get(n), shapes.get(n))
        for n in set(golden) | set(shapes)
        if golden.get(n) != shapes.get(n)
    }
    for n, (g, s) in sorted(changed.items()):
        print(f"CHANGED {n}:\n  golden : {g}\n  current: {s}")
    print(f"{len(changed)} changed / {len(shapes)} total")


if __name__ == "__main__":
    main()
