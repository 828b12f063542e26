"""The exact pair engine (_pairs_from) must equal the naive
full-inverted-index self-join bit-for-bit under BOTH measures: Jaccard
(the session pair list DEPLOYED by x_dedup_near_jaccard and
x_dedup_prefix_filter_join) and containment (x_dedup_containment). The
hot/cold split verify partitions the vocabulary, so cold match count +
hot array intersect is the exact intersection; the feasibility bound only
drops provably sub-threshold pairs. Every downstream consumer
(components, canonical, cluster QA, the whole graph tier, contrastive
triplets) rides this equality, so each measure is swept at the default
cap, a low cap that forces a real hot arm, and the all-hot degenerate
cap — plus adversarial synthetic corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mdb_to_postgres_spark.extensions.dedup import (
    _naive_pairs_from,
    _pairs_from,
    doc_shingles,
)
from tests.conftest import ORACLE_SF

MEASURES = ["jaccard", "containment"]


def _pairs_key(pdf):
    """(doc_a, doc_b, *scores) rows in pair order, scores as the exact
    doubles; the column names lead so a schema drift fails too."""
    pdf = pdf.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    return [tuple(pdf.columns)] + list(zip(*(pdf[c] for c in pdf.columns)))


def _assert_equals_naive(sh, measure, hot_df, nonempty=True):
    fast = _pairs_key(_pairs_from(sh, measure, hot_df=hot_df).toPandas())
    naive = _pairs_key(_naive_pairs_from(sh, measure).toPandas())
    assert fast == naive, (measure, hot_df)
    if nonempty:
        assert len(fast) > 1, (measure, hot_df)
    return fast


@pytest.mark.parametrize("measure", MEASURES)
def test_engine_equals_naive_inverted_index(spark, measure):
    _assert_equals_naive(doc_shingles(spark, ORACLE_SF), measure, hot_df=64)


@pytest.mark.parametrize("measure", MEASURES)
def test_engine_hot_arm_exact_at_low_cap(spark, measure):
    # The default _HOT_DF=64 puts this SF's whole vocabulary in the cold
    # arm, so the equality above would be vacuous for the hot path. Force
    # a cap low enough that a real slice of the vocabulary rides the
    # array-intersect arm (asserted non-empty) and the output must STILL
    # be bit-identical — the split is a cost model, never a semantics.
    hot_df = 4
    sh = doc_shingles(spark, ORACLE_SF)
    n_hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > hot_df)
        .count()
    )
    assert n_hot > 0, f"corpus has no shingle above df={hot_df}; pick lower"
    _assert_equals_naive(sh, measure, hot_df)


@pytest.mark.parametrize("measure", MEASURES)
def test_engine_all_hot_degenerate_cap(spark, measure):
    # hot_df=0 pushes EVERY shingle into the array arm: intersections come
    # only from array_intersect and the cold stream is empty — the
    # all-null/empty-side edge cases (no cold row for a candidate pair)
    # must not drop or distort pairs, and channel 2 carries every pair.
    _assert_equals_naive(doc_shingles(spark, ORACLE_SF), measure, hot_df=0)


# ---- property suite: synthetic corpora, adversarial vocabulary shapes ----

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# Tiny vocabulary (heavy sharing: most shingles go hot at low caps; lots
# of ties), variable doc sizes including docs smaller than the shingle
# set of others (stresses the length filter and containment's
# small-inside-large case), duplicate docs (score exactly 1), and empty
# corpora.
_shingle_id = st.integers(min_value=0, max_value=9)
_doc = st.lists(_shingle_id, min_size=1, max_size=8)
_corpus = st.lists(_doc, min_size=0, max_size=12)


def _sh_df(spark, corpus):
    rows = [
        (doc_id, f"s{sid}")
        for doc_id, doc in enumerate(corpus)
        for sid in set(doc)
    ]
    return spark.createDataFrame(rows or [(0, "s0")], "doc_id int, shingle string").limit(
        len(rows)
    )


@given(corpus=_corpus, hot_df=st.sampled_from([0, 1, 2, 100]))
@settings(**_PROP_SETTINGS)
def test_pair_engine_property_equivalence(spark, corpus, hot_df):
    _assert_equals_naive(_sh_df(spark, corpus), "jaccard", hot_df, nonempty=False)


# A small doc inside a large one: containment 1.0 but Jaccard 0.3, the
# pair only containment keeps. The test corpora have no such pair.
_SMALL_IN_LARGE = [[0, 1, 2], list(range(10))]


@example(corpus=_SMALL_IN_LARGE, hot_df=100)
@given(corpus=_corpus, hot_df=st.sampled_from([0, 1, 2, 100]))
@settings(**_PROP_SETTINGS)
def test_containment_property_equivalence(spark, corpus, hot_df):
    fast = _assert_equals_naive(_sh_df(spark, corpus), "containment", hot_df, nonempty=False)
    if corpus == _SMALL_IN_LARGE:
        assert fast[1:] == [(0, 1, 1.0, 0.3)], fast
