"""The document vocabulary, spelled once for each engine.

Every text operator reads a document the same way: lowercase the text and
split it on single spaces. The set-similarity tier then takes each
document's distinct word 3-gram shingles and verifies shingle-sharing
pairs exactly. Each definition lives here once, the Spark form beside the
DuckDB form its oracles use, so the engine and the SQL that checks it
cannot drift apart:

- tokens: ``_TOKS()`` / ``TOKENS``; one row per token: ``TERM``;
- the ``toks(doc_id, l)`` CTE: ``TOKS_CTE``;
- shingles: ``_shingles`` / ``SH_CTES`` (``toks`` + ``sh(doc_id, shingle)``);
- the exact pair list over ``sh``: ``pairs_sql(measure, cand)``, built from
  ``SIZES``, ``SELF_INTER`` or a candidate-pair ``inter``, ``SCORED`` and
  the Jaccard (``JACCARD``) or containment score. ``JACCARD_PAIRS`` is
  the complete Jaccard pair query (x_dedup_near_jaccard's oracle).

registry._fingerprint hashes each composed oracle string, so editing a
fragment re-ranks every query whose oracle is built from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Shared tokenization: lowercase, split on single spaces (corpus text is
# single-spaced lowercase words; the normalized variant handles messier
# input).
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


# DuckDB spelling of _TOKS().
TOKENS = "string_split(lower(text), ' ')"

TERM = f"UNNEST({TOKENS}) AS term"

TOKS_CTE = f"""toks AS (
      SELECT doc_id, {TOKENS} AS l FROM documents
    )"""

# DuckDB spelling of _shingles(documents, 3), with the same short-doc guard.
SH_CTES = f"""{TOKS_CTE},
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(list_transform(range(len(l) - 2),
             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
      FROM toks WHERE len(l) >= 3
    )"""

SIZES = "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)"

# Every shingle-sharing pair: the naive full-inverted-index self-join.
SELF_INTER = """inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""

SCORED = """FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id"""

JACCARD = "CAST(i.isect AS DOUBLE) / (sa.sz + sb.sz - i.isect)"
_SCORES = {"jaccard": JACCARD, "containment": "CAST(i.isect AS DOUBLE) / LEAST(sa.sz, sb.sz)"}

# measure -> (output score columns, threshold on the measure's score): the
# same columns and thresholds as the Spark engine's _pairs_from.
_MEASURES = {"jaccard": (("jaccard",), 0.35), "containment": (("containment", "jaccard"), 0.8)}


def pairs_sql(measure: str, cand: str | None = None) -> str:
    """The `sizes` and `inter` CTEs and the verify tail of the exact pair
    list over an `sh` CTE: (doc_a, doc_b, <score columns>) with doc_a <
    doc_b. `inter` is the shingle self-join, or, given the name of a
    (doc_a, doc_b) candidate relation, the intersection counted over the
    candidates only. The caller opens the WITH clause ahead of it."""
    if cand is None:
        inter = SELF_INTER
    else:
        inter = f"""inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS isect
      FROM {cand} c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )"""
    cols, threshold = _MEASURES[measure]
    scores = ",\n           ".join(f"{_SCORES[c]} AS {c}" for c in cols)
    return f"""{SIZES},
    {inter}
    SELECT i.doc_a, i.doc_b,
           {scores}
    {SCORED}
    WHERE {_SCORES[measure]} >= {threshold}"""


JACCARD_PAIRS = f"""
    WITH {SH_CTES},
    {pairs_sql("jaccard")}
"""
