"""Text analysis operators (SURVEY.md §2.9 #63-65 + driver-mandated set):
tokenize/TF, TF-IDF, corpus stats, language-ID heuristic, quality scoring,
document fingerprinting.

All computations stay JVM-side (split/explode/groupBy + integer or
single-divide double arithmetic) — no Python in the hot path; the fold-
based fingerprint mirrors DuckDB's list_reduce order exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import T, session_cache_get
from .doc_text import TERM, TOKENS, TOKS_CTE, _TOKS

# Tiny per-language stopword lists for the n-gram/lexicon language-ID
# heuristic. Chosen to be disjoint.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "with", "fast", "slow"),
    "es": ("el", "la", "los", "con", "por", "para"),
    "fr": ("le", "les", "des", "avec", "pour", "dans"),
    "de": ("der", "die", "das", "und", "mit", "für"),
}


@query(
    "x_text_tokenize_tf",
    oracle=f"""
    WITH toks AS (
      SELECT {TERM} FROM documents
    )
    SELECT term, COUNT(*) AS tf
    FROM toks
    WHERE term <> ''
    GROUP BY term
    """,
)
def x_text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies (#63): tokenize -> explode -> count."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )


@query(
    "x_text_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {TERM} FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.doc_id < 100
    """,
)
def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (#64), smoothed sklearn-style idf = ln((N+1)/(df+1)) + 1.
    Rounded to 6 decimals: ln differs by <=1 ulp between libms, everything
    else is exact integer arithmetic. Output limited to doc_id < 100."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_TOKS()).alias("term")).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # Corpus size folded INTO the plan (single-row aggregate, broadcast
    # onto the join) rather than an eager .count() at plan-construction
    # time that scanned the corpus before the query ever ran — mirroring
    # the oracle's `CROSS JOIN n` CTE exactly (same fix as x_corpus_drift).
    n = d.agg(F.count("*").alias("n_docs"))
    out = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
        .filter(F.col("doc_id") < 100)
    )
    return out.select("doc_id", "term", "tf", "df", "tfidf")


@query(
    "x_text_lang_stats",
    oracle="""
    SELECT lang,
           n_chars // 100 AS len_bucket,
           COUNT(*) AS doc_cnt,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, n_chars // 100
    """,
)
def x_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length histogram + stats (#65): integer sums are exact,
    avg is one IEEE divide."""
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", (F.floor(F.col("n_chars") / 100)).alias("len_bucket"))
        .agg(
            F.count("*").alias("doc_cnt"),
            (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _marker_hits(lang: str) -> F.Column:
    words = _LANG_MARKERS[lang]
    toks = F.filter(_TOKS(), lambda t: t.isin(*words))
    return F.size(toks)


def _sql_marker_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({TOKENS}, t -> t IN ({words})))"


@query(
    "x_text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_marker_hits('en')} AS hits_en,
             {_sql_marker_hits('es')} AS hits_es,
             {_sql_marker_hits('fr')} AS hits_fr,
             {_sql_marker_hits('de')} AS hits_de
      FROM documents
    )
    SELECT doc_id, lang, hits_en, hits_es, hits_fr, hits_de,
           CASE
             WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
             WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
             WHEN hits_fr >= hits_de THEN 'fr'
             ELSE 'de'
           END AS pred_lang
    FROM scored
    """,
)
def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon language-ID heuristic: count per-language marker tokens,
    argmax with a fixed precedence order (deterministic tie-break)."""
    d = T(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        _marker_hits("en").cast("long").alias("hits_en"),
        _marker_hits("es").cast("long").alias("hits_es"),
        _marker_hits("fr").cast("long").alias("hits_fr"),
        _marker_hits("de").cast("long").alias("hits_de"),
    )
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_es"))
            & (F.col("hits_en") >= F.col("hits_fr"))
            & (F.col("hits_en") >= F.col("hits_de")),
            "en",
        )
        .when((F.col("hits_es") >= F.col("hits_fr")) & (F.col("hits_es") >= F.col("hits_de")), "es")
        .when(F.col("hits_fr") >= F.col("hits_de"), "fr")
        .otherwise("de")
    )
    return scored.withColumn("pred_lang", pred)


_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")


@query(
    "x_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             list_filter({TOKENS}, t -> t <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(len(list_filter(toks, t -> t IN ({', '.join(f"'{w}'" for w in _STOPWORDS)}))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
           CASE WHEN len(toks) BETWEEN 20 AND 2000
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.1
                THEN 1 ELSE 0 END AS quality_keep
    FROM t WHERE len(toks) > 0
    """,
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: token count, mean token length, stopword
    ratio, type-token ratio, and a keep/drop gate — the standard cheap
    pretraining-corpus filters, all as integer counts + single divides."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda t: t != "")
    t = d.select("doc_id", "n_chars", toks.alias("toks")).filter(F.size("toks") > 0)
    n_tok = F.size("toks")
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(F.col("toks"), lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tok
    )
    return t.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("ttr"),
        F.when(n_tok.between(20, 2000) & (distinct_ratio > 0.1), 1).otherwise(0).alias("quality_keep"),
    )


@query(
    "x_text_token_count",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter({TOKENS}, t -> t <> '')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z]+')) AS word_pieces,
             CAST(CEIL(n_chars / 4.0) AS BIGINT) AS byte_pair_est
      FROM documents
    )
    SELECT lang,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(word_pieces) AS BIGINT) AS total_word_pieces,
           CAST(SUM(byte_pair_est) AS BIGINT) AS total_bpe_est,
           COUNT(*) AS doc_cnt
    FROM t GROUP BY lang
    """,
)
def x_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, regex word pieces, and
    the chars/4 BPE budget estimate — the corpus-sizing numbers every
    training-data pipeline reports."""
    d = T(spark, sf_dir, "documents")
    ws = F.size(F.filter(_TOKS(), lambda t: t != ""))
    pieces = F.regexp_count(F.col("text"), F.lit("[a-z]+"))
    bpe = F.ceil(F.col("n_chars") / 4.0).cast("long")
    t = d.select("doc_id", "lang", ws.cast("long").alias("ws_tokens"), pieces.cast("long").alias("word_pieces"), bpe.alias("byte_pair_est"))
    return t.groupBy("lang").agg(
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("word_pieces").alias("total_word_pieces"),
        F.sum("byte_pair_est").alias("total_bpe_est"),
        F.count("*").alias("doc_cnt"),
    )


# Per-token value for the rolling fingerprint: only +, *, % over exact
# integers — identical on both engines. Token value mixes length and first/
# last character codes.
_SQL_TOKVAL = "(length(t) * 31 + ascii(substr(t, 1, 1)) * 7 + ascii(substr(t, length(t), 1)))"


@query(
    "x_text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter({TOKENS}, t -> t <> ''),
                              t -> CAST({_SQL_TOKVAL} AS BIGINT))) AS vals
      FROM documents
    )
    SELECT doc_id,
           list_reduce(vals, (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
    FROM t
    """,
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint: h = (h*131 + tokval) mod p
    over the token stream. Order-sensitive (unlike a content hash) and
    bit-deterministic across engines — pure 64-bit integer fold."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda t: t != "")
    tokval = F.transform(
        toks,
        lambda t: (
            F.length(t) * 31
            + F.ascii(F.substring(t, 1, 1)) * 7
            + F.ascii(t.substr(F.length(t), F.lit(1)))
        ).cast("long"),
    )
    fp = F.aggregate(
        tokval,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % 1000000007,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "x_text_repetition_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TERM}
      FROM documents
    ),
    tot AS (
      SELECT doc_id, COUNT(*) AS total_tokens,
             COUNT(DISTINCT term) AS uniq_tokens
      FROM toks WHERE term <> '' GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(l) - 2),
                                   i -> concat_ws(' ', l[i+1], l[i+2], l[i+3]))) AS g
      FROM (SELECT doc_id, {TOKENS} AS l FROM documents)
      WHERE len(l) >= 3
    ),
    tric AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY doc_id, g),
    trimax AS (SELECT doc_id, MAX(c) AS max_tri, SUM(c) AS n_tri
               FROM tric GROUP BY doc_id)
    SELECT t.doc_id, t.uniq_tokens, t.total_tokens,
           CAST(t.uniq_tokens AS DOUBLE) / t.total_tokens AS type_token_ratio,
           CAST(m.max_tri AS DOUBLE) / m.n_tri AS max_trigram_frac,
           (CAST(t.uniq_tokens AS DOUBLE) / t.total_tokens < 0.5
            OR CAST(m.max_tri AS DOUBLE) / m.n_tri > 0.1) AS is_repetitive
    FROM tot t JOIN trimax m USING (doc_id)
    """,
)
def x_text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (Gopher-style filters): per-doc
    type-token ratio and most-frequent-trigram share, flagging documents
    dominated by repeated content. All-integer counts into single double
    divides — bit-deterministic; trigram counts keep multiplicity (unlike
    the dedup shingle index, which is a distinct set).

    Scale: two token-level explode+groupBy passes, both keyed by doc_id —
    partition-local after one shuffle each; no pairwise comparisons."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_TOKS()).alias("term")).filter(F.col("term") != "")
    tot = toks.groupBy("doc_id").agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("term").alias("uniq_tokens"),
    )
    # Spark SQL array subscripts are 0-based (DuckDB's are 1-based — the
    # oracle encodes the dialect difference, not a semantic one).
    tri = (
        d.select("doc_id", _TOKS().alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks)-3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("g"),
        )
    )
    tric = tri.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    trimax = tric.groupBy("doc_id").agg(
        F.max("c").alias("max_tri"), F.sum("c").alias("n_tri")
    )
    ttr = F.col("uniq_tokens").cast("double") / F.col("total_tokens")
    tri_frac = F.col("max_tri").cast("double") / F.col("n_tri")
    return tot.join(trimax, "doc_id").select(
        "doc_id",
        "uniq_tokens",
        "total_tokens",
        ttr.alias("type_token_ratio"),
        tri_frac.alias("max_trigram_frac"),
        ((ttr < 0.5) | (tri_frac > 0.1)).alias("is_repetitive"),
    )


@query(
    "x_text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT {TERM} FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS c FROM toks WHERE term <> '' GROUP BY term),
    ranked AS (
      SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rn FROM tf
    )
    SELECT COUNT(*) AS vocab_size,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           CAST(SUM(c) FILTER (WHERE rn <= 10) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS top10_share,
           CAST(SUM(c) FILTER (WHERE rn <= 25) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS top25_share
    FROM ranked
    """,
)
def x_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration (Zipf shape of the corpus): what share of
    all token occurrences the top-10/top-25 terms account for — the
    corpus-balance probe a tokenizer-training pipeline runs first.
    Deterministic: integer counts, rank ties broken by term, two divides.

    Scale: term-frequency shuffle ∝ vocabulary size (checkpointed once),
    then the top-25 comes from orderBy+limit (TakeOrderedAndProject —
    per-partition heap, never a vocabulary-wide rank window; vocabularies
    grow heavy-tailed with the corpus) and only the 25 survivors are
    ranked; the denominators are one mergeable aggregate."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    ).localCheckpoint()
    from pyspark.sql.window import Window

    tot = tf.agg(
        F.count("*").alias("vocab_size"), F.sum("c").alias("total_tokens")
    )
    top = (
        tf.orderBy(F.desc("c"), F.asc("term"))
        .limit(25)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("term")))
        )
    )
    tops = top.agg(
        F.sum(F.when(F.col("rn") <= 10, F.col("c")).otherwise(F.lit(0))).alias("t10"),
        F.sum("c").alias("t25"),
    )
    return tot.crossJoin(F.broadcast(tops)).select(
        "vocab_size",
        "total_tokens",
        (F.col("t10").cast("double") / F.col("total_tokens")).alias("top10_share"),
        (F.col("t25").cast("double") / F.col("total_tokens")).alias("top25_share"),
    )


@query(
    "x_text_redact_pii",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
               AS raw
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             '\\d{3}-\\d{4}', '<PHONE>', 'g') AS redacted,
           len(raw) - len(regexp_replace(
             regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '', 'g'),
             '\\d{3}-\\d{4}', '', 'g')) AS chars_redacted
    FROM aug
    """,
)
def x_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: regex redaction of email/phone patterns — the
    pre-training privacy filter. The synthetic corpus carries no PII, so a
    deterministic augmentation plants one email + one phone per doc first;
    the op under test is the two-stage regexp_replace chain (pure JVM
    regex, map-only: zero shuffle at any scale)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    email, phone = r"[a-z0-9._]+@[a-z0-9.]+", r"\d{3}-\d{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    stripped = F.regexp_replace(F.regexp_replace(F.col("raw"), email, ""), phone, "")
    return aug.select(
        "doc_id",
        redacted.alias("redacted"),
        (F.length("raw") - F.length(stripped)).alias("chars_redacted"),
    )


_CHUNK, _STRIDE = 50, 40  # tokens per chunk / stride (10-token overlap)


@query(
    "x_text_chunk_overlap",
    oracle=f"""
    WITH {TOKS_CTE},
    chunks AS (
      SELECT doc_id, len(l) AS n_tokens,
             UNNEST(range(((len(l) - 1) // {_STRIDE}) + 1)) AS chunk_idx
      FROM toks WHERE len(l) > 0
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * {_STRIDE} AS start_tok,
           LEAST(chunk_idx * {_STRIDE} + {_CHUNK}, n_tokens)
             - chunk_idx * {_STRIDE} AS chunk_len
    FROM chunks
    WHERE chunk_idx * {_STRIDE} < n_tokens
    """,
)
def x_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (50-token windows, 40-token stride) —
    the context-window packing precursor. Pure sequence/explode
    arithmetic: map-only with zero shuffle, so it scales linearly with
    corpus bytes and parallelizes per input split."""
    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", _TOKS().alias("l")).filter(F.size("l") > 0)
    c = t.select(
        "doc_id",
        F.size("l").cast("long").alias("n_tokens"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.size("l") - 1) / F.lit(_STRIDE)).cast("long"),
            )
        ).alias("chunk_idx"),
    ).filter(F.col("chunk_idx") * _STRIDE < F.col("n_tokens"))
    start = F.col("chunk_idx") * _STRIDE
    return c.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_tok"),
        (F.least(start + _CHUNK, F.col("n_tokens")) - start).alias("chunk_len"),
    )


@query(
    "x_text_bigram_score",
    oracle=f"""
    WITH {TOKS_CTE},
    bg AS (
      SELECT doc_id, UNNEST(list_transform(range(len(l) - 1),
             i -> l[i+1] || ' ' || l[i+2])) AS bigram
      FROM toks WHERE len(l) >= 2
    ),
    bc AS (SELECT bigram, COUNT(*) AS bn FROM bg GROUP BY bigram),
    uc AS (
      SELECT string_split(bigram, ' ')[1] AS w, SUM(bn) AS un
      FROM bc GROUP BY string_split(bigram, ' ')[1]
    )
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(ROUND(LN(CAST(c.bn AS DOUBLE) / u.un), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_logprob
    FROM bg g
    JOIN bc c USING (bigram)
    JOIN uc u ON string_split(g.bigram, ' ')[1] = u.w
    WHERE g.doc_id < 300
    GROUP BY g.doc_id
    """,
)
def x_text_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: per-doc mean log P(w_i | w_{i-1})
    under corpus-wide MLE counts — the fluency/quality filter a pretraining
    pipeline runs (low scores = disfluent or boilerplate-skewed text).

    Determinism across engines: each log-prob is rounded to 6 decimals
    (libm LN differs by <=1 ulp) and summed as DECIMAL — decimal addition
    is order-independent, so the mean never depends on Spark's partial-agg
    order. Scale: the trained model — the vocabulary-sized (bigram,
    log-prob) table — is a per-(session, sf) substrate (round 12, the
    BM25-index/char-LM precedent: MLE counts are a corpus artifact a
    pipeline trains once and scores with forever), so a call pays only
    the scored slice's tokenize + one model join; the per-bigram lp is
    computed once per DISTINCT bigram instead of once per occurrence.
    No all-pairs, no driver state."""
    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", _TOKS().alias("l")).filter(F.size("l") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(l)-2), i -> concat_ws(' ', l[i], l[i+1]))")
        ).alias("bigram"),
    )

    def train_model() -> DataFrame:
        bc = bg.groupBy("bigram").agg(F.count("*").alias("bn"))
        uc = bc.groupBy(F.split(F.col("bigram"), " ")[0].alias("w")).agg(
            F.sum("bn").alias("un")
        )
        return (
            bc.join(uc, F.split(F.col("bigram"), " ")[0] == F.col("w"))
            .select(
                "bigram",
                F.round(F.log(F.col("bn").cast("double") / F.col("un")), 6)
                .cast("decimal(18,6)")
                .alias("lp"),
            )
            .localCheckpoint()
        )

    model = session_cache_get(spark, sf_dir, "text.bigram_lm_model", train_model)
    scored = bg.filter(F.col("doc_id") < 300).join(model, "bigram")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        # NO final round: the decimal sum is exact and a single IEEE
        # division is bit-identical on both engines, while rounding the
        # quotient is tie-prone — at sf10 one doc's avg landed at
        # x.xxxxxx49999…8 and Spark's round (via Double.toString's
        # shortest repr "…5") went up where DuckDB's binary round went
        # down. The per-bigram 6-decimal lattice above stays — that is
        # where cross-libm LN variance is absorbed.
        (F.sum("lp").cast("double") / F.count("*")).alias("avg_logprob"),
    )


_QG_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

_QG_SQL = f"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             list_filter({TOKENS}, t -> t <> '') AS l
      FROM documents
    ),
    sig AS (
      SELECT doc_id, n_chars,
             len(l) AS n_tokens,
             len(list_distinct(l)) AS uniq_tokens,
             len(list_filter(l, t -> t IN ({", ".join(f"'{w}'" for w in _QG_STOPWORDS)}))) AS stop_tokens
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(uniq_tokens AS DOUBLE) / n_tokens AS ttr,
           CAST(stop_tokens AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS mean_token_span,
           (n_tokens >= 10 AND CAST(uniq_tokens AS DOUBLE) / n_tokens >= 0.30
            AND CAST(stop_tokens AS DOUBLE) / n_tokens >= 0.01) AS keep,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN CAST(uniq_tokens AS DOUBLE) / n_tokens < 0.30 THEN 'repetitive'
                WHEN CAST(stop_tokens AS DOUBLE) / n_tokens < 0.01 THEN 'unnatural'
                ELSE 'ok' END AS reject_reason
    FROM sig WHERE n_tokens > 0
"""


@query("x_text_quality_gate", oracle=_QG_SQL)
def x_text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate (#65 cont.): the single filter stage a
    training pipeline actually runs — length, type-token ratio and
    stopword-density signals combined into one keep/drop verdict with the
    first-failing reason attached (C4/Gopher-style rules).

    Map-only over the corpus: every signal is computed from one tokenize
    pass per row (no explode, no shuffle at all), so the gate streams at
    scan speed at 100 TB. Integer counts + single IEEE divides keep the
    verdict bit-deterministic cross-engine."""
    d = T(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda t: t != "")
    stop = F.filter(toks, lambda t: t.isin(*_QG_STOPWORDS))
    sig = d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("uniq_tokens"),
        F.size(stop).alias("stop_tokens"),
    ).filter(F.col("n_tokens") > 0)
    ttr = F.col("uniq_tokens").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("stop_tokens").cast("double") / F.col("n_tokens")
    return sig.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("mean_token_span"),
        ((F.col("n_tokens") >= 10) & (ttr >= 0.30) & (stop_ratio >= 0.01)).alias("keep"),
        F.when(F.col("n_tokens") < 10, "too_short")
        .when(ttr < 0.30, "repetitive")
        .when(stop_ratio < 0.01, "unnatural")
        .otherwise("ok")
        .alias("reject_reason"),
    )


_ENTROPY_SQL = f"""
    WITH tok AS (
      SELECT doc_id, {TERM} FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    n AS (SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(n.n AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           ROUND(CAST(SUM(CAST(ROUND(
                 -(CAST(c AS DOUBLE) / n.n) * LOG2(CAST(c AS DOUBLE) / n.n), 6)
                 AS DECIMAL(18,6))) AS DOUBLE), 6) AS token_entropy
    FROM tf JOIN n USING (doc_id)
    GROUP BY tf.doc_id, n.n
"""


@query("x_text_token_entropy", oracle=_ENTROPY_SQL)
def x_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each doc's token distribution (#65 cont.) — the
    classic repetition/diversity quality signal (low entropy = dominated
    by few tokens; pairs with x_text_repetition_quality's TTR).

    Determinism discipline follows x_text_bigram_score: each per-term
    -p*log2(p) contribution is rounded to 6 decimals and accumulated as
    exact DECIMAL(18,6), so the float SUM order never leaks into the
    result (log2 agrees across libms to <=1 ulp, far inside the
    rounding). One explode + two doc-keyed aggregations — partition-local
    after a single shuffle."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_TOKS()).alias("term")).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term_h = F.round(-p * F.log2(p), 6).cast("decimal(18,6)")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count("*").alias("vocab"),
            F.round(F.sum(term_h).cast("double"), 6).alias("token_entropy"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "vocab",
            "token_entropy",
        )
    )


_QGRAM_SQL = """
WITH s AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE length(lower(text)) >= 3
),
qg AS (
  SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS g
  FROM s, LATERAL (SELECT UNNEST(range(1, length(t) - 1)) AS i)
),
cnt AS (
  SELECT doc_id, g, COUNT(*) AS c FROM qg GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_qgrams,
       COUNT(*) AS distinct_qgrams,
       ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS distinct_ratio,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share
FROM cnt GROUP BY doc_id
"""


# Char-trigram counted stream (doc_id, lang, g, c) — the shared substrate
# of the q-gram spectrum and the n-gram language-ID (both previously
# re-exploded the same ~1.5M-gram stream per call; the counted form is
# ~3x smaller than the occurrence stream and materializes once per
# (session, sf) — the trigram profile table a production text-QA stage
# writes beside the corpus).
def doc_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # rebalance before the per-char explode (single-split corpus
        # would pin one core — the x_dedup_chunk_cdc lesson)
        d = T(spark, sf_dir, "documents").repartition(
            max(spark.sparkContext.defaultParallelism * 2, 8), "doc_id"
        )
        g = d.select(
            "doc_id", "lang", F.lower(F.col("text")).alias("t")
        ).filter(F.length("t") >= 3).select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")
            ).alias("g"),
        )
        return (
            g.groupBy("doc_id", "lang", "g")
            .agg(F.count("*").alias("c"))
            .localCheckpoint()
        )

    return session_cache_get(spark, sf_dir, "text.trigrams", build)


@query("x_text_qgram_spectrum", oracle=_QGRAM_SQL)
def x_text_qgram_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-gram spectrum quality score (#65 cont.): per-doc q-gram
    diversity (distinct/total) and repetitiveness (share of the modal
    q-gram) — the char-level complement to token entropy; low
    distinct_ratio or high top_share flags boilerplate/keyboard-mash.

    Shape: one generator projection (transform over a sequence — no UDF,
    stays in codegen) then two doc-keyed aggregations on one shuffle.
    Guard: docs shorter than 3 chars are dropped BEFORE the sequence()
    (start > stop would step backward). Ratios are exact-integer
    divisions rounded to 6 decimals, so cross-engine float agreement is
    structural."""
    cnt = doc_trigram_counts(spark, sf_dir).select("doc_id", "g", "c")
    tot = F.sum("c").cast("double")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_qgrams"),
        F.count("*").alias("distinct_qgrams"),
        F.round(F.count("*").cast("double") / tot, 6).alias("distinct_ratio"),
        F.round(F.max("c").cast("double") / tot, 6).alias("top_share"),
    )


# --- Count-min sketch heavy hitters -------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 1024  # buckets per row


def _cms_bucket_sql(d: int, tok_expr: str, duck: bool) -> str:
    if duck:
        return (
            f"(('0x' || substr(md5('cms{d}:' || {tok_expr}), 1, 15))::BIGINT % {_CMS_W})"
        )
    return (
        f"(cast(conv(substring(md5(concat('cms{d}:', {tok_expr})), 1, 15), 16, 10)"
        f" as bigint) % {_CMS_W})"
    )


def _cms_oracle() -> str:
    cells = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_bucket_sql(d, 'term', True)} AS b, COUNT(*) AS c"
        f" FROM tok GROUP BY 2"
        for d in range(_CMS_D)
    )
    probes = " UNION ALL ".join(
        f"SELECT term, exact, {d} AS d, {_cms_bucket_sql(d, 'term', True)} AS b FROM vocab"
        for d in range(_CMS_D)
    )
    return f"""
    WITH tok AS (
      SELECT {TERM} FROM documents
    ),
    tok2 AS (SELECT term FROM tok WHERE term <> ''),
    total AS (SELECT COUNT(*) AS n FROM tok2),
    cms AS ({cells.replace('FROM tok ', 'FROM tok2 ')}),
    vocab AS (SELECT term, COUNT(*) AS exact FROM tok2 GROUP BY term),
    probe AS ({probes}),
    est AS (
      SELECT p.term, p.exact, MIN(c.c) AS est_count
      FROM probe p JOIN cms c ON p.d = c.d AND p.b = c.b
      GROUP BY p.term, p.exact
    )
    SELECT e.term, e.est_count, e.exact AS exact_count,
           e.est_count - e.exact AS overcount
    FROM est e, total t
    WHERE e.est_count * 200 >= t.n
    """


@query("x_text_heavy_hitters_cms", oracle=_cms_oracle())
def x_text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a count-min sketch (#63 cont.): tokens
    whose CMS estimate is >= 0.5% of the corpus token count. The sketch is
    4x1024 = 4096 integer cells REGARDLESS of corpus size — each cell is
    a partial-aggregable SUM, so at 100 TB the sketch merges map-side and
    broadcasts, and membership probes are 4 lookups against a 4 KB-scale
    table (the streaming twin is the same cells as an incrementally
    updated state store). Estimates only ever overcount (structural:
    min over rows of bucket sums >= the token's own count), so the
    threshold can never miss a true heavy hitter; exact counts ride along
    here to quantify the overcount. Deterministic md5 bucket hashes make
    the whole sketch cross-engine hash-checkable; the integer threshold
    compare (est*200 >= total) avoids float entirely.

    The demo probes the full vocabulary (exact counts are computed anyway
    for the comparison); production probes only an a-priori candidate
    set or the sketch's paired top-k heap."""
    d = T(spark, sf_dir, "documents")
    tok = d.select(F.explode(_TOKS()).alias("term")).filter(F.col("term") != "")
    # One aggregation collapses the occurrence stream; the sketch cells
    # derive from the VOCAB (sum of exact counts per bucket == occurrence
    # count per bucket), so the 4 md5 bucket hashes run once per distinct
    # term, not once per token occurrence (~50x fewer hashes here;
    # measured 1.6 s -> ~0.6 s at sf0.1). The checkpoint stops the cells/
    # probe/total branches re-running the explode+groupBy.
    vocab = tok.groupBy("term").agg(F.count("*").alias("exact")).localCheckpoint()
    buckets = F.posexplode(
        F.expr(
            "array("
            + ", ".join(_cms_bucket_sql(dd, "term", False) for dd in range(_CMS_D))
            + ")"
        )
    )
    cells = (
        vocab.select("exact", buckets.alias("d", "b"))
        .groupBy("d", "b")
        .agg(F.sum("exact").cast("bigint").alias("c"))
    )
    probe = vocab.select("term", "exact", buckets.alias("d", "b"))
    est = (
        probe.join(F.broadcast(cells), ["d", "b"])
        .groupBy("term", "exact")
        .agg(F.min("c").alias("est_count"))
    )
    total = vocab.agg(F.sum("exact").cast("bigint").alias("n"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * 200 >= F.col("n"))
        .select(
            "term",
            "est_count",
            F.col("exact").alias("exact_count"),
            (F.col("est_count") - F.col("exact")).alias("overcount"),
        )
    )


_BM25_TERMS = ("hash", "join", "filter")

# The (doc_id, dlen, tf-per-query-term) index table — the persisted
# artifact of a BM25 deployment, cached per (session, sf) like
# flat_corpus.
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, {TERM} FROM documents
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dlen FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dlen AS DOUBLE)) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok2
  WHERE term IN {_BM25_TERMS} GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         ROUND(
           LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_BM25_K1} + 1.0))
           / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * l.dlen / s.avgdl)),
         6) AS term_score
  FROM tf t
  JOIN df d ON t.term = d.term
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
       COUNT(*) AS terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


@query("x_text_bm25_retrieval", oracle=_BM25_SQL)
def x_text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (#64 cont.): top-20 documents for the query
    {hash, join, filter} under Okapi BM25 (k1=1.2, b=0.75) — the lexical
    baseline every hybrid retrieval stack pairs with the ANN tier
    (x_sim_*). All inputs are integer counts off the token index; each
    per-term score does its float ops in one fixed expression, is rounded
    to 6 decimals, and accumulates as exact DECIMAL, so ranking is
    order-free and cross-engine stable (the token_entropy discipline).
    Corpus stats (N, avgdl) are a broadcast single-row aggregate folded
    into the plan. At 100 TB the df/dl tables are the persisted index; a
    query is two broadcast joins against it."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_TOKS()).alias("term")).filter(F.col("term") != "")
    # ONE tokenize pass (guide §2.4): doc length and the per-query-term
    # frequencies come out of a single groupBy(doc_id) — before, dl and tf
    # each re-exploded the full token stream (two tokenizations of every
    # document). The wide per-doc row then unpivots to the (doc_id, term,
    # tf) grain the scorer wants; df and the corpus stats re-aggregate
    # the same table. Cached per (session, sf) like flat_corpus — this IS
    # the persisted dl/tf index the docstring describes (at 100 TB it is
    # the index table written next to the corpus; a query is broadcast
    # joins against it). All counts are integers — bit-identical to the
    # two-pass form.
    per_doc = session_cache_get(
        spark,
        sf_dir,
        "text.bm25_index",
        lambda: tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("dlen"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
        .localCheckpoint(),
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dlen").cast("double")).alias("avgdl")
    )
    unpiv = ", ".join(
        f"struct('{t}' AS term, tf{i} AS tf)" for i, t in enumerate(_BM25_TERMS)
    )
    tf = (
        per_doc.select("doc_id", "dlen", F.explode(F.expr(f"array({unpiv})")).alias("x"))
        .select("doc_id", "dlen", "x.term", F.col("x.tf").cast("bigint").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl")
    )
    term_score = F.round(idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom, 6)
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("term_score").cast("decimal(18,6)")).cast("double").alias("bm25"),
            F.count("*").alias("terms_hit"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "x_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TERM} FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 4))::BIGINT % 256 AS idx,
             CASE WHEN ('0x' || substr(md5(term), 5, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sg
      FROM toks WHERE term <> ''
    )
    SELECT doc_id, idx, CAST(SUM(sg) AS BIGINT) AS val
    FROM hashed GROUP BY doc_id, idx
    HAVING CAST(SUM(sg) AS BIGINT) <> 0
    """,
)
def x_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (#63 cont.): tokens -> fixed 256-dim
    sparse vectors with alternating sign (sklearn HashingVectorizer
    semantics) — the vocabulary-free featurizer that needs no fitted
    dictionary, so it streams over any corpus size with zero driver state.

    Index = 16 bits of md5 mod 256, sign = a disjoint md5 nibble's parity
    (decorrelates sign from bucket); signed counts cancel hash collisions
    in expectation. Output is the sparse COO triple (doc_id, idx, val)
    with exact-zero cells dropped — the shuffle carries one integer triple
    per touched cell, never a dense vector. Cross-engine exact: md5 and
    integer arithmetic only."""
    d = T(spark, sf_dir, "documents")
    md5 = F.md5("term")
    idx = F.conv(F.substring(md5, 1, 4), 16, 10).cast("bigint") % 256
    sg = F.when(
        F.conv(F.substring(md5, 5, 1), 16, 10).cast("bigint") % 2 == 0, 1
    ).otherwise(-1)
    return (
        d.select("doc_id", F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .select("doc_id", idx.alias("idx"), sg.alias("sg"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("sg").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )


_SPAN = 2  # demo span width; production substring dedup uses ~50 (the
           # topology below is span-size-invariant)


@query(
    "x_text_dedup_spans",
    oracle=f"""
    WITH {TOKS_CTE},
    grams AS (
      SELECT doc_id, p, array_to_string(l[p+1:p+{_SPAN}], ' ') AS gram
      FROM (SELECT doc_id, l, UNNEST(range(len(l) - {_SPAN - 1})) AS p
            FROM toks WHERE len(l) >= {_SPAN})
    ),
    dups AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p, MIN(p) OVER (PARTITION BY doc_id, gram) AS first_p
        FROM grams
      ) WHERE p > first_p
    ),
    removed AS (
      SELECT DISTINCT doc_id, UNNEST(range(p, p + {_SPAN})) AS pos FROM dups
    ),
    tokpos AS (
      SELECT doc_id, len(l) AS n_tokens, UNNEST(range(len(l))) AS pos, l
      FROM toks WHERE len(l) > 0
    ),
    kept AS (
      SELECT t.doc_id, t.n_tokens, t.pos, t.l[t.pos + 1] AS tok
      FROM tokpos t LEFT JOIN removed r
        ON t.doc_id = r.doc_id AND t.pos = r.pos
      WHERE r.pos IS NULL
    )
    SELECT doc_id, n_tokens,
           COUNT(*) AS kept_tokens,
           n_tokens - COUNT(*) AS removed_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept
    GROUP BY doc_id, n_tokens
    """,
)
def x_text_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-span removal (#60/#65 cont.): every
    re-occurrence of an already-seen {_SPAN}-gram is excised (keep-first,
    overlaps merged) and the text reassembled — the intra-doc face of
    exact-substring training-data dedup (Lee et al. use 50-token spans;
    the shape here is span-size-invariant).

    All set logic is positional AND per-document, so (round 12, guide
    §2.4) the whole operator runs as ONE map-side projection — zero
    Exchanges. The r10 form exploded grams into rows, window-MIN'd over
    (doc_id, gram), anti-joined the positions back and re-grouped: four
    corpus-sized shuffles for logic that never crosses a document
    boundary. Now the gram list sorts IN-ROW by (gram, p) — any order
    that groups equal grams contiguously with ascending p works, so the
    comparator never affects output — adjacent-equal entries mark the
    non-first occurrences (exactly p > MIN(p) per gram), their covered
    positions flatten/dedup into a removal set, and the kept tokens
    reassemble in place. Per-doc cost O(len log len); reconstruction is
    exact (hash-checked text output, not just counts). Interleaved A/B
    at sf0.1: 1.03 -> 0.20 s min, bit-equal, plan 8 Exchanges -> 0."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", _TOKS().alias("l"))
        .filter(F.size("l") > 0)
        .withColumn("n", F.size("l"))
        # (gram, 0-indexed position) structs, sorted by (gram, p): slice
        # of sequence(1, n) sidesteps sequence(1, 0)'s descending trap on
        # 1-token docs (slice length n-1 <= 0 yields [] instead).
        # _SPAN caveat (round-13 advice): starts 0..n-2 are exactly the
        # full-span starts ONLY because _SPAN == 2; a larger _SPAN would
        # also emit short tail grams the oracle's range(len - _SPAN + 1)
        # never generates. Bump _SPAN and the slice length must become
        # greatest(n - _SPAN + 1, 0). Left as-is for _SPAN = 2: editing
        # the expression now would churn the pinned zero-Exchange plan
        # for a provably identical result.
        .withColumn(
            "sg",
            F.expr(
                "array_sort("
                " transform(slice(sequence(1, n), 1, n - 1),"
                f"   p -> struct(concat_ws(' ', slice(l, p, {_SPAN})) AS g, p - 1 AS p)),"
                " (x, y) -> CASE WHEN x.g < y.g THEN -1 WHEN x.g > y.g THEN 1"
                "   WHEN x.p < y.p THEN -1 WHEN x.p > y.p THEN 1 ELSE 0 END)"
            ),
        )
        # positions covered by every repeated gram occurrence (keep-first:
        # entry i is a dup iff it shares g with its sorted predecessor)
        .withColumn(
            "removed",
            F.expr(
                "array_distinct(flatten(transform("
                " filter(transform(sg, (x, i) -> if(i > 0 and x.g = element_at(sg, i).g,"
                "                                   x.p, cast(null as int))),"
                "        v -> v is not null),"
                f" p -> sequence(p, p + {_SPAN - 1}))))"
            ),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.expr("cast(n - size(removed) as bigint)").alias("kept_tokens"),
            F.expr("cast(size(removed) as bigint)").alias("removed_tokens"),
            F.expr(
                "concat_ws(' ', filter(l, (x, i) -> not array_contains(removed, i)))"
            ).alias("clean_text"),
        )
    )


@query(
    "x_text_bpe_merge_candidates",
    oracle=f"""
    WITH tf AS (
      SELECT term, COUNT(*) AS tf FROM (
        SELECT {TERM} FROM documents
      ) WHERE term <> '' GROUP BY term
    ),
    pairs AS (
      SELECT substr(term, i, 2) AS pair, tf
      FROM (SELECT term, tf, UNNEST(range(1, length(term))) AS i FROM tf
            WHERE length(term) >= 2)
    )
    SELECT pair, CAST(SUM(tf) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT 20
    """,
)
def x_text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive (#63 cont.): the first BPE iteration —
    corpus-weighted adjacent-symbol-pair frequencies, whose argmax is the
    first merge rule. Full BPE training is this exact pass iterated with
    a growing symbol alphabet; the per-iteration dataflow (pair counts
    over a word-frequency table, not over raw text) is what makes
    tokenizer training feasible at corpus scale — the heavy explode runs
    over DISTINCT words, each weighted by its frequency.

    Word frequencies reduce the corpus first (vocab rows, not token
    rows); the pair explode is bounded by vocab x word length; top-20
    lands as TakeOrderedAndProject with the (freq DESC, pair) tie-break
    shared by both engines."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    pairs = (
        tf.filter(F.length("term") >= 2)
        .select(
            "tf",
            F.explode(F.sequence(F.lit(1), F.length("term") - 1)).alias("i"),
            "term",
        )
        .select(F.expr("substring(term, i, 2)").alias("pair"), "tf")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("tf").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(20)
    )


@query(
    "x_text_stopword_removal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({TOKENS}) AS n_tokens,
             list_filter({TOKENS},
                         t -> t <> '' AND t NOT IN ({', '.join(f"'{w}'" for w in _STOPWORDS)})) AS kept
      FROM documents
    )
    SELECT doc_id, n_tokens,
           len(kept) AS kept_tokens,
           n_tokens - len(kept) AS removed_tokens,
           array_to_string(kept, ' ') AS clean_text
    FROM toks
    """,
)
def x_text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-removal transform (#65 cont.): the content-rewriting
    counterpart of x_text_quality's stopword RATIO — emits the filtered
    text itself (order-preserving) plus removal counts, the
    normalization step before bag-of-words indexing or n-gram LM
    training.

    Pure higher-order array functions (filter + array_join) inside
    whole-stage codegen: no explode, no shuffle, no Python — the
    transform is map-side at any corpus size and the output text is
    hash-checked, not just counted."""
    d = T(spark, sf_dir, "documents")
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    t = d.select(
        "doc_id",
        F.size(_TOKS()).cast("long").alias("n_tokens"),
        F.expr(
            f"filter(split(lower(text), ' '), t -> t != '' AND t NOT IN ({stop}))"
        ).alias("kept"),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - F.size("kept")).alias("removed_tokens"),
        F.array_join("kept", " ").alias("clean_text"),
    )


_NGRAM_LANGS = ("de", "en", "es", "fr", "zh")
_NGRAM_TOP = 20
# Trained language profiles are a per-corpus substrate (like the shingle
# index): deterministic, tiny (langs x top-k rows), reused across calls.
@query(
    "x_text_langid_ngram",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, substr(t, i, 3) AS g
      FROM (SELECT doc_id, lang, lower(text) AS t,
                   UNNEST(range(1, length(text) - 1)) AS i
            FROM documents WHERE length(text) >= 3)
    ),
    lg AS (SELECT lang, g, COUNT(*) AS c_lg FROM grams GROUP BY lang, g),
    cg AS (SELECT g, CAST(SUM(c_lg) AS BIGINT) AS c_g FROM lg GROUP BY g),
    profile AS (
      SELECT lang AS p_lang, g FROM (
        SELECT lg.lang, lg.g, ROW_NUMBER() OVER (
          PARTITION BY lg.lang
          ORDER BY CAST(lg.c_lg AS DOUBLE) / cg.c_g DESC, lg.c_lg DESC, lg.g) AS rnk
        FROM lg JOIN cg USING (g) WHERE lg.c_lg >= 5
      ) WHERE rnk <= {_NGRAM_TOP}
    ),
    scores AS (
      SELECT gr.doc_id, gr.lang,
             {', '.join(f"CAST(count_if(p.p_lang = '{l}') AS BIGINT) AS s_{l}" for l in _NGRAM_LANGS)}
      FROM grams gr JOIN profile p ON gr.g = p.g
      GROUP BY gr.doc_id, gr.lang
    )
    SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
           CASE
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS pred_lang
    FROM scores
    """,
)
def x_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language-ID (#65 cont.) — the profile-based
    heuristic (Cavnar-Trenkle) behind fastText-style langid, beside the
    lexicon-marker variant (x_text_langid): per-language profiles = the
    top-20 character trigrams of each language's subcorpus; a document's
    score per language = how many of its trigram OCCURRENCES hit that
    profile; argmax with a fixed precedence tie order.

    Profiles rank by DISTINCTIVENESS (the language's share of each
    gram's corpus occurrences, min support 5), not raw frequency — on a
    shared-vocabulary corpus the raw-frequency top-k collapses to the
    same grams for every language and accuracy sits at chance (measured
    27.6% before this ranking; 42% after — above the 20% floor only via
    profile overfit, because this corpus draws every language's text
    from the SAME English word list: the lang label carries no textual
    signal by construction, so chance-level held-out accuracy is the
    correct outcome here, for this and any other langid). What the
    oracle verifies is the algorithm, exactly: profile training,
    scoring, and tie-break argmax hash-match end-to-end. Two-pass
    shape a production pipeline
    mirrors exactly: pass 1 trains the profiles (a few hundred rows,
    one divide per candidate gram) and is amortized; pass 2
    scores with the profile table broadcast against the trigram stream —
    map-side join + one groupBy(doc), no shuffle of text bytes. The
    trigram explode is bounded by corpus characters; profiles here are
    trained on the same corpus being scored (deterministic, no external
    model file)."""
    # The counted trigram stream is the shared doc_trigram_counts
    # substrate (see its note: hoisted lower(), explode-once, ~3x smaller
    # than the occurrence stream; this query previously re-exploded it
    # per call — 2.3 s -> 0.55 s warm at sf0.1).
    grams = doc_trigram_counts(spark, sf_dir)
    from pyspark.sql.window import Window

    def train_profile():
        lg = grams.groupBy("lang", "g").agg(F.sum("c").cast("bigint").alias("c_lg"))
        cg = lg.groupBy("g").agg(F.sum("c_lg").cast("bigint").alias("c_g"))
        return (
            lg.filter(F.col("c_lg") >= 5)
            .join(cg, "g")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("lang").orderBy(
                        F.desc(F.col("c_lg").cast("double") / F.col("c_g")),
                        F.desc("c_lg"),
                        F.asc("g"),
                    )
                ),
            )
            .filter(F.col("rnk") <= _NGRAM_TOP)
            .select(F.col("lang").alias("p_lang"), "g")
            # materialized: the profile is a per-corpus substrate (langs x
            # top-k rows); without it the broadcast build re-derives the
            # whole training subtree from raw text on every call
            .localCheckpoint()
        )

    prof = session_cache_get(spark, sf_dir, "text.ngram_profiles", train_profile)
    scores = (
        grams.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "lang")
        .agg(
            *[
                # occurrence-weighted: sum of per-(doc, gram) counts where
                # the gram sits in language l's profile == count_if over
                # the raw occurrence stream
                F.sum(F.when(F.col("p_lang") == l, F.col("c")).otherwise(0))
                .cast("bigint")
                .alias(f"s_{l}")
                for l in _NGRAM_LANGS
            ]
        )
    )
    s = {l: F.col(f"s_{l}") for l in _NGRAM_LANGS}
    pred = (
        F.when(
            (s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]),
            "de",
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return scores.withColumn("pred_lang", pred)


@query(
    "x_text_keyphrase_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, pos, l[pos + 1] AS tok
      FROM (SELECT doc_id, {TOKENS} AS l,
                   UNNEST(range(len(l))) AS pos
            FROM documents)
    ),
    seg AS (
      SELECT doc_id, pos, tok,
             tok IN ({', '.join(f"'{w}'" for w in _STOPWORDS)}) OR tok = '' AS is_stop,
             SUM(CASE WHEN tok IN ({', '.join(f"'{w}'" for w in _STOPWORDS)}) OR tok = ''
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id
      FROM tok
    ),
    words AS (SELECT doc_id, seg_id, pos, tok FROM seg WHERE NOT is_stop),
    phrases AS (
      SELECT doc_id, seg_id,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM words GROUP BY doc_id, seg_id
    ),
    wstat AS (
      SELECT w.tok,
             CAST(SUM(p.plen) AS BIGINT) * 1000000000 // COUNT(*) AS w_score_ppb
      FROM words w JOIN phrases p
        ON w.doc_id = p.doc_id AND w.seg_id = p.seg_id
      GROUP BY w.tok
    ),
    scored AS (
      SELECT p.phrase, p.doc_id, p.seg_id,
             CAST(SUM(s.w_score_ppb) AS BIGINT) AS score_ppb
      FROM phrases p
      JOIN words w ON w.doc_id = p.doc_id AND w.seg_id = p.seg_id
      JOIN wstat s ON s.tok = w.tok
      GROUP BY p.phrase, p.doc_id, p.seg_id
    )
    SELECT phrase, COUNT(*) AS occurrences,
           CAST(MIN(score_ppb) AS DOUBLE) / 1000000000 AS score
    FROM scored
    GROUP BY phrase
    ORDER BY MIN(score_ppb) DESC, phrase
    LIMIT 15
    """,
)
def x_text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (#63 cont.): candidate phrases are the
    stopword-delimited token runs; each word scores degree/frequency
    (degree = summed length of the phrases it appears in — rewarding
    words that travel in long collocations); a phrase scores the sum of
    its member word scores. Corpus-level top-15.

    Set-based RAKE: the segment id is a running stopword count (one
    per-doc window), phrases reassemble with the order-preserving
    sorted-struct concat. Determinism discipline: word scores are exact
    integer parts-per-billion then accumulated per phrase (order-free
    sum — the BM25 treatment), and identical phrase text yields
    identical scores by construction, so the corpus-level group is
    well-defined. Everything keys on (doc_id, seg_id) or token —
    within-doc work plus one vocabulary-sized aggregate.

    Round-12 shape (guide §2.4/§5): ONE linear pipeline — explode ->
    seg window -> plen window -> per-token score WINDOW -> phrase
    groupBy. The round-10 form localCheckpointed the full (doc, seg,
    pos, tok, plen) token stream per call so its two consumers (word
    stats, phrase scoring) could share it; the window form references
    the stream ONCE, so the corpus-sized per-call materialization and
    the stats join-back disappear entirely (plan: 2 ExistingRDD reads ->
    0; a checkpoint of the whole tokenized corpus per query is exactly
    what cannot ship at 100 TB). The by-token window shuffles the same
    bytes the old join's SMJ side did; Zipf-hot tokens concentrate a
    partition, mitigated in production by two-level aggregation (salt
    the token, sum partials) — at every measured sf the window wins
    (interleaved A/B min 1.07 -> 1.00 s at sf0.1, bit-equal)."""
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(_TOKS()).alias("pos", "tok"))
    is_stop = F.col("tok").isin(*_STOPWORDS) | (F.col("tok") == "")
    seg = tok.withColumn("is_stop", is_stop).withColumn(
        "seg_id",
        F.sum(F.col("is_stop").cast("int")).over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    # Word scores as EXACT parts-per-billion integers (floor of the
    # scaled ratio): ROUND(degree/freq, 9) differed between the engines'
    # decimal-string vs float-rint rounding paths in the target digit
    # (the documented ROUND hazard), which shifted phrase sums by 1e-9
    # and failed the strict parity gate; integer division cannot.
    words = (
        seg.filter(~F.col("is_stop"))
        .select("doc_id", "seg_id", "pos", "tok")
        .withColumn("plen", F.count("*").over(Window.partitionBy("doc_id", "seg_id")))
        .withColumn(
            "w_score_ppb",
            F.expr(
                "(cast(sum(plen) over (partition by tok) as bigint)"
                " * 1000000000L) div count(*) over (partition by tok)"
            ),
        )
    )
    scored = words.groupBy("doc_id", "seg_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok))"
        ).alias("phrase"),
        F.sum("w_score_ppb").cast("bigint").alias("score_ppb"),
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").alias("occurrences"),
            (F.min("score_ppb").cast("double") / 1000000000).alias("score"),
        )
        .orderBy(F.desc(F.min("score_ppb")), F.asc("phrase"))
        .limit(15)
    )


@query(
    "x_text_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT term, COUNT(*) AS tf FROM (
        SELECT {TERM} FROM documents
      ) WHERE term <> '' GROUP BY term
    ),
    ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS rnk FROM tf
    ),
    pts AS (
      SELECT CAST(FLOOR(LN(rnk) * 1000000) AS BIGINT) AS x,
             CAST(FLOOR(LN(tf) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE rnk <= 1000
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DECIMAL(9,0)) AS n,
             CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(28,0)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(28,0)) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM m
    """,
)
def x_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit (#65 cont.): the log-log regression slope of term
    frequency against frequency rank — natural-language corpora sit near
    -1; a flat slope is the signature of synthetic/templated text, so
    this is a one-number corpus-authenticity screen beside the
    quality/entropy gates.

    Log points are FLOOR-scaled to exact 1e6-integers (floor is
    deterministic where ROUND's cross-engine target-digit behavior is
    not — the EWMA lesson), so the regression moments are exact BIGINT
    sums at any parallelism (scale cancels in the slope ratio) and the
    slope is one final divide. Vocab-sized workload after the tf
    aggregate; top-1000 ranks bound the quadratic-free closed form."""
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    # Top-1000 via orderBy+limit (TakeOrderedAndProject) — never a
    # vocabulary-wide rank window; only the survivors get ranked.
    ranked = (
        tf.orderBy(F.desc("tf"), F.asc("term"))
        .limit(1000)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("term")))
        )
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1000000).cast("bigint").alias("x"),
        F.floor(F.log(F.col("tf").cast("double")) * 1000000).cast("bigint").alias("y"),
    )
    # Moment combination on exact DECIMALs, not BIGINT: at the 100x
    # replica n*sxy reaches ~5e19 — DuckDB's int64 raises loudly but
    # Spark's non-ANSI BIGINT would WRAP SILENTLY (sf10 sweep finding).
    # Widths mirror the agg_stats corr lattice: products stay <= 38
    # digits (exact in Spark's cap and DuckDB's hugeint-backed
    # decimals), and only the two final scalars cross to DOUBLE.
    m = pts.agg(
        F.count("*").cast("decimal(9,0)").alias("n"),
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(28,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(28,0)").alias("sxx"),
    )
    n = F.col("n")
    return m.select(
        n.cast("bigint").alias("n"),
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("zipf_slope"),
    )


@query(
    "x_text_burstiness",
    oracle=f"""
    WITH dc AS (
      SELECT doc_id, term, COUNT(*) AS x FROM (
        SELECT doc_id, {TERM} FROM documents
      ) WHERE term <> '' GROUP BY doc_id, term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    t AS (
      SELECT term,
             CAST(SUM(x) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM dc GROUP BY term
    )
    SELECT term, total, df,
           CAST(n.n_docs * sxx - total * total AS DOUBLE)
             / (CAST(n.n_docs AS DOUBLE) * total) AS vmr
    FROM t CROSS JOIN n
    WHERE total >= 50
    """,
)
def x_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (#63 cont.): the variance-to-mean ratio of each
    term's per-document counts (zeros included via the N-normalized
    identity) — near 1 means Poisson scatter (function words), well
    above 1 means the term clumps into few documents (topical/entity
    words). The corpus-linguistics statistic behind stopword induction
    and keyword weighting, complementing TF-IDF's document-frequency
    view with WITHIN-document clumping.

    VMR = (N*Σx² - (Σx)²) / (N*Σx): numerator and denominator are exact
    BIGINTs from one (doc, term) aggregate — per-doc zero cells never
    materialize (their contribution is algebraically folded into N), so
    the dense N x vocab grid is never built. One explode + two thin
    aggregates; min-support 50 bounds the output to stable terms."""
    d = T(spark, sf_dir, "documents")
    dc = (
        d.select("doc_id", F.explode(_TOKS()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("x"))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    t = dc.groupBy("term").agg(
        F.sum("x").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("df"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return (
        t.crossJoin(F.broadcast(n))
        .filter(F.col("total") >= 50)
        .select(
            "term",
            "total",
            "df",
            (
                (F.col("n_docs") * F.col("sxx") - F.col("total") * F.col("total")).cast(
                    "double"
                )
                / (F.col("n_docs").cast("double") * F.col("total"))
            ).alias("vmr"),
        )
    )


@query(
    "x_text_collocation_pmi",
    oracle=f"""
    WITH {TOKS_CTE},
    uni AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT UNNEST(l) AS tok FROM toks
      ) WHERE tok <> '' GROUP BY tok
    ),
    n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT l[i+1] AS w1, l[i+2] AS w2
        FROM (SELECT l, UNNEST(range(len(l) - 1)) AS i FROM toks WHERE len(l) >= 2)
      ) WHERE w1 <> '' AND w2 <> ''
      GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ),
    n_bg AS (
      SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM bg
    )
    SELECT b.w1, b.w2, b.c12,
           ROUND(LN((CAST(b.c12 AS DOUBLE) / n_bg.nb)
                    / ((CAST(u1.c AS DOUBLE) / n_uni.n)
                       * (CAST(u2.c AS DOUBLE) / n_uni.n))), 9) AS pmi
    FROM bg b
    JOIN uni u1 ON b.w1 = u1.tok
    JOIN uni u2 ON b.w2 = u2.tok
    CROSS JOIN n_uni CROSS JOIN n_bg
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 20
    """,
)
def x_text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information (#63 cont.):
    adjacent word pairs scored by PMI = ln(p(w1 w2) / (p(w1) p(w2))) —
    word2vec's training statistic and the phrase-detection pass
    ('new york'-style merges) run before tokenizer/embedding training;
    min-support 5 drops the unstable tail, top-20 reported.

    PMI's one transcendental is computed per surviving bigram TYPE (a
    vocabulary-bounded table, not the token stream) and ROUNDed at 9 dp
    before the (pmi DESC, w1, w2) ordering, so the ranking is
    deterministic cross-engine at the comparison grain. Unigram and
    bigram counts are two explode+count passes; the scoring join keys
    on words with broadcast count tables."""
    d = T(spark, sf_dir, "documents")
    # ONE tokenize pass (guide §2.4): each token i becomes the pair
    # (l[i], l[i+1]-or-NULL), so one explode carries BOTH statistics — the
    # (w1, w2) group is the bigram count, and re-summing that table by w1
    # recovers every unigram count exactly (each token instance appears as
    # w1 exactly once). Before: two full tokenizations of documents (one
    # for unigrams, one for bigrams). The localCheckpoint materializes the
    # bigram-TYPE-grain table (vocabulary-bounded, never the token stream)
    # so its six consumers (uni, bg, both totals, both scoring joins) read
    # it instead of re-running the explode — Catalyst's per-consumer
    # pruning otherwise specializes each copy and defeats exchange reuse
    # (measured: 5 FileScans without the barrier). Counts are integers —
    # bit-identical to the two-pass form.
    pairs = (
        "zip_with(l, concat(slice(l, 2, size(l)), array(CAST(NULL AS STRING))),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    counts = (
        d.select(_TOKS().alias("l"))
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    uni = (
        counts.filter(F.col("w1") != "")
        .groupBy(F.col("w1").alias("tok"))
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bg = (
        counts.filter(
            (F.col("w1") != "") & F.col("w2").isNotNull() & (F.col("w2") != "")
        )
        .select("w1", "w2", F.col("c").alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    n_bg = bg.agg(F.sum("c12").cast("bigint").alias("nb"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("nb"))
            / (
                (F.col("c1").cast("double") / F.col("n"))
                * (F.col("c2").cast("double") / F.col("n"))
            )
        ),
        9,
    )
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# Trained char-bigram model: a per-corpus substrate like the trigram
# profiles — at most |alphabet|^2 (bigram -> ppm) ints, reused across calls.

# Map-literal scoring is only "map-only and cheap" while the model stays
# alphabet²-small: element_at on create_map is a linear scan and the plan
# literal grows with the model. Above this cap scoring switches to the
# broadcast-join path (same integer lattice, bounded plan) — the guard for
# unicode-rich corpora whose effective alphabet explodes the bigram space.
_CHAR_LM_MAP_MAX = 4096


@query(
    "x_text_char_lm_score",
    oracle="""
    WITH bg AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(lower(text)) - 1),
                    i -> substr(lower(text), i+1, 2))) AS bigram
      FROM documents WHERE len(text) >= 2
    ),
    bgc AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
    ),
    model AS (
      SELECT bigram, CAST(SUM(cnt) AS BIGINT) AS c_bg,
             CAST(SUM(SUM(cnt)) OVER (PARTITION BY substr(bigram, 1, 1))
                  AS BIGINT) AS c_ctx
      FROM bgc GROUP BY bigram
    ),
    scored AS (
      SELECT b.doc_id, b.cnt,
             CAST(ROUND(1000000.0 * m.c_bg / m.c_ctx, 0) AS BIGINT) AS p_ppm
      FROM bgc b JOIN model m USING (bigram)
    )
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_ppm * cnt) AS BIGINT) AS ppm_sum,
           CAST(SUM(p_ppm * cnt) AS DOUBLE) / (SUM(cnt) * 1000000.0)
             AS mean_bigram_prob
    FROM scored GROUP BY doc_id
    """,
)
def x_text_char_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram language-model fluency score: train MLE bigram
    probabilities P(b|a) = C(ab)/C(a·) on the whole corpus, then score
    each document by its mean bigram probability — the self-trained
    fluency screen that flags mojibake/binary-junk documents whose
    character transitions are improbable under the corpus's own language
    model (low score = candidate for the quality gate).

    Determinism: each P(b|a) is quantized to parts-per-million BEFORE
    accumulation (integer lattice, same rationale as
    x_eval_calibration_bins — a corpus-count ratio times 1e6 never lands
    exactly on .5; the quantization stays a Spark F.round so the lattice
    is the engine's HALF_UP on positive values, matching DuckDB ROUND),
    per-doc mass is an exact BIGINT sum (order-free integer adds), the
    mean is one IEEE divide. The geometric/perplexity variant is one log
    away in production but libm logs are not cross-engine bit-stable, so
    the registered score is the arithmetic mean.

    Scale (round-9 shape): the model is at most |alphabet|^2 rows, so it
    is TRAINED ONCE per (session, corpus) — one linear pass, explode +
    map-side-combined groupBy(bigram), collected as ints — and scoring is
    a MAP-ONLY pass: a constant-folded bigram->ppm map literal evaluated
    per character position with F.aggregate, no explode, no shuffle, no
    per-call checkpoint. The previous shape rebuilt and shuffled the
    ~(docs x distinct-bigram) counted stream on every call: measured
    35.2 s warm at the 100x replica vs 2.4 s at 10x (the substrate
    rebuild WAS the query); map-only scoring is linear in corpus bytes by
    construction. A bigram absent from the model scores 0 via coalesce —
    unreachable when scoring the training corpus (the registered form),
    defensive for scoring new text against a cached model."""
    from pyspark.sql.window import Window

    def train_model():
        # Rebalance before the per-char explode (single-split corpus
        # would pin one core — the x_dedup_chunk_cdc lesson). lower()
        # HOISTED out of the lambda: no CSE across transform() elements.
        d = (
            T(spark, sf_dir, "documents")
            .filter(F.length("text") >= 2)
            .repartition(max(spark.sparkContext.defaultParallelism * 2, 8), "doc_id")
        )
        bg = d.select(F.lower("text").alias("low")).select(
            F.explode(
                F.expr(
                    "transform(sequence(0, length(low) - 2),"
                    " i -> substring(low, i + 1, 2))"
                )
            ).alias("bigram"),
        )
        counts = bg.groupBy("bigram").agg(F.count("*").cast("bigint").alias("c_bg"))
        model = counts.withColumn(
            "c_ctx",
            F.sum("c_bg")
            .over(Window.partitionBy(F.substring("bigram", 1, 1)))
            .cast("bigint"),
        ).select(
            "bigram",
            F.round(F.lit(1000000.0) * F.col("c_bg") / F.col("c_ctx"), 0)
            .cast("bigint")
            .alias("p_ppm"),
        )
        # |alphabet|^2-bounded driver collect (~hundreds of rows) — the
        # same O(1)-class probe as the global-order offsets.
        return {r["bigram"]: r["p_ppm"] for r in model.collect()}

    ppm = session_cache_get(spark, sf_dir, "text.char_lm_model", train_model)
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .repartition(max(spark.sparkContext.defaultParallelism * 2, 8), "doc_id")
    )
    low = d.select("doc_id", F.lower("text").alias("low"))
    if len(ppm) > _CHAR_LM_MAP_MAX:
        # Unicode-rich corpus guard (round-9 ADVICE): create_map lookup is
        # a LINEAR scan of the literal and the plan grows with |alphabet|^2,
        # so above the cap the scoring falls back to the pre-r9 shape —
        # explode per-doc bigram counts, broadcast-join the model DataFrame
        # (hash lookup, bounded plan), aggregate the identical integer
        # lattice. Bit-equal to the map-only path by construction
        # (asserted in tests/test_round10_ops.py with the cap forced to 0).
        model_df = spark.createDataFrame(
            sorted(ppm.items()), "bigram string, p_ppm bigint"
        )
        bgc = (
            low.select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, length(low) - 2),"
                        " i -> substring(low, i + 1, 2))"
                    )
                ).alias("bigram"),
            )
            .groupBy("doc_id", "bigram")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .join(F.broadcast(model_df), "bigram", "left")
        )
        n_bg = F.sum("cnt").cast("bigint")
        psum = F.sum(F.coalesce(F.col("p_ppm"), F.lit(0)) * F.col("cnt")).cast("bigint")
        return bgc.groupBy("doc_id").agg(
            n_bg.alias("n_bigrams"),
            psum.alias("ppm_sum"),
            (psum.cast("double") / (n_bg * F.lit(1000000.0))).alias("mean_bigram_prob"),
        )
    pairs = [x for kv in sorted(ppm.items()) for x in kv] or ["", 0]
    ppm_map = F.create_map(*[F.lit(x) for x in pairs])
    ppm_sum = F.aggregate(
        F.sequence(F.lit(1), F.length("low") - 1),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.coalesce(F.element_at(ppm_map, F.col("low").substr(i, F.lit(2))), F.lit(0)),
    )
    return low.select(
        "doc_id",
        (F.length("low") - 1).cast("bigint").alias("n_bigrams"),
        ppm_sum.alias("ppm_sum"),
        (
            ppm_sum.cast("double") / ((F.length("low") - 1) * 1000000.0)
        ).alias("mean_bigram_prob"),
    )
