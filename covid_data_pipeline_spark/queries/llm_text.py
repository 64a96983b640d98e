"""§2.10 Text analysis (mandated LLM-pipeline extension).

Reference analogue: the extracted-text analysis the reference did by
eye (humans reading change lists), industrialized: term frequency,
tf-idf, language profiling/ID, quality scoring, token counting, n-gram
shingles, content fingerprinting.  All built-ins — tokenization is
whitespace ``split`` (safe per FIXTURES.md: fixture text is
space-separated word soup).

Scale notes: token explode multiplies rows by ~60 but aggregates
immediately (map-side partial); the global vocabulary here is tiny, and
at real scale term dictionaries stay groupBy-friendly because the
aggregate is on (term) or (doc, term) — never a cross product.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load
from ..registry import query
from ._helpers import _ngram_hits, _ngram_hits_sql, _power_sums, round_long


@query(
    "text_tf",
    oracle="""
    SELECT token, tf, rn FROM (
        SELECT token, COUNT(*) AS tf,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ) WHERE rn <= 20
    """,
)
def text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by global term frequency, rank materialized with a
    token tiebreaker for determinism.

    Scale shape: ``orderBy(...).limit(20)`` compiles to
    TakeOrderedAndProject — per-partition partial top-20, merge of
    20·p rows — so the vocabulary (which grows with the corpus) is never
    globally sorted; the round-2 version ranked it with an unpartitioned
    window, a single-task sort unbounded at 100 TB.  The 20 survivors
    are then ranked via sort_array(collect_list(...)) + posexplode over
    ONE 20-element array — constant-sized by construction, no WindowExec."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("token")).limit(20)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("tf")).alias("neg_tf"),
                    F.col("token").alias("token"),
                    F.col("tf").alias("tf"),
                )
            )
        ).alias("xs")
    )
    return (
        packed.select(F.posexplode("xs").alias("rn0", "x"))
        .select("x.token", "x.tf", (F.col("rn0") + 1).alias("rn"))
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token AS top_term, tfidf FROM (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                            DESC, tf.token) AS rn
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ) WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf and the top term per document.  Ranking uses the ROUNDED
    score (ln() can differ in the last ulp across libm implementations)
    plus a token tiebreaker, so the winner is deterministic cross-engine.
    Pure DataFrame: explode -> two aggregates -> broadcast doc count ->
    window."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    scored = (
        tf.join(df, on="token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


@query(
    "text_lang_profile",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (reference: per-state content stats).
    Integer sums -> exact averages, no decimal trick needed."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(F.size(F.split("text", " "))).cast("double") / F.count(F.lit(1))).alias(
            "avg_tokens"
        ),
    )


def _bigrams(toks: Column) -> Column:
    """The array of "a b" strings, one per adjacent token pair of the
    string array ``toks``, from one zip_with pass."""
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )


@query(
    "text_ngrams",
    oracle="""
    SELECT bigram, COUNT(*) AS cnt
    FROM (
        SELECT unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))]) AS bigram
        FROM (SELECT string_split(text, ' ') AS l FROM documents)
    )
    GROUP BY bigram HAVING COUNT(*) >= 10
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram shingle counts (the shingling primitive under minhash
    near-dup): zip the token array with its own tail — no explode-join,
    one pass per document."""
    d = load(spark, sf_dir, "documents")
    bigrams = _bigrams(F.split("text", " "))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


# --- extensions beyond the survey's 4 text rows -------------------------


@query(
    "text_repetition_ratio",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, toks,
               [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
                   AS bigrams,
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                FOR i IN range(1, len(toks) - 1)] AS trigrams
        FROM t
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                       / NULLIF(len(bigrams), 0), 6) AS dup_bigram_ratio,
           ROUND(1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE)
                       / NULLIF(len(trigrams), 0), 6) AS dup_trigram_ratio,
           ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                       / NULLIF(len(toks), 0), 6) AS dup_token_ratio,
           CAST((1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE)
                  / NULLIF(len(trigrams), 0)) <= 0.2 AS INTEGER)
               AS passes_repetition
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals — the Gopher/RefinedWeb heuristic
    family ``text_quality`` doesn't cover: the fraction of DUPLICATE
    word bigrams / trigrams / tokens per document, plus the standard
    keep gate (duplicate-trigram fraction <= 0.2).  Boilerplate, spam
    and degenerate generations score high on these while passing
    stopword/diversity checks, which is why production filters run both
    families.

    One pass, zero joins, zero shuffles beyond the scan: the n-gram
    arrays are built by zipping the token array with its own tails
    (same primitive as text_ngrams) and every ratio is a codegen'd
    size/array_distinct expression — at 100 TB this filter is
    scan-bandwidth bound, exactly like quality_filter_funnel."""
    # r12 (guide §2.5): map-only per-doc HOF work ran entirely on the
    # single-file scan's 1-2 partitions; spreading the documents first
    # parallelizes it.  Identical per-row results (distribution only).
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split("text", " ")
    n = F.size(toks)
    # slice lengths clamped at 0: a 1-token document makes n-2 negative,
    # which Spark's slice() rejects at runtime; and the ratios NULL out
    # on empty n-gram arrays (0/0 is NULL in Spark but inf/NaN in
    # DuckDB's IEEE mode — the same cross-engine trap win_lag_change_rate
    # guards with NULLIF, mirrored in this oracle)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    trigrams = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, F.greatest(n - 2, F.lit(0))),
            F.slice(toks, 2, F.greatest(n - 2, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice(toks, 3, F.greatest(n - 2, F.lit(0))),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )

    def dup_ratio(arr):
        sz = F.size(arr)
        return 1.0 - F.size(F.array_distinct(arr)).cast("double") / F.nullif(
            sz, F.lit(0)
        )

    return d.select(
        "doc_id",
        F.round(dup_ratio(bigrams), 6).alias("dup_bigram_ratio"),
        F.round(dup_ratio(trigrams), 6).alias("dup_trigram_ratio"),
        F.round(dup_ratio(toks), 6).alias("dup_token_ratio"),
        # int, not boolean: the gate is NULL for <3-token docs (NULLIF-
        # guarded ratio) and nullable booleans canonicalize differently
        # through pandas (object None vs float NaN) — same doctrine as
        # win_anomaly_zscore's flag
        (dup_ratio(trigrams) <= 0.2).cast("int").alias("passes_repetition"),
    )

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_SQL_STOPWORDS = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text, n_chars
               FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(toks) AS avg_token_len,
           ROUND(CAST(len(list_filter(toks, x -> list_contains({_SQL_STOPWORDS}, x)))
                      AS DOUBLE) / len(toks), 6) AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
               AS distinct_ratio,
           (n_chars BETWEEN 50 AND 1000
            AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.1)
               AS passes_quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for training-data filtering: token stats,
    stopword ratio, lexical diversity, and a pass/fail gate — the
    heuristic-filter stage of an LLM data pipeline, all built-ins."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    # filter, not array_intersect: repeated stopwords must count each time
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        (F.col("n_chars").between(50, 1000) & (distinct_ratio > 0.1)).alias(
            "passes_quality"
        ),
    )


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> list_contains({_SQL_STOPWORDS}, x))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS en_score
        FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'unknown' END AS detected_lang,
           ROUND(en_score, 6) AS en_score
    FROM t
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile scoring (the n-gram
    profile method reduced to its word-level core).  One profile here
    because fixture text is English word soup for every label — the
    operator shape (score per profile, argmax) is what matters."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    score = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(toks)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(score >= 0.05, "en").otherwise("unknown").alias("detected_lang"),
        F.round(score, 6).alias("en_score"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS approx_llm_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, a BPE-ish regex
    (letter-runs / digit-runs / single punctuation), and the chars/4
    LLM-budget approximation."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.col("n_chars").cast("double") / 4).alias("approx_llm_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                   [CAST(unicode(x) AS BIGINT)
                    FOR x IN string_split_regex(text, '')]),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: polynomial rolling hash over character
    codes mod 2^31-1 — engine-neutral exact integer arithmetic (unlike
    murmur/xxhash built-ins, which differ per engine), the primitive
    under winnowing/rabin-karp shingle selection."""
    d = load(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.transform(F.split("text", ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + c) % 2147483647,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "quality_filter_funnel",
    oracle=f"""
    WITH scored AS (
        SELECT lang, n_chars,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> list_contains({_SQL_STOPWORDS}, x))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stopword_ratio
        FROM documents
    )
    SELECT lang,
           CASE WHEN n_chars < 50 THEN 'too_short'
                WHEN n_chars > 1000 THEN 'too_long'
                WHEN distinct_ratio <= 0.1 THEN 'low_diversity'
                WHEN stopword_ratio < 0.01 THEN 'low_stopword'
                ELSE 'kept' END AS verdict,
           COUNT(*) AS n_docs
    FROM scored GROUP BY lang, verdict
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/RefinedWeb-style heuristic filter funnel: every document
    gets exactly one verdict — the FIRST failing rule in a fixed
    priority order (length gates, then lexical diversity, then stopword
    density) or 'kept' — and the report is the per-language drop
    breakdown data teams audit before a training run.

    Single pass: all rule inputs are per-row expressions (no joins), the
    CASE picks the verdict, one groupBy (lang, verdict) shuffles ~25
    rows.  At 100 TB: map-side partial aggregation means the shuffle
    carries one row per (lang, verdict) per task — this funnel costs one
    scan regardless of corpus size, and the same CASE column doubles as
    the keep/drop predicate for the actual filter write."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stopword_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / n_tok
    )
    verdict = (
        F.when(F.col("n_chars") < 50, "too_short")
        .when(F.col("n_chars") > 1000, "too_long")
        .when(distinct_ratio <= 0.1, "low_diversity")
        .when(stopword_ratio < 0.01, "low_stopword")
        .otherwise("kept")
    )
    return (
        d.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _ols_fit(
    n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column
) -> tuple[Column, Column, Column, Column]:
    """``(slope, denx, slope_micro, r2_micro)`` of the OLS fit of y on x
    from its double power sums, in one IEEE expression shape per engine.
    A degenerate fit (x without spread, ``denx = 0``; for R^2 also y
    without spread) is NULL on both engines: Spark's x/0 is NULL, but
    DuckDB's IEEE division yields inf, whose BIGINT cast errors -- the
    cross-engine divergence class the Durbin-Levinson v>0 gate closed
    (corpus.py)."""
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx
    return (
        slope,
        denx,
        F.when(denx > 0, round_long(F.lit(1000000.0) * slope)),
        F.when(
            (denx > 0) & (deny > 0),
            round_long(F.lit(1000000.0) * ((num * num) / (denx * deny))),
        ),
    )


_CONTAM_N = 3          # n-gram length (fixture demo; production uses 8+)
_CONTAM_EVAL_MOD = 97  # doc_id % 97 == 0 -> held-out "eval" doc
_CONTAM_MIN_RATIO = 0.04  # fixture demo; production uses ~0.3


@query(
    "corpus_contamination_check",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(list_slice(t, CAST(g + 1 AS BIGINT),
                                          CAST(g + {_CONTAM_N} AS BIGINT)), ' ')
                   AS gram
        FROM (SELECT doc_id, t,
                     unnest(range(0, CAST(len(t) - {_CONTAM_N} + 1 AS BIGINT)))
                         AS g
              FROM toks
              WHERE len(t) >= {_CONTAM_N})
    ),
    eval_grams AS (
        SELECT doc_id AS eval_id, gram FROM grams
        WHERE doc_id % {_CONTAM_EVAL_MOD} = 0
        GROUP BY doc_id, gram
    ),
    eval_sizes AS (
        SELECT eval_id, COUNT(*) AS n_eval_grams FROM eval_grams GROUP BY eval_id
    ),
    {_ngram_hits_sql(f"g.doc_id % {_CONTAM_EVAL_MOD} <> 0")}
    SELECT h.train_id, h.eval_id, h.shared,
           ROUND(CAST(h.shared AS DOUBLE) / s.n_eval_grams, 6) AS contamination
    FROM hits h JOIN eval_sizes s ON h.eval_id = s.eval_id
    WHERE CAST(h.shared AS DOUBLE) / s.n_eval_grams >= {_CONTAM_MIN_RATIO}
    """,
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination detection — the pre-training hygiene check
    every lab runs: which training documents share a large fraction of
    an eval document's n-gram shingles (verbatim leakage survives
    paraphrase-level edits poorly, so 8-to-13-gram overlap is the
    standard detector, cf. GPT-3/PaLM appendix methodology).  The
    fixture's near-dups are token-shuffled word soup — zero verbatim
    8-gram overlap exists by construction — so this demo runs at n=3
    with a floor-level ratio; the OPERATOR (shingle -> broadcast join
    -> per-pair overlap ratio) is unchanged at production settings.

    The eval side (deterministic doc_id % {97} holdout here; the real
    benchmark set in production) is orders of magnitude smaller than the
    corpus, so its distinct shingles BROADCAST and the scan side joins
    map-side — the corpus never shuffles by shingle.  Per (train, eval)
    pair the shared-shingle count shuffles only (train_id, eval_id)
    pairs that actually hit.  At 100 TB: the same plan, with the eval
    shingle set ~10-100 MB broadcast and contamination output feeding
    the document kill-list."""
    # r12 (guide §2.5, the pre-explode repartition idiom): the
    # single-file scan leaves 1-2 partitions, pinning the gram explode +
    # broadcast join + overlap groupBy to 1-2 cores.  Spreading the
    # DOCUMENTS (pre-explode, so the exchange carries doc-sized rows,
    # not gram-sized) parallelizes the whole map side.  Identical rows
    # (distribution only); 2.55 -> 0.84 s interleaved median.
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    is_eval = F.col("doc_id") % _CONTAM_EVAL_MOD == 0
    contamination = F.col("shared").cast("double") / F.col("n_eval_grams")
    return (
        _ngram_hits(d, _CONTAM_N, is_eval, ~is_eval)
        .filter(contamination >= _CONTAM_MIN_RATIO)
        .select(
            "train_id",
            "eval_id",
            "shared",
            F.round(contamination, 6).alias("contamination"),
        )
    )


# The oracle CTEs of text_perplexity_proxy's unigram model: tok .. packed
# (doc_id, cs, n_tokens), each document's tf * ln(p) contributions in
# token order with its token count.
_UNIGRAM_SQL_CTES = """tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    contrib AS (
        SELECT tf.doc_id, tf.token, tf.tf,
               tf.tf * ln(CAST(vocab.c AS DOUBLE) / tot.n) AS contrib
        FROM tf JOIN vocab USING (token) CROSS JOIN tot
    ),
    packed AS (
        SELECT doc_id,
               list(contrib ORDER BY token) AS cs,
               CAST(SUM(tf) AS BIGINT) AS n_tokens
        FROM contrib GROUP BY doc_id
    )"""


@query(
    "text_perplexity_proxy",
    oracle=f"""
    WITH {_UNIGRAM_SQL_CTES}
    SELECT doc_id, n_tokens,
           ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                             (a, x) -> a + x) / n_tokens, 6) AS avg_logprob
    FROM packed
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency scoring — the CCNet-style quality signal: train
    a unigram language model ON the corpus itself (token frequency /
    corpus size) and score each document by its average token log-prob.
    Gibberish and off-distribution documents score far below the corpus
    mode; production pipelines threshold or bucket on exactly this
    number (with a wiki-trained 5-gram KenLM in place of the unigram).

    Determinism discipline: the per-document sum of tf·ln(p) is folded
    over the token-SORTED contribution list (collect_list + sort_array +
    aggregate — same ordered-fold doctrine as sim_normalize_embeddings),
    because a plain SUM would add floats in partition order and drift
    against the oracle.  Plan: two aggregates over the exploded tokens
    (both map-side combinable), the vocabulary rejoined to per-doc terms
    by token — vocab is corpus-bounded and BROADCASTS after min-count
    pruning at scale; the corpus-total is a 1-row broadcast."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    contrib = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * F.log(F.col("c").cast("double") / F.col("n"))
            ).alias("contrib"),
        )
    )
    packed = contrib.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("token", "contrib"))
        ).alias("cs"),
        F.sum("tf").alias("n_tokens"),
    )
    folded = F.aggregate(
        "cs", F.lit(0.0), lambda acc, x: acc + x.getField("contrib")
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.round(folded / F.col("n_tokens"), 6).alias("avg_logprob"),
    )


@query(
    "text_char_ngrams",
    oracle="""
    SELECT trigram, COUNT(*) AS cnt
    FROM (
        SELECT substring(text, CAST(i AS INTEGER), 3) AS trigram
        FROM documents, range(1, 200) t(i)
        WHERE i + 2 <= len(text)
    )
    GROUP BY trigram HAVING COUNT(*) >= 50
    """,
)
def text_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER trigram counts over each document's first ~200 chars —
    the actual primitive under production language ID (character
    n-gram profiles survive misspellings and unknown words where the
    word-level stopword heuristic of text_langid fails; cf. the
    classic n-gram-based text categorization setup).  Capping the scan
    window per document bounds work per row the way real langid models
    sample a prefix rather than the whole document.

    One pass: sequence + transform build the trigram array per row in
    codegen (no join against a position table — the oracle's cross
    join spells the same thing relationally), explode, count, floor
    filter.  At 100 TB: trigram cardinality is alphabet-bounded
    (~50k for Latin corpora), so the aggregate shuffles a tiny
    dictionary per task."""
    d = load(spark, sf_dir, "documents")
    # start positions 1..min(len-2, 199): same window as the oracle's
    # range(1, 200) with i+2 <= len
    n = F.least(F.length("text") - 2, F.lit(199))
    grams = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.col("text").substr(i, F.lit(3))
    )
    return (
        d.filter(F.length("text") >= 3)
        .select(F.explode(grams).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 50)
    )


# BM25 over a fixed query-term set (Robertson/Sparck-Jones weights,
# k1=1.2 b=0.75 — the textbook constants).  Terms chosen from the
# fixture vocabulary so every sf has matches.
_BM25_TERMS = ("join", "filter", "window")
_BM25_SQL_TF = ", ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS, 1)
)
_BM25_SQL_DF = ", ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(1, len(_BM25_TERMS) + 1)
)
_BM25_SQL_SCORE = " + ".join(
    f"ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
    f" * (tf{i} * 2.2)"
    f" / (tf{i} + 1.2 * (0.25 + 0.75 * dl / (CAST(tot AS DOUBLE) / n_docs)))"
    for i in range(1, len(_BM25_TERMS) + 1)
)
_BM25_SQL_ANY = " + ".join(f"tf{i}" for i in range(1, len(_BM25_TERMS) + 1))


@query(
    "text_bm25",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tf AS (SELECT doc_id, len(toks) AS dl, {_BM25_SQL_TF} FROM docs),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS tot, {_BM25_SQL_DF} FROM tf
    )
    SELECT doc_id, ROUND({_BM25_SQL_SCORE}, 6) AS bm25
    FROM tf CROSS JOIN stats
    WHERE {_BM25_SQL_ANY} > 0
    ORDER BY ROUND({_BM25_SQL_SCORE}, 6) DESC, doc_id
    LIMIT 50
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the retrieval primitive under quality classifiers and targeted
    corpus selection (rank a 100 TB crawl against "looks like textbook
    text" seed terms and keep the head).

    Scale shape: NO token explode — per-term tf comes from a codegen'd
    size(filter(...)) over the token array (three counters riding the
    scan), the corpus stats (N, total length, per-term df) are ONE
    1-row aggregate broadcast back, and the top-50 is
    orderBy(...).limit(50) = TakeOrderedAndProject, so nothing global
    ever sorts.  The score is the standard
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with ln/ROUND(6) for
    cross-engine float discipline (same doctrine as text_tfidf), ties
    broken by doc_id."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sel = [F.col("doc_id"), F.size(toks).alias("dl")]

    def _eq(term: str):
        # factory, not a default-arg lambda: a second lambda parameter
        # would be interpreted by filter() as the element INDEX
        return lambda x: x == F.lit(term)

    for i, t in enumerate(_BM25_TERMS, 1):
        sel.append(F.size(F.filter(toks, _eq(t))).alias(f"tf{i}"))
    docs = d.select(*sel)
    aggs = [F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")]
    for i in range(1, len(_BM25_TERMS) + 1):
        aggs.append(
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
        )
    stats = docs.agg(*aggs)
    scored = docs.crossJoin(F.broadcast(stats))
    avgdl = F.col("tot").cast("double") / F.col("n_docs")
    score = None
    for i in range(1, len(_BM25_TERMS) + 1):
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        contrib = (
            idf
            * (tf * 2.2)
            / (tf + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
        )
        score = contrib if score is None else score + contrib
    any_tf = None
    for i in range(1, len(_BM25_TERMS) + 1):
        any_tf = (
            F.col(f"tf{i}")
            if any_tf is None
            else any_tf + F.col(f"tf{i}")
        )
    return (
        scored.filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )


@query(
    "text_entropy",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    u AS (SELECT doc_id, toks, list_sort(list_distinct(toks)) AS utoks
          FROM t),
    c AS (
        SELECT doc_id, toks, utoks,
               list_transform(utoks, tk ->
                   CAST(len(list_filter(toks, x -> x = tk)) AS DOUBLE))
                   AS cnts
        FROM u
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(utoks) AS n_distinct,
           ROUND(ln(CAST(len(toks) AS DOUBLE))
                 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cnts),
                               (acc, x) -> acc + x * ln(x))
                   / len(toks),
                 6) AS token_entropy_nats
    FROM c
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (in nats) —
    the information-density quality signal the distinct-ratio gate of
    text_quality approximates: H = ln(n) - (sum c_i ln c_i)/n over
    per-token counts c_i.  Degenerate generations (one token repeated)
    score ~0; diverse prose scores ~ln(n_distinct).

    Cross-engine float discipline: the count vector is built over the
    SORTED distinct-token array and folded LEFT in both engines
    (aggregate here, list_reduce in the oracle — the _SQL_DOT pattern),
    so the double additions happen in the identical order and the sums
    match bit-for-bit; ln + ROUND(6) as in text_tfidf.  One pass, no
    explode, no shuffle beyond the scan: per-doc work is
    O(distinct x tokens) on an 80-token array, all codegen."""
    # r12 (guide §2.5): map-only per-doc HOF work ran entirely on the
    # single-file scan's 1-2 partitions; spreading the documents first
    # parallelizes it.  Identical per-row results (distribution only).
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split("text", " ")
    utoks = F.array_sort(F.array_distinct(toks))
    cnts = F.transform(
        utoks,
        lambda tk: F.size(F.filter(toks, lambda x: x == tk)).cast("double"),
    )
    s = F.aggregate(cnts, F.lit(0.0), lambda acc, x: acc + x * F.log(x))
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(utoks).alias("n_distinct"),
        F.round(F.log(n.cast("double")) - s / n, 6).alias(
            "token_entropy_nats"
        ),
    )


# Deterministic dirty-unicode construction for text_unicode_normalize:
# even doc_ids get the COMPOSED acute (U+00E1, already NFC), odd ones
# the DECOMPOSED pair (a + U+0301, NFD) — so the odd half (every odd
# doc whose first 80 chars contain an 'a') actually changes under NFC
# and the operator is never vacuous.
_COMPOSED_A = "á"
_DECOMPOSED_A = "á"


@F.pandas_udf(T.StringType())
def _nfc_udf(col: pd.Series) -> pd.Series:
    """Arrow-batched NFC — Spark has no normalization built-in, so this
    is a legitimate rung-2 UDF (vectorized, map-only)."""
    import unicodedata

    return col.map(lambda s: unicodedata.normalize("NFC", s))


@query(
    "text_unicode_normalize",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               replace(substr(text, 1, 80), 'a',
                       CASE WHEN doc_id % 2 = 0
                            THEN '{_COMPOSED_A}' ELSE '{_DECOMPOSED_A}' END)
                   AS dirty
        FROM documents
    )
    SELECT doc_id,
           length(dirty) AS len_dirty,
           length(nfc_normalize(dirty)) AS len_norm,
           CAST(nfc_normalize(dirty) != dirty AS INTEGER) AS changed,
           md5(nfc_normalize(dirty)) AS norm_md5
    FROM dirty
    """,
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the first step of every real text-
    cleaning pipeline (composed vs decomposed accents hash differently,
    so exact dedup and fingerprinting are wrong until the corpus is
    normalized).  Spark has no NFC built-in, so this is a legitimate
    rung-2 Arrow UDF: unicodedata.normalize over pandas string blocks —
    map-only, zero shuffle, linear scan at any scale.

    The fixture corpus is pure ASCII (normalization would be the
    identity — vacuous evidence, the round-3 lesson), so both engines
    first build the SAME deterministic dirty column: 'a' swapped for a
    composed acute on even doc_ids and a decomposed a+combining-acute
    on odd ones.  The oracle normalizes with DuckDB's independent
    nfc_normalize; agreement is asserted on codepoint lengths, a
    changed flag (the odd half, minus any doc whose first 80 chars
    lack an 'a'), and the md5 of the normalized
    bytes — two unrelated NFC implementations converging on identical
    UTF-8."""
    d = load(spark, sf_dir, "documents")
    dirty = F.replace(
        F.substring("text", 1, 80),
        F.lit("a"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_COMPOSED_A)).otherwise(
            F.lit(_DECOMPOSED_A)
        ),
    )
    return (
        d.select("doc_id", dirty.alias("dirty"))
        .select("doc_id", "dirty", _nfc_udf("dirty").alias("norm"))
        .select(
            "doc_id",
            F.length("dirty").alias("len_dirty"),
            F.length("norm").alias("len_norm"),
            (F.col("norm") != F.col("dirty")).cast("int").alias("changed"),
            F.md5("norm").alias("norm_md5"),
        )
    )


_PHRASE_W1 = "order"
_PHRASE_W2 = "fast"


@query(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    SELECT a.doc_id,
           COUNT(*) AS n_hits,
           MIN(a.pos) AS first_pos
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = '{_PHRASE_W1}' AND b.tok = '{_PHRASE_W2}'
    GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ("{_PHRASE_W1} {_PHRASE_W2}") over positional
    posting lists — the inverted-index primitive under corpus grep,
    contamination phrase probes, and boolean retrieval.  Emits, per
    matching document, the occurrence count and the 1-based position of
    the first match.

    NOT a self-join: per document the two terms' position lists are
    gathered in ONE aggregate (the posting lists an inverted index
    stores), and phrase adjacency is a set intersection of (positions of
    w1, shifted +1) with positions of w2 — array ops inside codegen, so
    the whole query is scan → explode → one groupBy shuffle.  The
    term filter lands BEFORE the aggregate, which is exactly an index
    lookup's selectivity: only the two probed terms' postings ever
    shuffle (2/31 of the corpus here; 2/|vocab| in general).  At 100 TB
    the posting lists are materialized once, bucketed by term — this
    query's plan after the filter IS the per-term bucket read — and a
    k-term phrase folds k-1 such intersections left to right.  The
    oracle spells the classic positional self-join; both formulations
    must agree exactly."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).filter(F.col("tok").isin(_PHRASE_W1, _PHRASE_W2))
    postings = tok.groupBy("doc_id").agg(
        F.collect_list(
            F.when(F.col("tok") == _PHRASE_W1, F.col("pos0") + 1)
        ).alias("p1"),
        F.collect_list(
            F.when(F.col("tok") == _PHRASE_W2, F.col("pos0") + 1)
        ).alias("p2"),
    )
    matched = F.filter(
        "p1", lambda x: F.array_contains(F.col("p2"), x + 1)
    )
    return (
        postings.select("doc_id", matched.alias("m"))
        .filter(F.size("m") > 0)
        .select(
            "doc_id",
            F.size("m").cast("long").alias("n_hits"),
            F.array_min("m").cast("long").alias("first_pos"),
        )
    )


_BPE_MERGES = 8


def _bpe_train(
    spark: SparkSession, sf_dir: str, track_corpus_tokens: bool = False
) -> tuple[list[tuple], list[tuple], DataFrame]:
    """Shared BPE trainer: returns (merges, curve, vocab) where merges is
    [(rank, left, right, merged, weighted_count)], curve — only
    populated when track_corpus_tokens — is [(round, corpus_tokens)]
    with round 0 = the character-level baseline, and vocab is the final
    distinct-word table (w, freq, seq) with every merge applied — i.e.
    the corpus fully tokenized at the WORD level, which is what
    text_bpe_encode joins against.  merges/curve are pure model state
    (one 1-row collect per round)."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seqs = words.select("w", "freq", F.split("w", "").alias("seq"))
    seqs = seqs.localCheckpoint(eager=False)

    def pair_counts(s):
        pairs = s.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(slice(seq, 1, size(seq)-1),"
                    " (x, i) -> struct(x AS a, seq[i+1] AS b))"
                )
            ).alias("p"),
        )
        return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))

    # r12 action fold: the per-round argmax rides ONE single-row
    # aggregate (min_by on (-n, a, b) — the identical (count desc,
    # left, right) tie-break the old orderBy().limit(1) used), and the
    # compression curve's token count rides the SAME action:
    # sum(n) over the pair table = sum_w freq*(|seq_w|-1)
    # = corpus_tokens - sum(freq), and sum(freq) never changes across
    # rounds (merges change seq lengths, never the word multiset).  So
    # tracking the curve costs zero extra jobs per round (the old shape
    # ran a second corpus_tokens aggregate per round), plus one
    # pair-count pass after the final merge for the curve's last point.
    # Exactness: all-integer (weighted counts and freq sums), asserted
    # against the pure-Python replay in tests/test_llm_ops.py.
    w_total = (
        int(seqs.agg(F.sum("freq").alias("t")).collect()[0]["t"])
        if track_corpus_tokens
        else 0
    )
    curve = []
    merges = []
    for rank in range(1, _BPE_MERGES + 1):
        counts = pair_counts(seqs)
        row = counts.agg(
            F.min_by(
                F.struct("a", "b", "n"),
                F.struct(
                    (-F.col("n")).alias("k1"),
                    F.col("a").alias("k2"),
                    F.col("b").alias("k3"),
                ),
            ).alias("best"),
            F.sum("n").alias("pw"),
        ).collect()[0]
        a, b, n = row["best"]["a"], row["best"]["b"], row["best"]["n"]
        if track_corpus_tokens:
            # pw is over PRE-merge seqs: the curve point for rank-1 merges
            curve.append((rank - 1, int(row["pw"]) + w_total))
        merges.append((rank, a, b, a + b, int(n)))
        # symbols are data-derived: bind them as literal Columns via the
        # Python lambda API (F.aggregate), never f-string-interpolated
        # into a SQL expression (injection-proof for any vocabulary)
        def _make_merge_fold(sym_a: str, sym_b: str):
            lit_a, lit_b, lit_ab = F.lit(sym_a), F.lit(sym_b), F.lit(sym_a + sym_b)

            def _merge_fold(acc, x):
                return F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lit_a)
                    & (x == lit_b),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lit_ab)
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return _merge_fold

        seqs = seqs.select(
            "w",
            "freq",
            F.aggregate(
                "seq", F.array().cast("array<string>"), _make_merge_fold(a, b)
            ).alias("seq"),
        )
        # r12: NO per-round localCheckpoint — the only corpus-sized
        # stage (word count) is truncated by the initial checkpoint, so
        # each round replays at most _BPE_MERGES nested in-codegen folds
        # over the |V|-row leaf (microseconds), while a checkpoint per
        # round cost a materialization job per round.  The nesting is
        # linear, not exponential: the fold's input expression appears
        # once per layer (lambda-variable references are not inlined).
    if track_corpus_tokens:
        # the curve's final point (all merges applied) needs one more
        # pair-weight pass over the post-merge seqs
        pw = pair_counts(seqs).agg(F.sum("n").alias("pw")).collect()[0]["pw"]
        curve.append((_BPE_MERGES, int(pw) + w_total))
    return merges, curve, seqs


@query("text_bpe_train", oracle=None)  # rows-only: iterative, model-state
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al.) — N merge
    rounds over the corpus: count adjacent-symbol pairs weighted by word
    frequency, merge the most frequent pair everywhere, repeat.  Emits
    the learned merge table (rank, left, right, merged, weighted count)
    — the exact artifact a tokenizer ships.

    The DISTRIBUTED shape is the whole point: the corpus-sized stage is
    the word-frequency count (one explode + one shuffle — the classic
    map-reduce), and every training round after that operates on the
    DISTINCT-WORD table (|V| rows, here 31; sub-millions in any real
    corpus), never the corpus — exactly how production BPE trainers
    scale to 100 TB.  Per round: pair explosion over |V| symbol arrays,
    a weighted groupBy, a 1-row argmax collected as MODEL STATE (the
    kmeans-centroid pattern; r12 — one ``min_by`` aggregate, identical
    tie-break to the old sort+limit), and a left-to-right greedy merge
    applied as an in-codegen array fold; the corpus-sized word rollup
    is truncated once (localCheckpoint), after which each round replays
    only the nested 31-row folds.  Tie-breaks are (count desc, left,
    right), so the merge table is bit-deterministic; an independent
    pure-Python BPE replay asserts exact equality in
    tests/test_llm_ops.py.

    Driver sees (sf0.01): 8 rows; columns (rank, left, right, merged,
    wcount).

    Rows-only (irreducibly): iterative merge training with per-round
    model-state argmax — no SQL twin. Exact equality with an
    independent pure-Python BPE replay asserted in tests.
    """
    merges, _, _vocab = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, wcount long"
    )


@query("text_bpe_compression", oracle=None)  # rows-only: iterative twin
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE COMPRESSION CURVE — corpus token count after each merge
    round (round 0 = raw characters): the artifact that drives the real
    vocab-size decision ("how much does the next thousand merges buy"),
    here at the fixture's 8-round scale.  Shares the trainer with
    text_bpe_train (_bpe_train); the per-round corpus count is one
    integer aggregate over the distinct-word table (freq x |seq|), so
    tracking the curve adds one tiny job per round, never another
    corpus pass.  tokens_saved and the cumulative compression ratio vs
    round 0 are emitted per row; all-integer except the ratio, which is
    one IEEE divide rounded to 6.  The same pure-Python replay that
    pins the merge table asserts this curve exactly
    (tests/test_llm_ops.py).

    Driver sees (sf0.01): 9 rows; columns (round, merged,
    corpus_tokens, tokens_saved, ratio_vs_chars).

    Rows-only (irreducibly): per-round corpus token counts from the
    iterative trainer — no SQL twin. The pure-Python replay asserts the
    curve exactly in tests.
    """
    merges, curve, _vocab = _bpe_train(spark, sf_dir, track_corpus_tokens=True)
    base = curve[0][1]
    merged_by_rank = {rank: m for rank, _a, _b, m, _n in merges}
    rows = [
        (
            rnd,
            merged_by_rank.get(rnd, ""),
            toks,
            (curve[i - 1][1] - toks) if i > 0 else 0,
            round(toks / base, 6),
        )
        for i, (rnd, toks) in enumerate(curve)
    ]
    return spark.createDataFrame(
        rows,
        "round int, merged string, corpus_tokens long, tokens_saved long,"
        " ratio_vs_chars double",
    )


@query("text_bpe_encode", oracle=None)  # rows-only: applies iterative model
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply half of the tokenizer lifecycle: tokenize
    every document with the merge table text_bpe_train learns, emitting
    per-doc (n_words, n_tokens, n_chars) — the numbers a training-data
    pipeline actually bills by (token counts for mixture weighting,
    sequence packing, cost estimates).

    The scale shape is the point: the trainer's final distinct-word
    table IS the corpus tokenized at the word level (every merge already
    applied), so encoding a document never re-runs a merge — it is ONE
    explode + ONE broadcast join against the |V|-row vocabulary + ONE
    per-doc aggregate.  At 100 TB the vocab stays broadcast-sized by
    construction (BPE vocabularies are 32-256k entries; distinct words
    bound it) and the corpus is touched exactly once — the same
    join-against-pretokenized-vocab design production tokenizer services
    use.  Exactness contract: per-doc token counts equal an independent
    pure-Python BPE replay (train + greedy left-to-right apply) in
    tests/test_llm_ops.py; all-integer output, golden-stable.

    Driver sees (sf0.01): 500 rows; columns (doc_id, n_words, n_tokens,
    n_chars).

    Rows-only (irreducibly): applies the iteratively-trained merge
    table — no SQL twin for the training half. Per-doc token counts
    equal a pure-Python train+apply replay exactly in tests.
    """
    _merges, _curve, vocab = _bpe_train(spark, sf_dir)
    wtok = vocab.select(
        "w",
        F.size("seq").cast("long").alias("w_tokens"),
        F.length("w").cast("long").alias("w_chars"),
    )
    d = load(spark, sf_dir, "documents")
    # explode_OUTER so a document with no non-empty words still yields a
    # (doc_id, NULL) row: it must appear as 0 tokens, not a missing row
    # (token-billing consumers see every doc_id) — and it costs nothing
    # vs re-joining the doc list afterwards
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    words = d.select("doc_id", F.explode_outer(toks).alias("w"))
    return (
        words.join(F.broadcast(wtok), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("w").alias("n_words"),
            F.coalesce(F.sum("w_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.sum("w_chars"), F.lit(0)).alias("n_chars"),
        )
    )


@query(
    "text_collocation_pmi",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id,
               unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS pos,
               toks
        FROM d
    ),
    bg AS (SELECT toks[pos] AS a, toks[pos + 1] AS b FROM pos),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
    uni AS (
        SELECT token, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ),
    nu AS (
        SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_uni
        FROM documents
    ),
    nb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bg FROM cab),
    scored AS (
        SELECT cab.a, cab.b, cab.c_ab,
               ROUND(ln((CAST(cab.c_ab AS DOUBLE) * nu.n_uni * nu.n_uni)
                        / (CAST(nb.n_bg AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
        FROM cab
        JOIN uni ua ON cab.a = ua.token
        JOIN uni ub ON cab.b = ub.token
        CROSS JOIN nu CROSS JOIN nb
        WHERE cab.c_ab >= 5
    )
    SELECT a, b, c_ab, pmi FROM scored
    ORDER BY pmi DESC, a, b LIMIT 20
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information —
    PMI = ln(p(a,b) / (p(a)·p(b))) with a min-count floor of 5, the
    classic corpus-analysis primitive (Church & Hanks 1990) a
    training-data pipeline uses to find multi-word expressions worth
    protecting from tokenizer splits and to audit boilerplate phrases.

    Scale shape: bigrams come from one zip_with pass per document (no
    explode-join), counts are two map-side-combinable aggregates, the
    two corpus totals are 1-row broadcasts, and the unigram rejoin hits
    a min-count-pruned vocabulary that stays broadcast-sized at any
    corpus (the c_ab >= 5 floor prunes the heavy tail before the join).
    Ranking orders by the ROUNDED score (ln differs in the last ulp
    across libm implementations — the text_tfidf doctrine) with an
    (a, b) tiebreaker, and `orderBy().limit(20)` compiles to
    TakeOrderedAndProject — never a global sort."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    bg = d.select(F.explode(pairs).alias("p")).select("p.a", "p.b")
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    tok = d.select(F.explode(toks).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    nu = tok.agg(F.count(F.lit(1)).cast("long").alias("n_uni"))
    nb = cab.agg(F.sum("c_ab").cast("long").alias("n_bg"))
    ua = uni.select(F.col("token").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("token").alias("b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bg").cast("double") * F.col("c_a") * F.col("c_b"))
        ),
        6,
    )
    return (
        cab.filter(F.col("c_ab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(20)
    )


@query(
    "quality_percentile_buckets",
    oracle=f"""
    WITH {_UNIGRAM_SQL_CTES},
    scored AS (
        SELECT doc_id,
               ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
                                 (a, x) -> a + x) / n_tokens, 6) AS avg_logprob
        FROM packed
    ),
    docs AS (
        SELECT d.lang, s.doc_id,
               CAST(floor(s.avg_logprob * 1000 + 0.5) AS BIGINT) AS score_milli
        FROM scored s JOIN documents d USING (doc_id)
    ),
    hist AS (
        SELECT lang, score_milli, COUNT(*) AS c FROM docs GROUP BY lang, score_milli
    ),
    rs AS (
        SELECT lang, score_milli,
               SUM(c) OVER (PARTITION BY lang ORDER BY score_milli DESC) AS run,
               SUM(c) OVER (PARTITION BY lang) AS n
        FROM hist
    ),
    cut AS (
        SELECT lang,
               MAX(CASE WHEN run >= floor((CAST(n AS DOUBLE) + 2) / 3)
                        THEN score_milli END) AS c_head,
               MAX(CASE WHEN run >= floor((2 * CAST(n AS DOUBLE) + 2) / 3)
                        THEN score_milli END) AS c_mid
        FROM rs GROUP BY lang
    )
    SELECT d.lang,
           CASE WHEN d.score_milli >= c.c_head THEN 'head'
                WHEN d.score_milli >= c.c_mid THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           MIN(d.score_milli) AS min_score_milli,
           MAX(d.score_milli) AS max_score_milli
    FROM docs d JOIN cut c USING (lang)
    GROUP BY 1, 2
    """,
)
def quality_percentile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing: score every document
    with the unigram-LM fluency proxy (text_perplexity_proxy), then cut
    each language into head/middle/tail terciles by score — the exact
    partitioning CCNet ships (Wenzek et al. 2020) and mixture builders
    consume (train mostly on head, sample middle, audit tail).

    100 TB shape — NO per-language document window: a per-lang ntile
    over raw docs is a single task per language, unbounded.  Instead the
    tercile CUTOFFS come from the (lang × milli-quantized score)
    HISTOGRAM — a closed domain bounded by the score range (unigram
    logprobs land in roughly [-12, 0], so <=12k milli-grain values per
    lang regardless of corpus size; the pipeline.py KS-window doctrine),
    with a running sum over that bounded table and one max-filter per
    target.  Docs then bucket by comparing against the broadcast
    one-row-per-lang cutoffs — map-only.  Boundary ties land whole-grain
    on the head side (>= cutoff), so bucket sizes are within one grain
    of n/3 — the threshold semantics real CCNet uses, not exact-rank
    ntile.  Integer milli-unit quantization, not ROUND (the measured
    half-boundary engine divergence in SCALE.md)."""
    scored = text_perplexity_proxy(spark, sf_dir).select("doc_id", "avg_logprob")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    docs = scored.join(d, "doc_id").select(
        "lang",
        "doc_id",
        round_long(F.col("avg_logprob") * 1000).alias("score_milli"),
    )
    hist = docs.groupBy("lang", "score_milli").agg(F.count(F.lit(1)).alias("c"))
    # bounded window: one row per (lang, milli-grain score) — closed
    # <=12k-value domain per lang at ANY corpus size (see docstring)
    w_desc = Window.partitionBy("lang").orderBy(F.col("score_milli").desc())
    rs = hist.select(
        "lang",
        "score_milli",
        F.sum("c").over(w_desc).alias("run"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    head_t = F.floor((F.col("n").cast("double") + 2) / 3)
    mid_t = F.floor((2 * F.col("n").cast("double") + 2) / 3)
    cut = rs.groupBy("lang").agg(
        F.max(F.when(F.col("run") >= head_t, F.col("score_milli"))).alias("c_head"),
        F.max(F.when(F.col("run") >= mid_t, F.col("score_milli"))).alias("c_mid"),
    )
    bucket = (
        F.when(F.col("score_milli") >= F.col("c_head"), "head")
        .when(F.col("score_milli") >= F.col("c_mid"), "middle")
        .otherwise("tail")
    )
    return (
        docs.join(F.broadcast(cut), "lang")
        .select("lang", bucket.alias("bucket"), "score_milli")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score_milli").alias("min_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
        )
    )


@query(
    "text_keyphrase_rake",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
               string_split(text, ' ') AS l
        FROM documents
    ),
    tok AS (SELECT doc_id, pos, l[pos] AS token FROM toks),
    nonstop AS (
        SELECT doc_id, pos, token,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS anchor
        FROM tok WHERE token NOT IN ('a', 'the')
    ),
    inst AS (
        SELECT doc_id, anchor,
               string_agg(token, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM nonstop GROUP BY doc_id, anchor
    ),
    wstats AS (
        SELECT n.token,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(i.n_words) AS BIGINT) AS deg
        FROM nonstop n JOIN inst i USING (doc_id, anchor)
        GROUP BY n.token
    ),
    phrases AS (
        SELECT phrase, CAST(MAX(n_words) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS phrase_freq
        FROM inst GROUP BY phrase
    ),
    pw AS (
        SELECT p.phrase, p.n_words, p.phrase_freq,
               unnest(string_split(p.phrase, ' ')) AS token
        FROM phrases p
    ),
    scored AS (
        SELECT pw.phrase, pw.n_words, pw.phrase_freq,
               CAST(SUM(CAST(CAST(w.deg AS DOUBLE) / w.freq
                             AS DECIMAL(28,6))) AS DOUBLE) AS score
        FROM pw JOIN wstats w USING (token)
        GROUP BY pw.phrase, pw.n_words, pw.phrase_freq
    )
    SELECT phrase, n_words, phrase_freq,
           CAST(floor(1000000.0 * score + 0.5) AS BIGINT) AS score_micro
    FROM scored WHERE n_words >= 2
    ORDER BY score_micro DESC, phrase LIMIT 15
    """,
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the classic
    unsupervised keyword extractor: candidate phrases are maximal
    stopword-delimited token runs; each word scores deg(w)/freq(w)
    (degree = total phrase-mates incl. itself across all occurrences);
    a phrase scores the sum of its member-word scores.  The corpus-audit
    primitive for "what is this crawl about" and phrase-blocklist
    mining; the fixture's stopword set is its two function words
    ('a'/'the').

    Determinism: deg/freq are exact BIGINTs, the per-word ratio is one
    IEEE division (identical cross-engine), the per-phrase sum of those
    doubles goes through the decimal-exact reduction, and the final
    ranking orders on integer micro-units with a phrase tiebreaker.
    Phrase assembly is order-exact via pos-sorted aggregation on both
    engines.  Scale shape: the islands window partitions by doc_id
    (doc-length bounded); the phrase-instance aggregate groups on
    (doc_id, anchor) and reuses that partitioning; word stats are one
    map-side-combinable aggregate; top-15 is TakeOrderedAndProject —
    phrase tables never globally sort."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    # islands window: partitioned by doc_id, bounded by document length
    w = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = tok.filter(~F.col("token").isin("a", "the")).withColumn(
        "anchor", F.col("pos") - F.row_number().over(w)
    )
    inst = nonstop.groupBy("doc_id", "anchor").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "token"))),
                lambda x: x.getField("token"),
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
    )
    wstats = (
        nonstop.join(inst.select("doc_id", "anchor", "n_words"), ["doc_id", "anchor"])
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("n_words").alias("deg"))
    )
    phrases = inst.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("phrase_freq"),
    )
    pw = phrases.select(
        "phrase", "n_words", "phrase_freq",
        F.explode(F.split("phrase", " ")).alias("token"),
    )
    scored = (
        pw.join(wstats, "token")
        .groupBy("phrase", "n_words", "phrase_freq")
        .agg(
            F.sum(
                (F.col("deg").cast("double") / F.col("freq")).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("score")
        )
    )
    return (
        scored.filter(F.col("n_words") >= 2)
        .select(
            "phrase",
            "n_words",
            "phrase_freq",
            round_long(F.lit(1000000.0) * F.col("score")).alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(15)
    )


@query(
    "text_js_divergence",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    st AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, token
    ),
    stot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY source
    ),
    vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS gc FROM tok GROUP BY token
    ),
    gtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn FROM tok),
    grid AS (
        SELECT s.source, v.token, v.gc, s.n, gtot.gn,
               COALESCE(st.c, 0) AS c
        FROM stot s CROSS JOIN vocab v CROSS JOIN gtot
        LEFT JOIN st ON st.source = s.source AND st.token = v.token
    ),
    terms AS (
        SELECT source,
               CASE WHEN c > 0 THEN
                   CAST(0.5 AS DOUBLE) * (CAST(c AS DOUBLE) / n)
                   * ln((CAST(c AS DOUBLE) / n)
                        / ((CAST(c AS DOUBLE) / n
                            + CAST(gc AS DOUBLE) / gn) / 2))
               ELSE CAST(0 AS DOUBLE) END
               + CAST(0.5 AS DOUBLE) * (CAST(gc AS DOUBLE) / gn)
                 * ln((CAST(gc AS DOUBLE) / gn)
                      / ((CAST(c AS DOUBLE) / n
                          + CAST(gc AS DOUBLE) / gn) / 2)) AS term
        FROM grid
    )
    SELECT source,
           CAST(floor(1000000.0
                      * CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)
                      + 0.5) AS BIGINT) AS js_micro
    FROM terms GROUP BY source
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each SOURCE's token
    distribution and the whole-corpus distribution — the
    vocabulary-drift monitor a crawl pipeline runs per feed ("did this
    source's language change?"), complementing
    quality_distribution_drift's numeric KS/PSI with a distribution
    test over the token simplex.  JS (unlike KL) is finite when a
    source is missing tokens, which is exactly the zero-count case the
    grid join materializes.

    Determinism: every term is per-row IEEE arithmetic from exact
    integer counts (identical expression shape both engines, including
    the inlined mixture m = (p+q)/2), the per-source reduction goes
    through the decimal-exact sum, and the result quantizes to micro
    units.  Scale shape: two count aggregates; the term grid is
    |vocab| x |sources| via a broadcast-friendly source-totals cross
    (bounded: sources are a registry, vocab prunes by min-count in an
    open-vocabulary corpus — same note as text_collocation_pmi); one
    final per-source sum."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    stot = st.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("gc"))
    gtot = tok.agg(F.count(F.lit(1)).alias("gn"))
    grid = (
        F.broadcast(stot)
        .crossJoin(vocab)
        .crossJoin(F.broadcast(gtot))
        .join(st, ["source", "token"], "left")
        .select(
            "source",
            "token",
            "gc",
            "n",
            "gn",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("gc").cast("double") / F.col("gn")
    m = (F.col("c").cast("double") / F.col("n")
         + F.col("gc").cast("double") / F.col("gn")) / 2
    term = (
        F.when(F.col("c") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.lit(0.5) * q * F.log(q / m)
    )
    return (
        grid.select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            round_long(
                F.lit(1000000.0)
                * F.sum(F.col("term").cast("decimal(28,6)")).cast("double")
            )
            .alias("js_micro")
        )
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tc AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(floor(1000000.0
                      * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
               AS hapax_ratio_micro,
           CAST(floor(1000000.0 * CAST(COUNT(*) AS DOUBLE) / SUM(c) + 0.5)
                AS BIGINT) AS type_token_micro
    FROM tc GROUP BY doc_id
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT lexical diversity: hapax-legomena ratio (share of
    the doc's vocabulary used exactly once) and type-token ratio — the
    classic corpus-linguistics signals that separate template/boiler-
    plate text (low hapax, low TTR: the same tokens cycled) from
    diverse prose, feeding the same quality funnel as
    text_repetition_ratio from the opposite direction.

    Document grain deliberately (not per-source): lexical diversity is
    length-sensitive, and on this closed-vocabulary fixture a source-
    level hapax count is ~0 at every sf (measured) — vacuous evidence —
    while the per-doc formulation exercises hapax counts 0..20 at all
    scales.  All-integer counts; the two ratios are single divisions of
    exact BIGINTs, micro-quantized.  Two map-side-combinable aggregates
    total — (doc, token) then doc — nothing else."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))

    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        hapax.cast("long").alias("hapax"),
        round_long(
            F.lit(1000000.0) * (hapax.cast("double") / F.count(F.lit(1)))
        ).alias("hapax_ratio_micro"),
        round_long(
            F.lit(1000000.0) * (F.count(F.lit(1)).cast("double") / F.sum("c"))
        ).alias("type_token_micro"),
    )


_ZIPF_K = 30  # rank cutoff for the log-log fit


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    ),
    ranked AS (
        SELECT lang, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, tok) AS rn
        FROM counts
    ),
    arrs AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               list([ln(CAST(rn AS DOUBLE)), ln(CAST(cnt AS DOUBLE))]
                    ORDER BY rn) AS pts
        FROM ranked WHERE rn <= {_ZIPF_K} GROUP BY lang
    ),
    folded AS (
        SELECT lang, n_terms,
               list_reduce(
                   list_prepend(
                       CAST([0, 0, 0, 0, 0] AS DOUBLE[]), pts),
                   (a, x) -> [a[1] + x[1], a[2] + x[2],
                              a[3] + x[1] * x[2], a[4] + x[1] * x[1],
                              a[5] + x[2] * x[2]]) AS s
        FROM arrs
    )
    SELECT lang, n_terms,
           -- degenerate-language guard mirrored with the Spark side:
           -- denx = 0 (single term) or deny = 0 (identical counts)
           -- must be NULL, never inf (whose BIGINT cast errors)
           CASE WHEN n_terms * s[4] - s[1] * s[1] > 0 THEN
               CAST(floor(1000000.0
                          * (n_terms * s[3] - s[1] * s[2])
                          / (n_terms * s[4] - s[1] * s[1]) + 0.5) AS BIGINT)
           END AS slope_micro,
           CASE WHEN n_terms * s[4] - s[1] * s[1] > 0
                 AND n_terms * s[5] - s[2] * s[2] > 0 THEN
               CAST(floor(1000000.0
                          * ((n_terms * s[3] - s[1] * s[2])
                             * (n_terms * s[3] - s[1] * s[2]))
                          / ((n_terms * s[4] - s[1] * s[1])
                             * (n_terms * s[5] - s[2] * s[2])) + 0.5) AS BIGINT)
           END AS r2_micro
    FROM folded
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope of ln(frequency) against
    ln(rank) over the top-30 terms, plus the fit's R^2 — the corpus-
    health diagnostic that catches boilerplate floods and template spam
    (natural language sits near slope -1; machine-generated repetition
    flattens or steepens the line long before eyeballing samples does).

    Determinism: ranks come from a PER-LANG window (cnt DESC, token
    ASC tiebreak — no partition-less sort), the bounded top-K
    (ln rank, ln freq) pairs fold left in rank order through ONE
    5-accumulator list_reduce with the identical expression shape on
    both engines (the ts_holt_winters unrolled-fold idiom), and the
    closed-form slope/R^2 arithmetic runs once per lang before
    micro-quantization.

    Scale: the token count is the only corpus-sized stage (one shuffle
    on (lang, token) with map-side combine); the rank window
    partitions by lang over vocabulary-sized input, and at 100 TB the
    top-K per lang comes from topk_per_group's rank-filter shape —
    everything after moves K rows per language."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tok")
    ranked = counts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _ZIPF_K
    )
    arrs = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("rn"),
                    F.array(
                        F.log(F.col("rn").cast("double")),
                        F.log(F.col("cnt").cast("double")),
                    ).alias("pt"),
                )
            )
        ).alias("pts"),
    )
    zero5 = F.array(*[F.lit(0.0) for _ in range(5)])
    s = F.aggregate(
        F.transform(F.col("pts"), lambda p: p["pt"]),
        zero5,
        lambda a, x: F.array(
            a[0] + x[0],
            a[1] + x[1],
            a[2] + x[0] * x[1],
            a[3] + x[0] * x[0],
            a[4] + x[1] * x[1],
        ),
    )
    folded = arrs.select("lang", "n_terms", s.alias("s"))
    sx, sy, sxy, sxx, syy = (F.col("s")[i] for i in range(5))
    _, _, slope_micro, r2_micro = _ols_fit(
        F.col("n_terms").cast("double"), sx, sy, sxy, sxx, syy
    )
    return folded.select(
        "lang",
        "n_terms",
        slope_micro.alias("slope_micro"),
        r2_micro.alias("r2_micro"),
    )


@query("text_compression_ratio", oracle=None)  # rows-only: zlib in Python only
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compressibility — the cheap boilerplate/spam
    signal the big corpus-cleaning recipes actually use (highly
    repetitive or templated text compresses far better than natural
    prose, so a too-low ratio flags machine-generated filler and a
    too-high ratio flags random noise).  Computed by an Arrow-batched
    pandas UDF (one zlib pass per doc, level pinned to 6 for
    determinism), never row-at-a-time Python; everything around the
    UDF is codegen.

    Scale: embarrassingly map-only — no shuffle at all; at 100 TB this
    runs at source-read speed and the ratio column feeds
    quality_filter_funnel like any other signal.  Ratio emitted as an
    exact integer micro-quantization of compressed/raw bytes.

    Driver sees (sf0.01): 500 rows; columns (doc_id, lang, n_bytes,
    comp_bytes, ratio_micro).

    Rows-only (irreducibly): zlib runs only in the Python workers — no
    DuckDB twin. Exact equality with a driver-side pure-Python zlib
    replay asserted in tests/test_llm_ops.py.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        ).astype("int64")

    d = load(spark, sf_dir, "documents")
    raw_bytes = F.octet_length("text").cast("long")
    out = d.select(
        "doc_id",
        "lang",
        raw_bytes.alias("n_bytes"),
        comp_len(F.col("text")).alias("comp_bytes"),
    )
    return out.select(
        "doc_id",
        "lang",
        "n_bytes",
        "comp_bytes",
        round_long(F.lit(1000000.0) * F.col("comp_bytes") / F.col("n_bytes"))
        .alias("ratio_micro"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                        x -> list_contains({_SQL_STOPWORDS}, x))) AS DOUBLE)
                    / len(string_split(text, ' ')) >= 0.05
                    THEN 'en' ELSE 'unknown' END AS detected
        FROM documents
    ),
    cells AS (
        SELECT lang AS labeled_lang, detected,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM t GROUP BY 1, 2
    ),
    tot AS (
        SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_lang
        FROM cells GROUP BY labeled_lang
    )
    SELECT c.labeled_lang, c.detected, c.n,
           CAST(floor(1000000.0 * c.n / t.n_lang + 0.5) AS BIGINT)
               AS share_micro
    FROM cells c JOIN tot t USING (labeled_lang)
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the evaluation rollup for
    text_langid's detector against the labeled lang column: per
    (labeled, detected) cell counts plus each label's detection-share,
    which is exactly the artifact you read before trusting a classifier
    as a corpus filter (here it shows the en-stopword heuristic firing
    on 'en' and staying quiet elsewhere — and HOW quiet, per label).

    One corpus-sized map stage (the same stopword-ratio arithmetic as
    text_langid, so the two queries can never drift), one skinny
    <=10-cell rollup, one broadcast share join.  All-integer until the
    single micro-quantized share division."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    en_score = hits.cast("double") / F.size(toks)
    t = d.select(
        F.col("lang").alias("labeled_lang"),
        F.when(en_score >= 0.05, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("detected"),
    )
    cells = t.groupBy("labeled_lang", "detected").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.groupBy("labeled_lang").agg(F.sum("n").alias("n_lang"))
    return cells.join(F.broadcast(tot), "labeled_lang").select(
        "labeled_lang",
        "detected",
        "n",
        round_long(F.lit(1000000.0) * F.col("n") / F.col("n_lang"))
        .alias("share_micro"),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM documents
    ),
    shingled AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, len(ws) - 3),
                   i -> array_to_string(ws[i:i+4], ' ')
               )) AS sh
        FROM toks WHERE len(ws) >= 5
    ),
    pairs AS (
        SELECT doc_id, lang, unnest(sh) AS s FROM shingled
    ),
    firsts AS (
        SELECT s, MIN(doc_id) AS first_doc FROM pairs GROUP BY s
    )
    SELECT p.doc_id, p.lang,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(floor(1000000.0
                * SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                / COUNT(*) + 0.5) AS BIGINT) AS novelty_micro
    FROM pairs p JOIN firsts f ON p.s = f.s
    GROUP BY p.doc_id, p.lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty — the fraction of a doc's distinct
    word 5-grams whose FIRST corpus occurrence (by doc_id order) is in
    this doc, the standard "how much of this document is new text vs
    already-seen boilerplate" signal from the substring-dedup
    literature (a near-zero novelty marks a template or a late
    near-duplicate; dedup_span_removal cuts what this measures).

    Shingles are distinct-per-doc (a doc repeating its own phrase is
    not penalized twice); first-occurrence is an exact global
    min(doc_id) per shingle — deterministic, no hashing, no floats
    until the single quantized ratio.

    Scale: explode + one shuffle on the shingle key (the inverted-index
    dedup shape) + a broadcast-free re-join on the same key — at
    100 TB this is exactly dedup_span_ngram's partitioning, and the
    min-doc aggregation combines map-side.  Shingle skew (a viral
    phrase) is bounded by distinct-per-doc and salts like any hot
    key."""
    d = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    toks = d.select("doc_id", "lang", ws.alias("ws")).filter(
        F.size("ws") >= 5
    )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 4),
            lambda i: F.array_join(F.slice("ws", i, 5), " "),
        )
    )
    # r11 rewrite: the old shape joined the 500k-row exploded shingle
    # table back against the per-shingle min-doc aggregate (a full
    # string-key shuffle join) to count each doc's novel shingles.
    # Both outputs are derivable without that join: n_shingles is just
    # size(sh) per doc (map-only — no explode at all for the
    # denominator), and n_novel per doc is the row count of the
    # min-doc aggregate GROUPED BY its winning doc — shingle sets are
    # distinct-per-doc, so each (shingle, first_doc) row is exactly one
    # novel shingle of that doc.  The explode feeds ONE aggregation and
    # the final join is doc-sized x doc-sized (broadcast).  Identical
    # integers -> identical quantized ratio.
    par = spark.sparkContext.defaultParallelism
    toks = toks.repartition(par, "doc_id")
    per_doc = toks.select(
        "doc_id", "lang", F.size(sh).cast("long").alias("n_shingles")
    )
    firsts = (
        toks.select("doc_id", F.explode(sh).alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    novel_counts = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    return per_doc.join(F.broadcast(novel_counts), "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_shingles",
        n_novel.alias("n_novel"),
        round_long(F.lit(1000000.0) * n_novel / F.col("n_shingles"))
        .alias("novelty_micro"),
    )


@query(
    "text_readability",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), w -> w <> '')
                   AS ws,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sentences
        FROM documents
    ),
    counted AS (
        SELECT doc_id, lang, n_sentences,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws,
                    w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))
               )) AS BIGINT) AS n_syllables
        FROM base WHERE len(ws) > 0
    )
    SELECT doc_id, lang, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
           n_syllables,
           CAST(floor(1000000.0 *
                (206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)))
                + 0.5) AS BIGINT) AS flesch_micro
    FROM counted
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948) with the standard
    vowel-group syllable proxy — the classic corpus quality prior
    (too-high scores mark telegraphic spam, strongly negative scores
    mark run-on machine text; C4/Gopher-style recipes band on it).

    Syllables = per word, the count of maximal [aeiouy]+ runs (min 1);
    sentences = count of [.!?]+ runs (min 1); words = whitespace
    tokens.  ALL-INTEGER counts; the Flesch formula is evaluated once
    per doc with the identical expression shape on both engines and
    micro-quantized (integer-quantization doctrine — no windowed or
    aggregated floats anywhere).

    Scale: embarrassingly map-only — tokenize, two regex scans, no
    shuffle at all; at 100 TB this runs at source-read speed next to
    text_quality/text_entropy in one fused pass."""
    d = load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    n_sent = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    )
    base = d.select(
        "doc_id", "lang", ws.alias("ws"), n_sent.alias("n_sentences")
    ).filter(F.size("ws") > 0)
    # regexp_extract_all has no Column-lambda form, so the whole
    # syllable sum rides one SQL expression
    syl = F.expr(
        "aggregate(transform(ws, w -> greatest(1, "
        "size(regexp_extract_all(w, '[aeiouy]+', 0)))), 0L, "
        "(acc, x) -> acc + x)"
    )
    counted = base.select(
        "doc_id",
        "lang",
        F.size("ws").cast("long").alias("n_words"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return counted.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        round_long(F.lit(1000000.0) * flesch).alias("flesch_micro"),
    )


_STTR_CHUNK = 50  # tokens per STTR chunk


@query(
    "text_sttr_lexical_diversity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), w -> w <> '')
                   AS ws
        FROM documents
    ),
    chunked AS (
        SELECT doc_id, lang,
               CAST(len(ws) // {_STTR_CHUNK} AS BIGINT) AS n_chunks,
               list_transform(
                   range(0, CAST(len(ws) // {_STTR_CHUNK} AS BIGINT)),
                   i -> len(list_distinct(
                       ws[i * {_STTR_CHUNK} + 1 : i * {_STTR_CHUNK}
                          + {_STTR_CHUNK}]))
               ) AS dcounts
        FROM toks WHERE len(ws) >= {_STTR_CHUNK}
    )
    SELECT doc_id, lang, n_chunks,
           CAST(list_sum(dcounts) AS BIGINT) AS distinct_total,
           CAST(floor(1000000.0 * list_sum(dcounts)
                      / ({_STTR_CHUNK} * n_chunks) + 0.5) AS BIGINT)
               AS sttr_micro
    FROM chunked
    """,
)
def text_sttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized type-token ratio (STTR, the Kubat-Milicka fix for
    raw TTR's length bias): chop each doc into FULL 50-token chunks,
    TTR per chunk, average — the lexical-diversity quality prior that
    raw TTR gets wrong (longer docs mechanically score lower; STTR is
    length-comparable, which is the whole point of banding on it).

    ALL-INTEGER: per-chunk distinct counts are exact, their sum is
    order-free, and the single mean division is micro-quantized.  Docs
    shorter than one full chunk are excluded (standard STTR; the
    trailing partial chunk is dropped on both engines by the same
    floor-division).

    Scale: map-only over documents — tokenize, slice, per-chunk
    distinct inside one codegen'd higher-order expression; no shuffle,
    no explode (chunk counts ride the array), runs at source-read
    speed beside text_readability."""
    d = load(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    toks = d.select("doc_id", "lang", ws.alias("ws")).filter(
        F.size("ws") >= _STTR_CHUNK
    )
    n_chunks = (F.size("ws") / _STTR_CHUNK).cast("long")
    dcounts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.size(
            F.array_distinct(
                F.slice("ws", i * _STTR_CHUNK + 1, _STTR_CHUNK)
            )
        ),
    )
    chunked = toks.select(
        "doc_id",
        "lang",
        n_chunks.alias("n_chunks"),
        dcounts.alias("dcounts"),
    )
    total = F.aggregate(
        F.col("dcounts"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return chunked.select(
        "doc_id",
        "lang",
        "n_chunks",
        total.alias("distinct_total"),
        round_long(F.lit(1000000.0) * total / (F.lit(_STTR_CHUNK) * F.col("n_chunks")))
        .alias("sttr_micro"),
    )


@query(
    "text_case_pattern_profile",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_filter(ws,
                w -> regexp_full_match(w, '[A-Z]{2,}'))) AS BIGINT)
               AS n_allcaps,
           CAST(len(list_filter(ws,
                w -> regexp_full_match(w, '[A-Z][a-z]+'))) AS BIGINT)
               AS n_titlecase,
           CAST(len(list_filter(ws,
                w -> regexp_full_match(w, '[a-z]+'))) AS BIGINT)
               AS n_lower,
           CAST(floor(1000000.0
                * len(list_filter(ws,
                      w -> regexp_full_match(w, '[A-Z]{2,}')))
                / len(ws) + 0.5) AS BIGINT) AS allcaps_ratio_micro
    FROM toks WHERE len(ws) > 0
    """,
)
def text_case_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document case-pattern profile — ALL-CAPS, TitleCase and
    lowercase word counts plus the all-caps ratio: the shouting/spam
    prior the big cleaning recipes band on (C4 drops pages with too
    many all-caps lines; headline-cased boilerplate profiles as
    title-heavy), complementing text_quality's punctuation and
    stopword signals.

    ALL-INTEGER counts from full-match regex classes evaluated inside
    one higher-order filter per class (identical regexes both
    engines; anchored full-match so 'USA.' is neither all-caps nor
    lower on either engine), one quantized ratio.

    Scale: map-only — tokenize once, three in-array filters, zero
    shuffles; fuses into the same single corpus pass as
    text_readability/text_sttr."""
    d = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    toks = d.select("doc_id", "lang", ws.alias("ws")).filter(
        F.size("ws") > 0
    )
    def n_match(pat):
        return F.size(
            F.filter(F.col("ws"), lambda w: w.rlike(f"^{pat}$"))
        ).cast("long")
    allcaps = n_match("[A-Z]{2,}")
    return toks.select(
        "doc_id",
        "lang",
        F.size("ws").cast("long").alias("n_words"),
        allcaps.alias("n_allcaps"),
        n_match("[A-Z][a-z]+").alias("n_titlecase"),
        n_match("[a-z]+").alias("n_lower"),
        round_long(F.lit(1000000.0) * allcaps / F.size("ws"))
        .alias("allcaps_ratio_micro"),
    )


@query(
    "text_boilerplate_lines",
    oracle="""
    WITH seeded AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN '. subscribe to our newsletter for daily updates'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN '. this page is updated every morning at nine'
                    ELSE '' END AS text
        FROM documents
    ),
    lines AS (
        SELECT doc_id, unnest(list_distinct(
            list_filter(string_split(text, '.'),
                        s -> len(trim(s)) >= 20))) AS line
        FROM seeded
    ),
    counts AS (
        SELECT trim(line) AS line,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM lines GROUP BY 1
    )
    SELECT line, n_docs FROM counts
    WHERE n_docs >= 5
    ORDER BY n_docs DESC, line LIMIT 30
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document BOILERPLATE detection: sentences (period-split
    segments >= 20 chars, distinct per doc) appearing verbatim in 5+
    documents — the shared headers/footers/disclaimers that every
    corpus-cleaning recipe strips before training (CCNet's line-level
    dedup signal at sentence grain; dedup_paragraph_exact is the
    removal verb, this is the REPORT that says what to remove).

    Distinct-per-doc before counting (a doc repeating its own footer
    counts once), exact string match after trim — deterministic, no
    hashing needed at report scale; top-30 by document count with a
    lexical tiebreak.  The fixture corpus carries no sentence
    punctuation (every doc is one segment — measured), so two footer
    sentences are SEEDED deterministically in-pipeline on both engines
    (doc_id % 7 / % 11 — the dedup_embedding_cosine fixture-honesty
    precedent): the report's ground truth is planted, witnessed, and
    identical at every sf.

    Scale: explode + one shuffle on the line key with map-side
    combine; the >= 5 threshold prunes the long tail before the
    top-k (TakeOrderedAndProject) — the text_tf shape.  At 100 TB
    hash the line to a 64-bit key for the shuffle and keep the text
    only on the surviving rows."""
    d = load(spark, sf_dir, "documents")
    # fixture docs carry NO sentence punctuation (measured: every doc is
    # one period-segment, so the organic report is empty at every sf) —
    # per the fixture-honesty doctrine the footers are SEEDED
    # deterministically in-pipeline, identically on both engines (the
    # dedup_embedding_cosine precedent), so the machinery is witnessed
    # against a planted ground truth instead of passing vacuously
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(". subscribe to our newsletter for daily updates"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit(". this page is updated every morning at nine"),
        ).otherwise(F.lit("")),
    )
    d = d.select("doc_id", seeded.alias("text"))
    segs = F.array_distinct(
        F.filter(
            F.split("text", "\\."),
            lambda s: F.length(F.trim(s)) >= 20,
        )
    )
    lines = d.select("doc_id", F.explode(segs).alias("line0")).select(
        "doc_id", F.trim("line0").alias("line")
    )
    counts = lines.groupBy("line").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        counts.filter(F.col("n_docs") >= 5)
        .orderBy(F.col("n_docs").desc(), "line")
        .limit(30)
    )


@query(
    "text_simpson_diversity",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE tok <> '' GROUP BY lang, tok
    ),
    sums AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS coll
        FROM counts GROUP BY lang
    )
    SELECT lang, n_types, n_tokens,
           CASE WHEN n_tokens > 1 THEN
               CAST(floor(1000000.0
                    * (1.0 - CAST(coll AS DOUBLE)
                             / (CAST(n_tokens AS DOUBLE)
                                * (n_tokens - 1)))
                    + 0.5) AS BIGINT)
           END AS simpson_diversity_micro,
           CASE WHEN coll > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                    / CAST(coll AS DOUBLE)
                    + 0.5) AS BIGINT)
           END AS inv_simpson_micro
    FROM sums
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per language — the probability that two
    randomly drawn tokens DIFFER (1 - sum n_i(n_i-1)/(N(N-1))), plus the
    inverse Simpson "effective vocabulary size".  The quadratic-weighted
    complement to text_entropy's log-weighted view: Simpson is dominated
    by the head of the distribution, so a boilerplate flood moves it
    long before it moves type counts, and unlike entropy it is EXACTLY
    estimable from integer counts (no per-type float terms at all).

    All-integer until one final division per measure: the collision sum
    n_i(n_i-1) is a BIGINT aggregate over the (lang, token) count table
    (int64-safe to ~3e9 occurrences of a single type); degenerate
    single-token languages emit NULL on both engines.

    Scale: one (lang, token) shuffle with map-side combine — the
    text_tf cost class; (n_types, n_tokens, coll) partials are additive
    only per fixed grain (collision sums don't merge across shards of
    the SAME type — merge the count table, not the sums)."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    sums = counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1)).cast("long").alias("coll"),
    )
    nt = F.col("n_tokens")
    return sums.select(
        "lang",
        "n_types",
        "n_tokens",
        F.when(
            nt > 1,
            round_long(
                F.lit(1000000.0)
                * (
                    F.lit(1.0)
                    - F.col("coll").cast("double")
                    / (nt.cast("double") * (nt - 1))
                )
            ),
        ).alias("simpson_diversity_micro"),
        F.when(
            F.col("coll") > 0,
            round_long(
                F.lit(1000000.0)
                * (nt.cast("double") * (nt - 1))
                / F.col("coll").cast("double")
            ),
        ).alias("inv_simpson_micro"),
    )


@query(
    "text_vocab_jaccard_langs",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT lang, tok
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
    ),
    sizes AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM vocab GROUP BY lang
    ),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT i.lang_a, i.lang_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           CAST(floor(1000000.0
                * CAST(i.n_common AS DOUBLE)
                / (sa.n + sb.n - i.n_common)
                + 0.5) AS BIGINT) AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON i.lang_a = sa.lang
    JOIN sizes sb ON i.lang_b = sb.lang
    """,
)
def text_vocab_jaccard_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard overlap between languages — the
    corpus-mixture diagnostic ("are these language buckets actually
    distinct, or is lang-ID bleeding vocabulary across them?"): high
    off-diagonal overlap flags mislabeled documents and shared
    boilerplate that per-lang statistics silently absorb.

    The intersection is an equi-join on token over the DISTINCT
    (lang, token) vocabulary — never a document-level product — and the
    union size comes from |A| + |B| - |A+B| (no second join).  Integer
    counts until one final Jaccard division, micro-quantized.

    Scale: vocabulary is sublinear in corpus size (Heaps' law), so the
    join input is tiny relative to the corpus; sizes broadcast.  The
    lang_a < lang_b constraint keeps each unordered pair once."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = vocab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = vocab.select(F.col("lang").alias("lang_a"), "tok")
    b = vocab.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_a",
            "n_b",
            "n_common",
            round_long(
                F.lit(1000000.0)
                * F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            )
            .alias("jaccard_micro"),
        )
    )


@query(
    "text_heaps_law",
    oracle="""
    WITH tok2 AS (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    toks AS (SELECT * FROM tok2 WHERE tok <> ''),
    doc_tok AS (
        SELECT lang, doc_id, CAST(COUNT(*) AS BIGINT) AS m
        FROM toks GROUP BY lang, doc_id
    ),
    first_counts AS (
        SELECT lang, first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT lang, tok, MIN(doc_id) AS first_doc
              FROM toks GROUP BY lang, tok)
        GROUP BY lang, first_doc
    ),
    curve AS (
        SELECT d.lang,
               CAST(SUM(d.m) OVER w AS BIGINT) AS n_p,
               CAST(SUM(COALESCE(f.f, 0)) OVER w AS BIGINT) AS v_p
        FROM doc_tok d LEFT JOIN first_counts f USING (lang, doc_id)
        WINDOW w AS (PARTITION BY d.lang ORDER BY d.doc_id)
    ),
    terms AS (
        SELECT lang,
               CAST(floor(1000000.0 * ln(CAST(n_p AS DOUBLE)) + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(1000000.0 * ln(CAST(v_p AS DOUBLE)) + 0.5)
                    AS BIGINT) AS y
        FROM curve
    ),
    sums AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM terms GROUP BY lang
    )
    SELECT lang, np AS n_points,
           CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
               CAST(floor(1000000.0
                    * (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    + 0.5) AS BIGINT)
           END AS beta_micro,
           CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
               CAST(floor(1000000.0
                    * exp((CAST(sy AS DOUBLE)
                           - (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * CAST(sx AS DOUBLE))
                          / np / 1000000.0)
                    + 0.5) AS BIGINT)
           END AS k_micro,
           CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
               CAST(floor(1000000.0
                    * ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       * (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                    / ((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    + 0.5) AS BIGINT)
           END AS r2_micro
    FROM sums
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit per language: OLS of ln(vocabulary size) against
    ln(cumulative tokens) along the corpus growth curve — V(n) ~ K*n^B
    with B ~ 0.4-0.6 for natural text.  The companion diagnostic to
    text_zipf_fit (Zipf looks at the frequency head; Heaps at
    vocabulary growth): template spam and dedup failures push B down
    (vocabulary saturates), OCR noise and PII floods push it up.

    The growth curve is exact integers: per-doc token counts and
    first-occurrence counts (min doc_id per type) cumulate in one
    per-lang window ordered by the unique doc_id; each point's
    ln(n_p)/ln(v_p) is micro-quantized to BIGINT before the moment
    sums (sums of quantized-log PRODUCTS stay int64-safe to ~1e4
    points/lang x (16e6)^2 — cast to DOUBLE only in the closed-form
    slope/R^2/intercept, identical shape per engine).  Degenerate
    single-point languages emit NULL fits on both engines.

    Scale: the (lang, token) -> min(doc_id) aggregate is the only
    vocabulary-sized shuffle; the growth window partitions per lang
    over doc-count-sized rows.  At 100 TB, sample the curve at
    log-spaced positions instead of every doc — the moment-sum
    architecture is unchanged."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    doc_tok = toks.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    first_counts = (
        toks.groupBy("lang", "tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("lang", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    curve = (
        doc_tok.join(first_counts, ["lang", "doc_id"], "left")
        .select(
            "lang",
            "doc_id",
            "m",
            F.coalesce(F.col("f"), F.lit(0)).alias("f"),
        )
        .select(
            "lang",
            F.sum("m").over(w).cast("long").alias("n_p"),
            F.sum("f").over(w).cast("long").alias("v_p"),
        )
    )
    terms = curve.select(
        "lang",
        round_long(F.lit(1000000.0) * F.log(F.col("n_p").cast("double"))).alias("x"),
        round_long(F.lit(1000000.0) * F.log(F.col("v_p").cast("double"))).alias("y"),
    )
    sums = terms.groupBy("lang").agg(*_power_sums("x", "y", n="np"))
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    slope, denx, slope_micro, r2_micro = _ols_fit(
        F.col("np").cast("double"),
        sxd,
        syd,
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    return sums.select(
        "lang",
        F.col("np").alias("n_points"),
        slope_micro.alias("beta_micro"),
        F.when(
            denx > 0,
            round_long(
                F.lit(1000000.0)
                * F.exp((syd - slope * sxd) / F.col("np") / F.lit(1000000.0))
            ),
        ).alias("k_micro"),
        r2_micro.alias("r2_micro"),
    )


@query(
    "text_bigram_lm_crossentropy",
    oracle="""
    WITH train AS (
        SELECT lang, string_split(text, ' ') AS l
        FROM documents WHERE doc_id % 2 = 0
    ),
    test AS (
        SELECT lang, string_split(text, ' ') AS l
        FROM documents WHERE doc_id % 2 = 1
    ),
    train_uni AS (
        SELECT lang, unnest(l) AS w FROM train
    ),
    uni_counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM train_uni GROUP BY lang, w
    ),
    vocab AS (
        SELECT lang, CAST(COUNT(*) + 1 AS BIGINT) AS v
        FROM uni_counts GROUP BY lang
    ),
    big_counts AS (
        SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS cb
        FROM (
            SELECT lang,
                   unnest([l[i] || ' ' || l[i+1]
                           FOR i IN range(1, len(l))]) AS bigram
            FROM train
        ) GROUP BY lang, bigram
    ),
    test_big AS (
        SELECT lang,
               unnest([l[i] FOR i IN range(1, len(l))]) AS w1,
               unnest([l[i] || ' ' || l[i+1]
                       FOR i IN range(1, len(l))]) AS bigram
        FROM test
    ),
    scored AS (
        SELECT t.lang,
               CAST(floor(1000000.0
                    * ln((CAST(COALESCE(b.cb, 0) + 1 AS DOUBLE))
                         / (COALESCE(u.cu, 0) + v.v))
                    + 0.5) AS BIGINT) AS lnp_micro
        FROM test_big t
        JOIN vocab v USING (lang)
        LEFT JOIN big_counts b ON t.lang = b.lang AND t.bigram = b.bigram
        LEFT JOIN uni_counts u ON t.lang = u.lang AND t.w1 = u.w
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           CAST(MAX(v.v) AS BIGINT) AS vocab,
           CAST(floor(-CAST(SUM(s.lnp_micro) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS h_micro,
           CAST(floor(1000000.0
                * exp(-CAST(SUM(s.lnp_micro) AS DOUBLE)
                      / 1000000.0 / COUNT(*))
                + 0.5) AS BIGINT) AS ppl_micro
    FROM scored s JOIN vocab v USING (lang)
    GROUP BY s.lang
    """,
)
def text_bigram_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM cross-entropy per language — the CCNet-style
    quality gate one order above text_perplexity_proxy's unigram model:
    train an add-one-smoothed bigram LM on the even-doc half, score the
    odd-doc half, report cross-entropy and perplexity.  Pages whose
    perplexity explodes under a same-corpus LM are boilerplate, OCR
    noise, or the wrong language; pages far BELOW it are templates.

    The UNK convention costs zero joins: with V = train types + 1,
    p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) under OOV-to-UNK mapping equals
    the raw-pair LEFT JOIN with COALESCE-0 counts (train contains no
    UNK, so any OOV component zeroes both counts — stated here, relied
    on by both engines).  Per-bigram ln p is micro-quantized to BIGINT
    before the per-lang sum; H and perplexity evaluate once per engine.

    Scale: two (lang, gram) count shuffles with map-side combine (the
    text_tfidf cost class) and one corpus-sized probability join; the
    vocab dim broadcasts.  The even/odd doc-id split is the
    corpus_split_hash discipline — deterministic, resumable, no
    rand()."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = _bigrams(toks)
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    uni_counts = (
        train.select("lang", F.explode(toks).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    vocab = uni_counts.groupBy("lang").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("v")
    )
    big_counts = (
        train.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    test_big = test.select(
        "lang",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n - 1),
                bigrams,
                lambda w1, bg: F.struct(w1.alias("w1"), bg.alias("bigram")),
            )
        ).alias("p"),
    ).select("lang", F.col("p.w1").alias("w1"), F.col("p.bigram").alias("bigram"))
    scored = (
        test_big.join(F.broadcast(vocab), "lang")
        .join(big_counts, ["lang", "bigram"], "left")
        .join(uni_counts.withColumnRenamed("w", "w1"), ["lang", "w1"], "left")
        .select(
            "lang",
            round_long(
                F.lit(1000000.0)
                * F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v"))
                )
            )
            .alias("lnp_micro"),
        )
    )
    return (
        scored.join(F.broadcast(vocab), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_bigrams"),
            F.max("v").cast("long").alias("vocab"),
            round_long(-F.sum("lnp_micro").cast("double") / F.count(F.lit(1)))
            .alias("h_micro"),
            round_long(
                F.lit(1000000.0)
                * F.exp(
                    -F.sum("lnp_micro").cast("double")
                    / F.lit(1000000.0)
                    / F.count(F.lit(1))
                )
            )
            .alias("ppl_micro"),
        )
    )


@query(
    "analytics_qq_length_table",
    oracle="""
    WITH per AS (
        SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars
    ),
    cum AS (
        SELECT source, n_chars,
               CAST(SUM(c) OVER (PARTITION BY source
                                 ORDER BY n_chars) AS BIGINT) AS cc,
               CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM per
    ),
    pooled AS (
        SELECT n_chars,
               CAST(SUM(c) OVER (ORDER BY n_chars) AS BIGINT) AS cc,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM (SELECT n_chars, CAST(SUM(c) AS BIGINT) AS c
              FROM per GROUP BY n_chars)
    ),
    deciles(q) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)),
    src_q AS (
        SELECT c.source, d.q,
               CAST(MIN(CASE WHEN 10 * c.cc >= d.q * c.n
                        THEN c.n_chars END) AS BIGINT) AS src_val
        FROM cum c CROSS JOIN deciles d
        GROUP BY c.source, d.q
    ),
    ref_q AS (
        SELECT d.q,
               CAST(MIN(CASE WHEN 10 * p.cc >= d.q * p.n
                        THEN p.n_chars END) AS BIGINT) AS ref_val
        FROM pooled p CROSS JOIN deciles d
        GROUP BY d.q
    )
    SELECT s.source, s.q AS decile, s.src_val, r.ref_val,
           CASE WHEN r.ref_val > 0 THEN
               CAST(floor(1000000.0 * CAST(s.src_val AS DOUBLE)
                    / r.ref_val + 0.5) AS BIGINT)
           END AS ratio_micro
    FROM src_q s JOIN ref_q r ON s.q = r.q
    """,
)
def analytics_qq_length_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q table of document length per source against the pooled
    corpus at the nine deciles — the distribution-comparison artifact
    behind quantile normalization ("does source X write short docs, or
    does it just have fewer of them?"): src_val/ref_val hugging 1e6
    micro means a source matches the corpus shape; a bowed curve is a
    mixture problem corpus_length_bucket_mix's coarse buckets can't
    localize.

    EXACT type-disc quantiles with NO ranked pass over documents: both
    sides cumulate (value, count) tables over the bounded distinct-
    length domain (the quality_distribution_drift value-grain
    argument), and the decile pick is the smallest value with
    10*cum >= q*n — all-integer, tie-free by construction.  One
    quantized ratio per cell.

    Scale: one (source, n_chars) aggregate; the pooled side reuses the
    same table re-aggregated; the value-grain windows are bounded by
    the length domain, never the corpus."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ws = Window.partitionBy("source").orderBy("n_chars")
    wsp = Window.partitionBy("source")
    cum = per.select(
        "source",
        "n_chars",
        F.sum("c").over(ws).cast("long").alias("cc"),
        F.sum("c").over(wsp).cast("long").alias("n"),
    )
    pooled_counts = per.groupBy("n_chars").agg(
        F.sum("c").cast("long").alias("c")
    )
    wp = Window.orderBy("n_chars")
    wall = Window.partitionBy()
    pooled = pooled_counts.select(
        "n_chars",
        F.sum("c").over(wp).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    src_q = (
        cum.crossJoin(F.broadcast(deciles))
        .groupBy("source", "q")
        .agg(
            F.min(
                F.when(
                    F.lit(10) * F.col("cc") >= F.col("q") * F.col("n"),
                    F.col("n_chars"),
                )
            )
            .cast("long")
            .alias("src_val")
        )
    )
    ref_q = (
        pooled.crossJoin(F.broadcast(deciles))
        .groupBy("q")
        .agg(
            F.min(
                F.when(
                    F.lit(10) * F.col("cc") >= F.col("q") * F.col("n"),
                    F.col("n_chars"),
                )
            )
            .cast("long")
            .alias("ref_val")
        )
    )
    return src_q.join(F.broadcast(ref_q), "q").select(
        "source",
        F.col("q").alias("decile"),
        "src_val",
        "ref_val",
        F.when(
            F.col("ref_val") > 0,
            round_long(
                F.lit(1000000.0)
                * F.col("src_val").cast("double")
                / F.col("ref_val")
            ),
        ).alias("ratio_micro"),
    )


@query(
    "text_keyness_loglik",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    st AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY source, term
    ),
    termtot AS (
        SELECT term, CAST(SUM(a) AS BIGINT) AS ct FROM st GROUP BY term
    ),
    srctot AS (
        SELECT source, CAST(SUM(a) AS BIGINT) AS ns FROM st GROUP BY source
    ),
    grand AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM st),
    cells AS (
        SELECT st.source, st.term, st.a,
               tt.ct - st.a AS b,
               so.ns - st.a AS c,
               g.n - tt.ct - so.ns + st.a AS d,
               tt.ct, so.ns, g.n
        FROM st JOIN termtot tt USING (term)
        JOIN srctot so USING (source)
        CROSS JOIN grand g
    ),
    scored AS (
        SELECT source, term, a, ct, ns,
               CAST(floor(1000000.0 * 2.0 * (
                   CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE) * n
                        / (CAST(ns AS DOUBLE) * ct)) ELSE 0.0 END
                 + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE) * n
                        / (CAST(n - ns AS DOUBLE) * ct)) ELSE 0.0 END
                 + CASE WHEN c > 0 THEN c * ln(CAST(c AS DOUBLE) * n
                        / (CAST(ns AS DOUBLE) * (n - ct))) ELSE 0.0 END
                 + CASE WHEN d > 0 THEN d * ln(CAST(d AS DOUBLE) * n
                        / (CAST(n - ns AS DOUBLE) * (n - ct))) ELSE 0.0 END
               ) + 0.5) AS BIGINT) AS g2_micro,
               CASE WHEN a * CAST(n AS DOUBLE)
                         > CAST(ns AS DOUBLE) * ct
                    THEN 1 ELSE 0 END AS overused
        FROM cells
    )
    SELECT source, term, a AS term_count, g2_micro, rk FROM (
        SELECT source, term, a, g2_micro,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY g2_micro DESC, term) AS rk
        FROM scored WHERE overused = 1
    ) WHERE rk <= 10
    """,
)
def text_keyness_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD EXTRACTION by corpus keyness — Dunning's (1993)
    log-likelihood G2 of each term's source-vs-rest 2x2 contingency,
    the standard 'what is this source ABOUT, relative to everything
    else' statistic (raw TF surfaces corpus-wide stopwords; tf-idf
    ranks within a document; keyness ranks a SUBCORPUS signature).
    Top-10 OVERUSED terms per source (expected < observed — the
    one-sided filter is the exact integer cross-multiplication
    a*N > ns*ct, no float boundary).

    Each G2 is per-row IEEE arithmetic from exact integer cells (one
    identical 4-term expression shape per engine — per-row floats need
    no quantization, the _helpers doctrine), then micro-quantized ONCE
    so the rank order and the hash are integer-deterministic; ties
    break on the term.

    Scale: one (source, term) aggregate (the closed fixture vocabulary
    bounds it; natural corpora bound it with a min-count filter), term
    and source totals broadcast back, one top-k window per source."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    st = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    termtot = st.groupBy("term").agg(F.sum("a").cast("long").alias("ct"))
    srctot = st.groupBy("source").agg(F.sum("a").cast("long").alias("ns"))
    grand = st.agg(F.sum("a").cast("long").alias("n"))
    cells = (
        st.join(termtot, "term")
        .join(F.broadcast(srctot), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "term",
            "a",
            (F.col("ct") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("c"),
            (F.col("n") - F.col("ct") - F.col("ns") + F.col("a")).alias("d"),
            "ct",
            "ns",
            "n",
        )
    )
    a, b, c, dd = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    ns, ct, n = F.col("ns"), F.col("ct"), F.col("n")

    def cell(o, row_tot, col_tot):
        return F.when(
            o > 0,
            o
            * F.log(
                o.cast("double") * n / (row_tot.cast("double") * col_tot)
            ),
        ).otherwise(F.lit(0.0))

    g2 = round_long(
        F.lit(1000000.0)
        * F.lit(2.0)
        * (
            cell(a, ns, ct)
            + cell(b, n - ns, ct)
            + cell(c, ns, n - ct)
            + cell(dd, n - ns, n - ct)
        )
    )
    overused = a * n.cast("double") > ns.cast("double") * ct
    scored = cells.select(
        "source", "term", "a", g2.alias("g2_micro"), overused.alias("over")
    ).filter(F.col("over"))
    w = Window.partitionBy("source").orderBy(F.col("g2_micro").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "term", F.col("a").alias("term_count"), "g2_micro", "rk")
    )
