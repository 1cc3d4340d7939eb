"""Text-analysis queries over the documents corpus: language ID, quality
scoring, token counting, fingerprinting. Each has a full DuckDB oracle
built from the same normalized-token definition as queries/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.text import (
    LANG_STOPWORDS,
    PUNCT_SQL_LITERAL,
    doc_fingerprint,
    mean_token_len,
    punct_ratio,
    quality_score,
    quality_sql,
    stopword_share,
    token_count,
)
from pipeline_mf_etl_spark.pin import pin
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import fan_out, load_table

_TOKS = (
    "list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' '), t -> t <> '')"
)


def _r(col, n=6):
    return F.round(col, n)


def _sql_share(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"CASE WHEN len(toks) > 0 THEN "
        f"len(list_filter(toks, t -> t IN ({words}))) * 1.0 / len(toks) "
        f"ELSE 0.0 END"
    )


# ---------------------------------------------------------------------------
# Language ID: per-language stopword share, argmax with threshold.
# ---------------------------------------------------------------------------
@query(
    "t1_lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    scores AS (
        SELECT doc_id, lang,
               {_sql_share('en')} AS s_en,
               {_sql_share('de')} AS s_de,
               {_sql_share('fr')} AS s_fr,
               {_sql_share('es')} AS s_es
        FROM tok
    ),
    pred AS (
        SELECT doc_id, lang,
               CASE
                 WHEN GREATEST(s_en, s_de, s_fr, s_es) < 0.02 THEN 'unknown'
                 WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
                 WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
                 WHEN s_fr >= s_es THEN 'fr'
                 ELSE 'es'
               END AS pred_lang
        FROM scores
    )
    SELECT pred_lang, lang AS labeled_lang, COUNT(*) AS n
    FROM pred GROUP BY pred_lang, lang
    """,
)
def t1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-share language ID, crosstabbed against the dataset label.
    Tokenization materializes once; each language share is a filter over
    the shared token array (inlining ``stopword_share(text, …)`` would
    run the regex pipeline once per language)."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens

    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    scores = t.select(
        "doc_id",
        "lang",
        *[
            stopword_share(F.col("toks"), LANG_STOPWORDS[lang]).alias(f"s_{lang}")
            for lang in ("en", "de", "fr", "es")
        ],
    )
    best = F.greatest("s_en", "s_de", "s_fr", "s_es")
    pred = (
        F.when(best < 0.02, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_fr", "s_es"), "en")
        .when(F.col("s_de") >= F.greatest("s_fr", "s_es"), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return (
        scores.select(pred.alias("pred_lang"), F.col("lang").alias("labeled_lang"))
        .groupBy("pred_lang", "labeled_lang")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Quality scoring: length/punct/token-shape components + composite score.
# ---------------------------------------------------------------------------
# The full t2 oracle as an importable constant — the d7 curation-
# waterfall oracle reuses it verbatim as a subquery (one source of
# truth for the quality scoring SQL).
T2_SQL = f"""
    WITH tok AS (
        SELECT doc_id, text, {_TOKS} AS toks,
               LENGTH(text) AS n_chars_raw,
               LENGTH(text) - LENGTH(regexp_replace(text, {PUNCT_SQL_LITERAL}, '', 'g')) AS n_punct
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN n_chars_raw > 0 THEN n_punct * 1.0 / n_chars_raw ELSE 0.0 END AS p_ratio,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0 / len(toks) END AS mtl
        FROM tok
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(p_ratio, 6) AS punct_ratio,
           ROUND(mtl, 6) AS mean_token_len,
           ROUND({quality_sql("n_tokens", "p_ratio", "mtl")}, 6) AS quality
    FROM feat
    """


@query("t2_quality_score", oracle=T2_SQL)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score.

    Tokenization is materialized ONCE as a column and every feature
    derives from it — inlining ``tokens()`` into each feature repeats
    the 3-regex pipeline per expression (measured ~1.8× slower at
    sf0.1; Catalyst's subexpression elimination does not collapse the
    copies across the aggregate lambdas)."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens

    from pipeline_mf_etl_spark.operators.text import rounded_quality

    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    n_tok = token_count(F.col("toks"))
    mtl = mean_token_len(F.col("toks"))
    pr = punct_ratio(F.col("text"))
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        _r(pr).alias("punct_ratio"),
        _r(mtl).alias("mean_token_len"),
        rounded_quality(F.col("text"), F.col("toks")).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Token counting + global top-20 terms (A8 over exploded tokens).
# ---------------------------------------------------------------------------
@query(
    "t3_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, UNNEST(toks) AS term FROM tok)
    SELECT term, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
    FROM t GROUP BY term
    ORDER BY n DESC, term ASC LIMIT 20
    """,
)
def t3_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies + document frequency, top-20."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens

    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    return (
        t.groupBy("term")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 of normalized text) + corpus stats.
# ---------------------------------------------------------------------------
@query(
    "t4_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint,
           n_chars
    FROM documents
    """,
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc normalized-text fingerprint."""
    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"), "n_chars")


# ---------------------------------------------------------------------------
# T5 BPE-ish token statistics: regex tokenizer splitting alpha runs, digit
# runs, and single punctuation marks — the "token counting" operator of the
# training-data surface (SURVEY.md scale-out additions; reference has only
# whitespace splitting). Tokens materialized once per doc (Column reuse
# would inline the regex per use site).
# ---------------------------------------------------------------------------
@query(
    "t5_token_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS toks,
               regexp_extract_all(LOWER(text), '[a-z]+') AS words,
               LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g')) AS n_alpha_chars
    FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(words) AS BIGINT) AS n_words,
           ROUND(CASE WHEN LEN(words) > 0
                 THEN CAST(n_alpha_chars AS DOUBLE) / LEN(words) END, 6) AS avg_word_len
    FROM t
    """,
)
def t5_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counts + average word length per document (T5)."""
    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    lowered = docs.select("doc_id", F.lower("text").alias("lt"))
    t = lowered.select(
        "doc_id",
        F.regexp_extract_all(F.col("lt"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0).alias("toks"),
        F.regexp_extract_all(F.col("lt"), F.lit(r"[a-z]+"), 0).alias("words"),
        F.length(F.regexp_replace(F.col("lt"), r"[^a-z]", "")).alias("n_alpha_chars"),
    )
    nw = F.size("words")
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        nw.cast("long").alias("n_words"),
        F.round(
            F.when(nw > 0, F.col("n_alpha_chars").cast("double") / nw), 6
        ).alias("avg_word_len"),
    )


# ---------------------------------------------------------------------------
# T7: repetition-based quality filter — the Gopher-style repetition
# signals (duplicate-token fraction, most-frequent-bigram share) used to
# drop degenerate/boilerplate documents from a training corpus. Pure
# explode + groupBy, linear in total bigrams.
# ---------------------------------------------------------------------------
_T7_TBS_THR = 0.08
_T7_DR_THR = 0.35


T7_SQL = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) > 0
                    THEN len(list_distinct(toks)) * 1.0 / len(toks)
                    ELSE 1.0 END AS dr
        FROM tok
    ), bg AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        FROM tok, UNNEST(range(1, len(toks))) AS t(i)
        WHERE len(toks) >= 2
    ), cnt AS (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    ), top AS (
        SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS tbs FROM cnt GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           ROUND(b.dr, 6) AS distinct_token_ratio,
           ROUND(COALESCE(t.tbs, 0.0), 6) AS top_bigram_share,
           (ROUND(COALESCE(t.tbs, 0.0), 6) > {_T7_TBS_THR}
            OR ROUND(b.dr, 6) < {_T7_DR_THR}) AS is_repetitive
    FROM base b LEFT JOIN top t USING (doc_id)
    """


def repetition_raw_signals(df: DataFrame) -> DataFrame:
    """Append raw (un-rounded) repetition signals to a frame carrying a
    materialized ``toks`` token-array column: ``n_tokens``, ``dr``
    (distinct-token ratio) and ``tbs`` (top-bigram share). Every other
    column passes through; ``toks`` is consumed. Single Spark-side
    source of the t7 signal expressions, shared by t7 itself and the
    curation waterfall's one-pass signal scan.

    Plan shape (r5 rewrite): the most-frequent-bigram COUNT equals the
    longest equal-run in the SORTED per-doc bigram array, so the whole
    computation is a shuffle-free projection — array_sort + an
    aggregate() run-length HOF replace the previous explode →
    groupBy(doc_id, bigram) → groupBy(doc_id) → join-back chain (three
    exchanges of the corpus-sized bigram stream). Values are identical:
    max(count) = max run, sum(count) = len(bigrams); the oracle keeps
    the groupBy formulation as the independent derivation."""
    from pipeline_mf_etl_spark.operators.dedupe import _ngram_join

    others = [c for c in df.columns if c != "toks"]
    n = F.size("toks")
    base = df.select(
        *others,
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.size(F.array_distinct("toks")) * 1.0 / n)
        .otherwise(1.0)
        .alias("dr"),
        # ALL bigrams (non-distinct — the share needs occurrence counts)
        _ngram_join(F.col("toks"), 2, distinct=False).alias("bgs"),
    )
    best_run = F.expr(
        """
        aggregate(
            array_sort(bgs),
            named_struct('prev', '', 'run', 0L, 'best', 0L),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(x = acc.prev, acc.run + 1L, 1L),
                'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
            acc -> acc.best)
        """
    )
    return base.select(
        *others,
        "n_tokens",
        "dr",
        F.when(F.size("bgs") > 0, best_run * 1.0 / F.size("bgs"))
        .otherwise(0.0)
        .alias("tbs"),
    )


def repetition_flag(dr: Column | None = None, tbs: Column | None = None) -> Column:
    """The t7 ``is_repetitive`` decision over the raw signals — rounded
    on BOTH engines before comparing so a boundary ulp cannot flip it."""
    dr_r = F.round(dr if dr is not None else F.col("dr"), 6)
    tbs_r = F.round(tbs if tbs is not None else F.col("tbs"), 6)
    return (tbs_r > _T7_TBS_THR) | (dr_r < _T7_DR_THR)


@query("t7_repetition_quality", oracle=T7_SQL)
def t7_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document: distinct-token ratio and
    the share of the single most frequent word bigram, with the
    repetition flag a training pipeline filters on (signal expressions:
    :func:`repetition_raw_signals` / :func:`repetition_flag`)."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens

    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = repetition_raw_signals(
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("dr"), 6).alias("distinct_token_ratio"),
        F.round(F.col("tbs"), 6).alias("top_bigram_share"),
        repetition_flag().alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# T8: benchmark-contamination check — per-document share of distinct
# word 3-grams that also appear in a held-out "benchmark" set (stand-in:
# every 97th doc id). The real-pipeline shape: benchmark n-grams are a
# broadcast-sized set; scoring is one equi-join over exploded grams.
# ---------------------------------------------------------------------------
_T8_THR = 0.05

# t8 pins its grams in the "shingles" slot shared with d2, d4, d11 and
# o11: the frame is shingle_array_frame over fan_out(documents), n=3 —
# the same analysed plan as theirs — so a separate slot would evict
# the other's entry whenever the queries alternate. One slot means one
# pinned corpus shingle frame per session.


T8_SQL = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
        FROM tok, UNNEST(range(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 3
    ), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    scored AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_overlap
        FROM g LEFT JOIN bench b USING (gram)
        WHERE g.doc_id % 97 <> 0
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_overlap,
           ROUND(n_overlap * 1.0 / n_grams, 6) AS overlap_share,
           ROUND(n_overlap * 1.0 / n_grams, 6) >= {_T8_THR} AS contaminated
    FROM scored
    """


@query("t8_contamination", oracle=T8_SQL)
def t8_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag training documents whose
    distinct 3-gram overlap with the benchmark set exceeds the
    threshold (decontamination step of a training-data pipeline)."""
    from pipeline_mf_etl_spark.operators.dedupe import shingle_array_frame

    # fan_out: tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # pin the gram arrays: one corpus tokenize + n-gram build instead of
    # two (benchmark branch + scored branch)
    sh = pin("shingles", shingle_array_frame(docs, "doc_id", "text", n=3))
    grams = sh.select("doc_id", F.explode("sharr").alias("gram"))
    bench = F.broadcast(
        grams.filter(F.col("doc_id") % 97 == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )
    share = F.round(F.col("n_overlap") * 1.0 / F.col("n_grams"), 6)
    return scored.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        share.alias("overlap_share"),
        (share >= _T8_THR).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# T9: corpus-trained character-trigram LM score — the CCNet-style
# quality-filter signal: documents whose character statistics diverge
# from the corpus (boilerplate, code dumps, mojibake) score low mean
# log-probability and high OOV share. The "model" is the corpus's own
# top-K trigram table, so no external LM is needed.
# ---------------------------------------------------------------------------
_T9_VOCAB = 5000


@query(
    "t9_trigram_lm",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
        FROM documents
    ), tri AS (
        SELECT doc_id, substr(norm, i, 3) AS tri
        FROM norm, UNNEST(range(1, greatest(len(norm) - 1, 1))) AS t(i)
        WHERE len(norm) >= 3
    ), cnt AS (
        SELECT tri, COUNT(*) AS c FROM tri GROUP BY tri
    ), gl AS (
        SELECT SUM(c) AS total FROM cnt
    ), vocab AS (
        SELECT tri, LN((c * 1.0) / total) AS lp
        FROM cnt CROSS JOIN gl
        ORDER BY c DESC, tri ASC LIMIT {_T9_VOCAB}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           ROUND(AVG(COALESCE(v.lp, LN(0.5 / gl.total))), 6) AS mean_logprob,
           ROUND(SUM(CASE WHEN v.lp IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_share
    FROM tri t
    LEFT JOIN vocab v USING (tri)
    CROSS JOIN gl
    GROUP BY t.doc_id
    """,
)
def t9_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-trigram LM score trained on the corpus itself:
    mean ln-probability of the doc's trigrams under the corpus top-5000
    trigram table (unseen trigrams back off to a 0.5-count floor) plus
    the out-of-vocab share. Docs shorter than 3 normalized chars emit no
    trigrams and are absent, identically on both engines.

    Scale shape: trigram expansion is a JVM-side transform+explode (no
    Python); the model is ONE groupBy(trigram) with map-side partial
    aggregation, and the top-K vocab + one-row total are broadcast back,
    so scoring is a map-only join + one groupBy(doc_id). Nothing driver-
    side, nothing quadratic; the vocab cap keeps the broadcast constant
    as the corpus grows. The count table feeds two branches (vocab,
    total) and is pinned so the model groupBy runs once — it is the
    SMALL frame (distinct trigrams), so the pinned cache is bounded;
    the full trigram explode is deliberately NOT pinned (a
    corpus-sized explode held for the session would dwarf the one
    extra scan it saves).

    MEASURED DECISION: an attempted rework that collected the vocab
    driver-side and scored the per-doc trigram ARRAY in a mapInPandas
    stage ("no join, no groupBy(doc_id)") was 5.5x SLOWER at 1x sf0.1
    (21.6s vs 3.9s) with no growth-ratio gain (0.84 vs 0.80): shipping
    ~30M three-char strings through Arrow into Python objects costs far
    more than the JVM explode+broadcast-join+partial-agg it replaced.
    This plan's 0.80-of-linear growth is the work itself (trigram volume
    tracks corpus bytes, near-zero fixed overhead to amortize), not a
    shuffle defect — scoring stays JVM-side.

    fan_out: the trigram explode is the heaviest scan-side map in
    the text family, and the driver's single-row-group test file pinned
    it to one core — measured 2.9x faster with the small-input fan-out
    (a no-op at production split counts)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    norm = docs.select(
        "doc_id", F.regexp_replace(F.lower("text"), r"\s+", " ").alias("norm")
    )
    tri = norm.filter(F.length("norm") >= 3).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))")
        ).alias("tri"),
    )
    cnt = pin("t9_counts", tri.groupBy("tri").agg(F.count("*").alias("c")))
    gl = cnt.agg(F.sum("c").alias("total"))
    vocab = (
        cnt.crossJoin(F.broadcast(gl))
        .orderBy(F.desc("c"), F.asc("tri"))
        .limit(_T9_VOCAB)
        .select("tri", F.log((F.col("c") * 1.0) / F.col("total")).alias("lp"))
    )
    floor = F.log(F.lit(0.5) / F.col("total"))
    return (
        tri.join(F.broadcast(vocab), "tri", "left")
        .crossJoin(F.broadcast(gl))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg(F.coalesce(F.col("lp"), floor)), 6).alias("mean_logprob"),
            F.round(
                F.sum(F.when(F.col("lp").isNull(), 1).otherwise(0)) * 1.0 / F.count("*"), 6
            ).alias("oov_share"),
        )
    )


# ---------------------------------------------------------------------------
# T13: CCNet-style perplexity bucketing — split the corpus into
# head/middle/tail terciles by the t9 LM score (the canonical
# quality-stratification step before mixing: head feeds training
# directly, middle gets re-filtered, tail is dropped or down-weighted).
# Thresholds are EXACT linear-interpolated terciles computed in one
# aggregate and broadcast back — never an NTILE over a global ORDER BY
# window, which would single-partition the corpus (the g1 lesson).
# Both engines round scores and thresholds to the same 1e-6 grid before
# comparing, so an interpolation ulp cannot flip a bucket.
# ---------------------------------------------------------------------------
_T13_Q = (0.3333333333333333, 0.6666666666666666)

@query(
    "t13_perplexity_buckets",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
        FROM documents
    ), tri AS (
        SELECT doc_id, substr(norm, i, 3) AS tri
        FROM norm, UNNEST(range(1, greatest(len(norm) - 1, 1))) AS t(i)
        WHERE len(norm) >= 3
    ), cnt AS (
        SELECT tri, COUNT(*) AS c FROM tri GROUP BY tri
    ), gl AS (
        SELECT SUM(c) AS total FROM cnt
    ), vocab AS (
        SELECT tri, LN((c * 1.0) / total) AS lp
        FROM cnt CROSS JOIN gl
        ORDER BY c DESC, tri ASC LIMIT {_T9_VOCAB}
    ), scores AS (
        SELECT t.doc_id,
               ROUND(AVG(COALESCE(v.lp, LN(0.5 / gl.total))), 6) AS mean_logprob
        FROM tri t
        LEFT JOIN vocab v USING (tri)
        CROSS JOIN gl
        GROUP BY t.doc_id
    ), thr AS (
        SELECT ROUND(quantile_cont(mean_logprob, {_T13_Q[0]!r}), 6) AS t_lo,
               ROUND(quantile_cont(mean_logprob, {_T13_Q[1]!r}), 6) AS t_hi
        FROM scores
    )
    SELECT s.doc_id, s.mean_logprob,
           CASE WHEN s.mean_logprob >= thr.t_hi THEN 'head'
                WHEN s.mean_logprob >= thr.t_lo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scores s CROSS JOIN thr
    """,
)
def t13_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail corpus stratification by the t9 trigram-LM
    score: exact tercile thresholds (one aggregate, broadcast back as a
    1-row frame) and a map-only bucket assignment — the distributed
    shape of CCNet's perplexity bucketing. Higher mean log-prob =
    lower perplexity = head."""
    # pin the t9 score frame (doc-grain, two columns — tiny): it feeds
    # BOTH the tercile aggregate and the bucket projection, and without
    # the pin each reference re-instantiates t9's whole trigram plan
    # (two corpus-sized character explodes per copy)
    scores = pin(
        "t13_scores", t9_trigram_lm(spark, sf_dir).select("doc_id", "mean_logprob")
    )
    thr = scores.agg(
        F.expr(
            f"percentile(mean_logprob, array({_T13_Q[0]!r}D, {_T13_Q[1]!r}D))"
        ).alias("q")
    ).select(
        F.round(F.col("q")[0], 6).alias("t_lo"),
        F.round(F.col("q")[1], 6).alias("t_hi"),
    )
    return scores.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "mean_logprob",
        F.when(F.col("mean_logprob") >= F.col("t_hi"), "head")
        .when(F.col("mean_logprob") >= F.col("t_lo"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# T10: per-source (domain-level) quality rollup — the domain-filtering
# step of a pretraining pipeline: sources are admitted or blocked as a
# unit, by aggregate quality and repetition rates, not per document.
# ---------------------------------------------------------------------------
_T10_MIN_QUALITY = 0.55
_T10_MAX_REP_SHARE = 0.35


@query(
    "t10_source_quality",
    oracle=f"""
    WITH q AS ({T2_SQL}),
    r AS ({T7_SQL}),
    per_doc AS (
        SELECT d.source, q.quality, r.is_repetitive
        FROM documents d
        JOIN q USING (doc_id)
        JOIN r USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(quality), 6) AS mean_quality,
           ROUND(AVG(CASE WHEN is_repetitive THEN 1.0 ELSE 0.0 END), 6)
               AS repetitive_share,
           (ROUND(AVG(quality), 6) < {_T10_MIN_QUALITY!r}
            OR ROUND(AVG(CASE WHEN is_repetitive THEN 1.0 ELSE 0.0 END), 6)
               > {_T10_MAX_REP_SHARE!r}) AS blocked
    FROM per_doc
    GROUP BY source
    """,
)
def t10_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate: mean t2 quality and t7 repetitive share
    per source, with the block decision (low mean quality OR high
    repetition) computed from the ROUNDED aggregates so both engines
    flip identically. Domain-level admit/block is how web-scale corpora
    are actually filtered — a per-doc pass cannot catch a domain whose
    every page is individually plausible boilerplate. Cost shape:
    composing the two certified builders means the tokenize pipeline
    runs once per signal (two corpus scans) — the price of
    one-source-of-truth semantics, same trade as the d7 waterfall —
    then one tiny groupBy(source); the oracle composes the t2/t7
    oracle SELECTs verbatim."""
    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    q = t2_quality_score(spark, sf_dir).select("doc_id", "quality")
    r = t7_repetition_quality(spark, sf_dir).select("doc_id", "is_repetitive")
    per_doc = docs.select("doc_id", "source").join(q, "doc_id").join(r, "doc_id")
    mean_q = F.round(F.avg("quality"), 6)
    rep_share = F.round(
        F.avg(F.when(F.col("is_repetitive"), 1.0).otherwise(0.0)), 6
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        mean_q.alias("mean_quality"),
        rep_share.alias("repetitive_share"),
        (
            (mean_q < _T10_MIN_QUALITY) | (rep_share > _T10_MAX_REP_SHARE)
        ).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# T11: Gopher-style rule filter — the canonical hand-written quality
# rule battery (Rae et al. 2021 §A1.1, public) every large pretraining
# corpus applies before model-based scoring: token-count band, mean
# word length band, symbol-to-word ratio, alphabetic-token share,
# required-stopword presence, and top-token concentration. Thresholds
# are engine policy calibrated on the synthetic corpus so each rule
# discriminates (the paper's exact numbers target web text).
#
# Plan shape: ONE shuffle-free projection — every signal derives from
# the per-doc token array (tokenize once), and the top-token share
# reuses t7's sorted-run aggregate() HOF instead of an explode →
# groupBy → join-back chain, so the whole battery is map-only and
# scales like a scan at 100 TB. The oracle derives top-token share via
# the independent UNNEST/GROUP BY formulation.
# ---------------------------------------------------------------------------
_T11_WC_MIN, _T11_WC_MAX = 20, 100_000
_T11_MWL_MIN, _T11_MWL_MAX = 3.0, 10.0
_T11_MAX_SYMBOL_RATIO = 0.1
_T11_MIN_ALPHA_SHARE = 0.8
_T11_MIN_STOPWORDS = 2
_T11_MAX_TOP_TOKEN = 0.12
_T11_STOPS_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@query(
    "t11_gopher_rules",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    feat AS (
        SELECT doc_id, len(toks) AS n,
               ROUND(CASE WHEN len(toks) > 0 THEN
                   list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0 / len(toks)
               END, 6) AS mwl,
               ROUND(CASE WHEN len(toks) > 0 THEN
                   len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) * 1.0 / len(toks)
               ELSE 0.0 END, 6) AS alpha,
               len(list_distinct(list_filter(toks,
                   t -> t IN ({_T11_STOPS_SQL})))) AS nstop,
               ROUND(CASE WHEN len(toks) > 0 THEN
                   ((LENGTH(text) - LENGTH(regexp_replace(text, '#', '', 'g')))
                    + (LENGTH(text) - LENGTH(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
                   ) * 1.0 / len(toks)
               ELSE 0.0 END, 6) AS symr
        FROM tok
    ),
    tts AS (
        SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS tts
        FROM (
            SELECT doc_id, term, COUNT(*) AS c
            FROM (SELECT doc_id, UNNEST(toks) AS term FROM tok)
            GROUP BY doc_id, term
        )
        GROUP BY doc_id
    ),
    rules AS (
        SELECT f.doc_id, f.n,
               f.n BETWEEN {_T11_WC_MIN} AND {_T11_WC_MAX} AS wc_ok,
               COALESCE(f.mwl BETWEEN {_T11_MWL_MIN} AND {_T11_MWL_MAX}, FALSE) AS mwl_ok,
               f.symr <= {_T11_MAX_SYMBOL_RATIO} AS symbol_ok,
               f.alpha >= {_T11_MIN_ALPHA_SHARE} AS alpha_ok,
               f.nstop >= {_T11_MIN_STOPWORDS} AS stop_ok,
               COALESCE(t.tts, 0.0) <= {_T11_MAX_TOP_TOKEN} AS top_token_ok
        FROM feat f LEFT JOIN tts t USING (doc_id)
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           wc_ok, mwl_ok, symbol_ok, alpha_ok, stop_ok, top_token_ok,
           CAST((NOT wc_ok)::INT + (NOT mwl_ok)::INT + (NOT symbol_ok)::INT
                + (NOT alpha_ok)::INT + (NOT stop_ok)::INT
                + (NOT top_token_ok)::INT AS INTEGER) AS n_failed,
           (wc_ok AND mwl_ok AND symbol_ok AND alpha_ok AND stop_ok
            AND top_token_ok) AS admit
    FROM rules
    """,
)
def t11_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher-rule battery: six boolean rules, failure count,
    and the admit decision. Every comparison happens on ROUNDED values
    on both engines so a boundary ulp cannot flip a rule."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens

    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    best_run = F.expr(
        """
        aggregate(
            array_sort(toks),
            named_struct('prev', '', 'run', 0L, 'best', 0L),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(x = acc.prev, acc.run + 1L, 1L),
                'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
            acc -> acc.best)
        """
    )
    n_hash = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    n_ellipsis = (
        F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / F.lit(3).cast("long")
    feat = t.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(mean_token_len(F.col("toks")), 6).alias("mwl"),
        F.round(
            F.when(n > 0, F.size(F.filter(F.col("toks"), lambda x: x.rlike("[a-z]"))) * 1.0 / n)
            .otherwise(0.0),
            6,
        ).alias("alpha"),
        F.size(
            F.array_intersect(
                F.col("toks"), F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
            )
        ).alias("nstop"),
        F.round(
            F.when(n > 0, (n_hash + F.floor(n_ellipsis)) * 1.0 / n).otherwise(0.0), 6
        ).alias("symr"),
        F.round(F.when(n > 0, best_run * 1.0 / n).otherwise(0.0), 6).alias("tts"),
    )
    rules = feat.select(
        "doc_id",
        "n_tokens",
        F.col("n_tokens").between(_T11_WC_MIN, _T11_WC_MAX).alias("wc_ok"),
        F.coalesce(
            F.col("mwl").between(_T11_MWL_MIN, _T11_MWL_MAX), F.lit(False)
        ).alias("mwl_ok"),
        (F.col("symr") <= _T11_MAX_SYMBOL_RATIO).alias("symbol_ok"),
        (F.col("alpha") >= _T11_MIN_ALPHA_SHARE).alias("alpha_ok"),
        (F.col("nstop") >= _T11_MIN_STOPWORDS).alias("stop_ok"),
        (F.col("tts") <= _T11_MAX_TOP_TOKEN).alias("top_token_ok"),
    )
    flags = ["wc_ok", "mwl_ok", "symbol_ok", "alpha_ok", "stop_ok", "top_token_ok"]
    n_failed = sum(F.when(F.col(c), 0).otherwise(1) for c in flags)
    admit = F.lit(True)
    for c in flags:
        admit = admit & F.col(c)
    return rules.select(
        "doc_id",
        "n_tokens",
        *flags,
        n_failed.cast("int").alias("n_failed"),
        admit.alias("admit"),
    )


# ---------------------------------------------------------------------------
# T12: BPE tokenizer — train on distributed word counts (one corpus
# groupBy; merge learning is O(top-V vocab) on the driver, the standard
# word-frequency decomposition), encode via map-only JVM string
# replaces over the DISTINCT vocabulary, stats via broadcast join. The
# persisted merge list lets the oracle replay encoding with a recursive
# CTE (scalar replace per step — no aggregates in the recursive term),
# so token counts certify integer-for-integer with zero float surface.
# ---------------------------------------------------------------------------
def _t12_oracle() -> str:
    from pipeline_mf_etl_spark.operators.bpe import _REPEATS
    from pipeline_mf_etl_spark.queries.export import export_glob

    rep = "e.s"
    for _ in range(_REPEATS):
        rep = (
            f"replace({rep}, ' ' || m.l || ' ' || m.r || ' ',"
            " ' ' || m.l || m.r || ' ')"
        )
    return f"""
    WITH RECURSIVE tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    words AS (SELECT doc_id, UNNEST(toks) AS word FROM tok),
    vocab AS (SELECT DISTINCT word FROM words),
    m AS (SELECT * FROM read_parquet('{export_glob("t12_merges")}')),
    enc AS (
        SELECT word,
               ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS s,
               0 AS step
        FROM vocab
        UNION ALL
        SELECT e.word, {rep}, e.step + 1
        FROM enc e JOIN m ON m.merge_idx = e.step + 1
    ),
    final AS (
        SELECT word, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS bpe_len
        FROM enc
        WHERE step = (SELECT COALESCE(MAX(merge_idx), 0) FROM m)
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(f.bpe_len) AS BIGINT) AS n_bpe_tokens
    FROM words w JOIN final f USING (word)
    GROUP BY w.doc_id
    """


@query("t12_bpe_tokenize", eager=True, oracle=_t12_oracle())
def t12_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token stats under a tokenizer TRAINED on this corpus
    (operators/bpe.py): n_words and n_bpe_tokens after 12 learned
    merges. EAGER: the distributed word count + driver merge loop run
    at build time and the merge list persists for the oracle replay.

    Plan shape: the exploded (doc_id, word) frame is PINNED and feeds
    the trainer's word-count reduce AND the per-doc stats join; the
    word-count frame is pinned on top of it and doubles as the
    encoder's distinct vocabulary (its groupBy(word) already IS the
    corpus-wide distinct), so the corpus is tokenized ONCE per run."""
    from pipeline_mf_etl_spark.operators.bpe import (
        merges_frame,
        train_bpe,
        word_bpe_lengths,
    )
    from pipeline_mf_etl_spark.operators.dedupe import tokens as _tok
    from pipeline_mf_etl_spark.queries.export import export_frame

    # fan_out: tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # pin the word explode: it feeds BOTH the trainer's word-count
    # reduce (materialized at build by the train collect) and the
    # per-doc stats join at exec. wc is pinned too (tiny — distinct
    # words) so the trainer collect and the encoder vocabulary share
    # one reduce.
    words = pin(
        "t12_words", docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("word"))
    )
    wc = pin("t12_wc", words.groupBy("word").agg(F.count("*").alias("n")))
    merges = train_bpe(docs, counts=wc)
    export_frame(merges_frame(spark, merges), spark, sf_dir, "t12_merges")

    lens = word_bpe_lengths(wc.select("word"), merges)
    return (
        words.join(F.broadcast(lens), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("bpe_len").cast("long").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# t14: cross-document LINE-level boilerplate removal — the CCNet /
# RefinedWeb curation stage doc-level dedup cannot express: a header or
# footer segment repeated across MANY documents is boilerplate even
# when every page it appears on is unique. Lines here are deterministic
# 10-word segments (the corpus carries no newlines; the operator is
# generic over any splitter that both engines can reproduce). Scale
# shape: one explode (output tracks corpus bytes), ONE corpus-sized
# groupBy on the md5 line fingerprint (the d1 idiom — never the raw
# string), and the FILTERED frequent set is tiny by definition
# (boilerplate = few distinct lines, many occurrences), so it comes
# back as a BROADCAST join; the per-doc rollup is the only other
# shuffle. No all-pairs anything, no driver round-trips.
# ---------------------------------------------------------------------------
_T14_LINE_WORDS = 10
_T14_MIN_DOCS = 3  # a line in >= 3 distinct docs is boilerplate


@query(
    "t14_boilerplate_lines",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lines AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(w, i * {_T14_LINE_WORDS} + 1,
                              i * {_T14_LINE_WORDS} + {_T14_LINE_WORDS}), ' '))
                   AS line_md5,
               length(array_to_string(
                   list_slice(w, i * {_T14_LINE_WORDS} + 1,
                              i * {_T14_LINE_WORDS} + {_T14_LINE_WORDS}), ' '))
                   AS line_chars
        FROM words,
             UNNEST(range(0, CAST(ceil(len(w) / {_T14_LINE_WORDS}.0) AS BIGINT)))
                 AS t(i)
        WHERE len(w) > 0 AND w <> ['']
    ), freq AS (
        SELECT line_md5
        FROM (SELECT DISTINCT doc_id, line_md5 FROM lines)
        GROUP BY line_md5
        HAVING COUNT(*) >= {_T14_MIN_DOCS}
    ), marked AS (
        SELECT l.doc_id, l.line_chars,
               (f.line_md5 IS NOT NULL) AS is_boiler
        FROM lines l LEFT JOIN freq f USING (line_md5)
    ), roll AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler_lines,
               CAST(SUM(CASE WHEN is_boiler THEN 0 ELSE line_chars END) AS BIGINT)
                   AS kept_chars
        FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.n_lines, 0) AS n_lines,
           COALESCE(r.n_boiler_lines, 0) AS n_boiler_lines,
           ROUND(r.n_boiler_lines * 1.0 / r.n_lines, 6) AS boiler_share,
           COALESCE(r.kept_chars, 0) AS kept_chars
    FROM documents d LEFT JOIN roll r USING (doc_id)
    """,
)
def t14_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level boilerplate detection (t14): 10-word
    segments repeated in >= 3 distinct documents are boilerplate; per
    document, the segment count, boilerplate count/share, and the
    character volume that survives removal. One md5-keyed corpus
    groupBy + a broadcast of the (tiny) frequent set — the CCNet-style
    curation stage between doc-level dedup (d1) and quality scoring
    (t2)."""
    # fan_out (r14): tokenize/explode map work vs the driver's
    # single-row-group documents file (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size("w") / float(_T14_LINE_WORDS)).cast("long")
    lines = (
        docs.select("doc_id", w.alias("w"))
        .filter((F.size("w") > 0) & ~((F.size("w") == 1) & (F.element_at("w", 1) == "")))
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.slice("w", F.col("i") * _T14_LINE_WORDS + 1, _T14_LINE_WORDS), " "
            ).alias("line"),
        )
        .select(
            "doc_id",
            F.md5(F.col("line").cast("binary")).alias("line_md5"),
            F.length("line").alias("line_chars"),
        )
    )
    freq = (
        lines.select("doc_id", "line_md5")
        .distinct()
        .groupBy("line_md5")
        .count()
        .filter(F.col("count") >= _T14_MIN_DOCS)
        .select("line_md5", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(F.broadcast(freq), "line_md5", "left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    roll = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("is_boiler").cast("int")).cast("long").alias("n_boiler_lines"),
        F.sum(F.when(F.col("is_boiler"), 0).otherwise(F.col("line_chars")))
        .cast("long")
        .alias("kept_chars"),
    )
    return docs.select("doc_id").join(roll, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_boiler_lines", F.lit(0)).alias("n_boiler_lines"),
        _r(F.col("n_boiler_lines") / F.col("n_lines")).alias("boiler_share"),
        F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
    )
