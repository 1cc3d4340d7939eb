"""Projection / normalization / validation queries (SURVEY.md §2.3 P1-P7).

The reference validates each raw file in a Python loop (validate/rules.py);
here the whole table is flagged in one declarative pass — boolean column
expressions, count-over-keys for duplicates, lag windows for calendar
gaps — and the valid/reject split is two filters off one flagged frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import sum_horizontal
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import (
    dedupe_keep_first,
    quality_flags,
    series_window,
)
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table


def _r(col, n=6):
    return F.round(col, n)


# ---------------------------------------------------------------------------
# P1 normalize: trim/upper, JSON prop parsing, id synthesis, date formatting
# (reference: transform/normalize.py:92-145 — trim/upper/strptime/lpad/cast)
# ---------------------------------------------------------------------------
@query(
    "p1_normalize",
    oracle="""
    SELECT event_id,
           UPPER(TRIM(event_type)) AS event_type_norm,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           CAST(ts AS DATE) AS event_date,
           CAST(user_id AS VARCHAR) || '-' || strftime(ts, '%Y%m%d') AS bar_id,
           LPAD(CAST(user_id AS VARCHAR), 6, '0') AS user_key
    FROM events
    """,
)
def p1_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization surface (P1): trim/upper, JSON parse, lpad, date format."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper(F.trim("event_type")).alias("event_type_norm"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.col("ts").cast("date").alias("event_date"),
        F.concat_ws(
            "-", F.col("user_id").cast("string"), F.date_format("ts", "yyyyMMdd")
        ).alias("bar_id"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("user_key"),
    )


# ---------------------------------------------------------------------------
# P2/P3 row quality flags + error/warn counts + valid split
# (reference: validate/rules.py:84-196 — 8 hard flags + 2 warns,
#  sum_horizontal error counts, is_valid_row)
# ---------------------------------------------------------------------------
@query(
    "p2_p3_quality_flags",
    oracle=f"""
    WITH flagged AS (
        SELECT *,
            (value IS NULL OR event_type IS NULL OR TRIM(event_type) = '') AS q_missing_field,
            COALESCE(value <= 0, FALSE) AS q_nonpositive_value,
            COUNT(*) OVER (PARTITION BY user_id, ts) > 1 AS q_duplicate,
            COALESCE(date_diff('day', LAG(ts) OVER ({_W}), ts) > 7, FALSE) AS q_gap_in_series,
            COALESCE(value > 50, FALSE) AS q_suspicious_bar
        FROM events
    ), counted AS (
        SELECT *,
            (CASE WHEN q_missing_field THEN 1 ELSE 0 END
             + CASE WHEN q_nonpositive_value THEN 1 ELSE 0 END
             + CASE WHEN q_duplicate THEN 1 ELSE 0 END) AS quality_error_count,
            (CASE WHEN q_gap_in_series THEN 1 ELSE 0 END
             + CASE WHEN q_suspicious_bar THEN 1 ELSE 0 END) AS quality_warn_count
        FROM flagged
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN q_missing_field THEN 1 ELSE 0 END) AS BIGINT)      AS n_missing_field,
           CAST(SUM(CASE WHEN q_nonpositive_value THEN 1 ELSE 0 END) AS BIGINT)  AS n_nonpositive_value,
           CAST(SUM(CASE WHEN q_duplicate THEN 1 ELSE 0 END) AS BIGINT)          AS n_duplicate,
           CAST(SUM(CASE WHEN q_gap_in_series THEN 1 ELSE 0 END) AS BIGINT)      AS n_gap_in_series,
           CAST(SUM(CASE WHEN q_suspicious_bar THEN 1 ELSE 0 END) AS BIGINT)     AS n_suspicious_bar,
           CAST(SUM(quality_error_count) AS BIGINT)                              AS total_errors,
           CAST(SUM(quality_warn_count) AS BIGINT)                               AS total_warns,
           CAST(SUM(CASE WHEN quality_error_count = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM counted
    """,
)
def p2_p3_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row quality flags (P2) + horizontal counts and valid split (P3/A4)."""
    ev = load_table(spark, sf_dir, "events")
    hard, warn = quality_flags(series_window(), gap_days=7)
    flagged = ev.withColumns({**hard, **warn}).withColumns(
        {
            "quality_error_count": sum_horizontal([F.col(c) for c in hard]),
            "quality_warn_count": sum_horizontal([F.col(c) for c in warn]),
        }
    )
    return flagged.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.col(c).cast("long")).alias(f"n{c[1:]}")
            for c in [*hard, *warn]
        ],
        F.sum("quality_error_count").cast("long").alias("total_errors"),
        F.sum("quality_warn_count").cast("long").alias("total_warns"),
        F.sum((F.col("quality_error_count") == 0).cast("long")).alias("n_valid"),
    )


# ---------------------------------------------------------------------------
# P6 input cleaning: drop null/blank essentials, dedupe keep-first
# (reference: backtest/adapters.py:155-181)
# ---------------------------------------------------------------------------
@query(
    "p6_input_cleaning",
    oracle="""
    SELECT event_type, COUNT(*) AS n_clean, ROUND(AVG(value), 6) AS avg_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        FROM events
        WHERE value IS NOT NULL AND isfinite(value)
          AND event_type IN ('click', 'view', 'purchase', 'error', 'signup')
    ) WHERE rn = 1
    GROUP BY event_type
    """,
)
def p6_input_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input cleaning (P6): essential-null drop, finite filter, keep-first dedupe."""
    ev = load_table(spark, sf_dir, "events")
    cleaned = ev.filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
        & F.col("event_type").isin("click", "view", "purchase", "error", "signup")
    )
    deduped = dedupe_keep_first(cleaned, ["user_id", "ts"], [F.col("event_id")])
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("n_clean"), _r(F.avg("value")).alias("avg_value")
    )


# ---------------------------------------------------------------------------
# P7 date-range / key / value filters (reference: research/dataset_loader.py:53-63)
# ---------------------------------------------------------------------------
@query(
    "p7_filters",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
      AND event_type IN ('click', 'purchase')
      AND user_id % 10 = 3
    """,
)
def p7_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed date-range + isin + key filters, all pushdown-friendly (P7)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        & F.col("event_type").isin("click", "purchase")
        & (F.col("user_id") % 10 == 3)
    ).select("event_id", "user_id", "event_type", _r(F.col("value")).alias("value"))


# ---------------------------------------------------------------------------
# O4 seeded sampling — deterministic under a fixed seed but engine-specific
# RNG, so no cross-engine oracle; determinism is asserted in tests.
# (reference: gold/features_pipeline.py:675-676, seed 42)
# ---------------------------------------------------------------------------
@query("o4_seeded_sample", oracle=None, driver_visible=False)
def o4_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded sampling (O4): fraction sample, fixed seed → reproducible."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.sample(fraction=0.1, seed=42)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# P4 per-series quality report: scalar aggregates per user — counts, error
# totals, date bounds, distinct-day coverage
# (reference: validate/reports.py:33-90 ticker quality report)
# ---------------------------------------------------------------------------
@query(
    "p4_quality_report",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS first_day,
           CAST(MAX(CAST(ts AS DATE)) AS VARCHAR) AS last_day,
           CAST((2000000 * SUM(CAST(ROUND(value * 100) AS BIGINT))
                 + 100 * COUNT(*))
                // (2 * 100 * COUNT(*)) AS DOUBLE) / 1000000 AS mean_value
    FROM events
    GROUP BY user_id
    """,
)
def p4_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series quality report: counts, error totals, date bounds (P4).

    mean_value is the HALF-UP 6-dp mean computed in exact integer
    cents: events.value is a 2-dp price (TESTDATA contract, asserted in
    tests/test_stats.py), so AVG's rational mean terminates — at the
    power-of-two group sizes the test corpus produces it lands EXACTLY
    on the 7th-digit .5 tie (3 of 150 groups at sf0.01), where double
    AVG accumulation order decides the rounded digit (as in mm5).
    Integer floor-division makes the tie engine- and partitioning-
    independent; the oracle computes the identical BIGINT formula."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
            F.countDistinct(day).alias("n_days"),
            F.date_format(F.min(day), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max(day), "yyyy-MM-dd").alias("last_day"),
            F.sum(cents).alias("_cents"),
        )
        .withColumn(
            "mean_value",
            F.expr(
                "CAST((2000000L * _cents + 100L * n_rows) "
                "DIV (200L * n_rows) AS DOUBLE) / 1000000"
            ),
        )
        .drop("_cents")
    )


# ---------------------------------------------------------------------------
# O4b deterministic hash-based sampling. The native `df.sample(seed=)`
# (o4_seeded_sample) is reproducible within Spark but engine-specific;
# md5-fold Bernoulli selection is reproducible ACROSS engines and stable
# under repartitioning — the right sampling primitive for 100 TB
# training-data splits. Fold kept in lockstep with operators/dedupe.py.
# ---------------------------------------------------------------------------
@query(
    "o4b_hash_sample",
    oracle="""
    SELECT event_type, COUNT(*) AS n_sampled
    FROM events
    WHERE list_reduce(list_transform(
              split(substr(md5(CAST(event_id AS VARCHAR)), 1, 15), ''),
              c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          (acc, y) -> acc * 16 + y) % 10 = 0
    GROUP BY event_type
    """,
)
def o4b_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-agnostic deterministic ~10% Bernoulli sample via md5 fold (O4)."""
    from pipeline_mf_etl_spark.operators.dedupe import md5_int64

    ev = load_table(spark, sf_dir, "events")
    h = md5_int64(F.col("event_id").cast("string"))
    return (
        ev.filter(h % 10 == 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )
