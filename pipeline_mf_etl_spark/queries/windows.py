"""Window operator queries (SURVEY.md §2.6 W1-W17) over the events series.

`events` plays the role of the reference's per-ticker daily bars:
user_id = series key (ticker), ts = trade time, value = price-like
measure. Every query is a single pass of window expressions — the
reference's per-file Python loops collapse into one ``series_window()``
(operators/windows.py), whose order the oracles read as
``SERIES_WINDOW_SQL``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import (
    cents,
    exact_ratio_round6,
    exact_ratio_round6_sql,
    safe_div,
)
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import (
    bars_since,
    dedupe_keep_first,
    latest_per_group,
    rolling_min_samples,
    series_window,
    with_run_group,
)
from pipeline_mf_etl_spark.pin import pin
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table


def _r(col, n=6):
    return F.round(col, n)


# ---------------------------------------------------------------------------
# W1 lag/lead + safe-div returns (reference: silver/features_base.py:134-136)
# ---------------------------------------------------------------------------
@query(
    "w1_lag_lead",
    oracle=f"""
    SELECT event_id, user_id, ROUND(value, 6) AS value,
           ROUND(LAG(value) OVER ({_W}), 6)  AS prev_value,
           ROUND(LEAD(value) OVER ({_W}), 6) AS next_value,
           {exact_ratio_round6_sql(
               f"CAST(ROUND(value * 100) AS BIGINT)"
               f" - CAST(ROUND(LAG(value) OVER ({_W}) * 100) AS BIGINT)",
               f"CAST(ROUND(LAG(value) OVER ({_W}) * 100) AS BIGINT)",
           )} AS ret_1
    FROM events
    """,
)
def w1_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/lead shifts (W1) with epsilon-guarded return computation.

    ret_1 is the exact integer-cents HALF-AWAY 6-dp round
    (functions/core.exact_ratio_round6) — the double form flips
    7th-digit-.5 tie rows (one at sf0.1)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    # projected once: exact_ratio_round6 repeats its denominator
    shifted = ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )
    prev = F.col("prev_value")
    return shifted.select(
        "event_id",
        "user_id",
        _r(F.col("value")).alias("value"),
        _r(prev).alias("prev_value"),
        _r(F.col("next_value")).alias("next_value"),
        exact_ratio_round6(
            cents(F.col("value")) - cents(prev), cents(prev)
        ).alias("ret_1"),
    )


# ---------------------------------------------------------------------------
# W2 rolling stats with min_samples (reference: silver/features_base.py:172-198)
# ---------------------------------------------------------------------------
@query(
    "w2_rolling_stats",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(CASE WHEN COUNT(value) OVER w5 >= 5
                 THEN AVG(value) OVER w5 END, 6) AS sma_5,
           ROUND(CASE WHEN COUNT(value) OVER w5 >= 5
                 THEN STDDEV_POP(value) OVER w5 END, 6) AS std_5,
           ROUND(MIN(value) OVER w5, 6) AS min_5,
           ROUND(MAX(value) OVER w5, 6) AS max_5,
           ROUND(CASE WHEN COUNT(value) OVER w5 >= 5
                 THEN QUANTILE_CONT(value, 0.5) OVER w5 END, 6) AS med_5
    FROM events
    WINDOW w5 AS ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def w2_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean/std/min/max/median over 5 bars, min_samples=5 (W2)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    v = F.col("value")
    return ev.select(
        "event_id",
        "user_id",
        _r(rolling_min_samples(F.avg(v), v, w, 5)).alias("sma_5"),
        _r(rolling_min_samples(F.stddev_pop(v), v, w, 5)).alias("std_5"),
        _r(F.min(v).over(w.rowsBetween(-4, 0))).alias("min_5"),
        _r(F.max(v).over(w.rowsBetween(-4, 0))).alias("max_5"),
        _r(rolling_min_samples(F.expr("percentile(value, 0.5)"), v, w, 5)).alias("med_5"),
    )


# ---------------------------------------------------------------------------
# W4 cumulative counters (reference: silver/features_base.py:206-211)
# ---------------------------------------------------------------------------
@query(
    "w4_cumulative",
    oracle=f"""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER ({_W}) AS bar_index,
           ROUND(SUM(value) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value,
           ROUND(MAX(value) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_max,
           COUNT(*) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS history_bars
    FROM events
    """,
)
def w4_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/max/count + row index per series (W4)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("bar_index"),
        _r(F.sum("value").over(cum)).alias("cum_value"),
        _r(F.max("value").over(cum)).alias("cum_max"),
        F.count("*").over(cum).alias("history_bars"),
    )


# ---------------------------------------------------------------------------
# W5 bars-since-event (reference: gold/event_grammar_v1.py:32-46)
# ---------------------------------------------------------------------------
@query(
    "w5_bars_since_event",
    oracle=f"""
    WITH idx AS (
        SELECT event_id, user_id, ts, event_type,
               ROW_NUMBER() OVER ({_W}) AS rn,
               CASE WHEN event_type = 'error'
                    THEN ROW_NUMBER() OVER ({_W}) END AS err_rn
        FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(rn - MAX(err_rn) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS bars_since_error
    FROM idx
    """,
)
def w5_bars_since_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bars since the last 'error' event per user (W5)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        bars_since(F.col("event_type") == "error", w).cast("long").alias("bars_since_error"),
    )


# ---------------------------------------------------------------------------
# W6 run-length encoding of states (reference: gold/features_v1.py:290-313)
# ---------------------------------------------------------------------------
@query(
    "w6_run_length",
    oracle=f"""
    WITH flagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN LAG(event_type) OVER ({_W}) IS NULL
                         OR event_type <> LAG(event_type) OVER ({_W})
                    THEN 1 ELSE 0 END AS changed,
               LAG(event_type) OVER ({_W}) AS prev_state
        FROM events
    ), grouped AS (
        SELECT *, SUM(changed) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_group
        FROM flagged
    )
    SELECT event_id, user_id, event_type,
           CAST(state_group AS BIGINT) AS state_group,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, state_group ORDER BY ts, event_id) AS INTEGER) AS state_run_length,
           CASE WHEN changed = 1 AND prev_state IS NOT NULL
                THEN prev_state || '>' || event_type END AS transition
    FROM grouped
    """,
)
def w6_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State run-length + transition labels via the two-window idiom (W6)."""
    ev = load_table(spark, sf_dir, "events")
    df = with_run_group(ev, "event_type", series_window(), "state_group", "prev_state")
    state, prev = F.col("event_type"), F.col("prev_state")
    w2 = series_window("state_group")
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("state_group").cast("long").alias("state_group"),
        F.row_number().over(w2).alias("state_run_length"),
        # a NULL on either side is no transition, as in the oracle
        F.when(prev != state, F.concat_ws(">", prev, state)).alias("transition"),
    )


# ---------------------------------------------------------------------------
# W8 zero-cross events (reference: silver/indicators_twiggs.py:162-186)
# W10 persistence / hold conditions (gold/event_grammar_v1.py:234-245)
# W9 respect lookback (gold/event_grammar_v1.py:189-209)
# ---------------------------------------------------------------------------
@query(
    "w8_w10_event_flags",
    oracle=f"""
    WITH c AS (
        SELECT event_id, user_id, ts, value - 10.0 AS centered,
               LAG(value - 10.0) OVER ({_W}) AS prev_centered
        FROM events
    ), f AS (
        SELECT event_id, user_id, ts, centered,
               COALESCE(centered > 0 AND prev_centered <= 0, FALSE) AS cross_up,
               COALESCE(centered < 0 AND prev_centered >= 0, FALSE) AS cross_down,
               CASE WHEN centered > 0 THEN 1 ELSE 0 END AS pos
        FROM c
    )
    SELECT event_id, user_id, cross_up, cross_down,
           COALESCE(SUM(pos) OVER ({_W} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3
                    AND COUNT(*) OVER ({_W} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3,
                    FALSE) AS pos_hold_3,
           COALESCE(MAX(CASE WHEN cross_up THEN 1 ELSE 0 END)
                      OVER ({_W} ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) = 1,
                    FALSE) AS crossed_up_last_10
    FROM f
    """,
)
def w8_w10_event_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cross (W8), k-bar persistence (W10), respect-lookback (W9) flags."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    centered = F.col("value") - 10.0
    prev = F.lag(centered).over(w)
    cross_up = F.coalesce((centered > 0) & (prev <= 0), F.lit(False))
    cross_down = F.coalesce((centered < 0) & (prev >= 0), F.lit(False))
    pos = (centered > 0).cast("int")
    df = ev.select(
        "event_id",
        "user_id",
        "ts",
        cross_up.alias("cross_up"),
        cross_down.alias("cross_down"),
        pos.alias("pos"),
    )
    w = series_window()
    hold = w.rowsBetween(-2, 0)
    look = w.rowsBetween(-10, -1)
    return df.select(
        "event_id",
        "user_id",
        "cross_up",
        "cross_down",
        F.coalesce(
            (F.sum("pos").over(hold) == 3) & (F.count("*").over(hold) == 3), F.lit(False)
        ).alias("pos_hold_3"),
        F.coalesce(
            F.max(F.col("cross_up").cast("int")).over(look) == 1, F.lit(False)
        ).alias("crossed_up_last_10"),
    )


# ---------------------------------------------------------------------------
# W14 forward returns / labels (reference: research/forward_labels.py:41-80)
# — the reference's per-group Python loop for fwd-vol is a pure window here.
# ---------------------------------------------------------------------------
@query(
    "w14_forward_labels",
    oracle=f"""
    WITH r AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN ABS(LAG(value) OVER ({_W})) > 1e-12
                    THEN value / (LAG(value) OVER ({_W})) - 1 END AS ret_1
        FROM events
    )
    SELECT event_id, user_id,
           {exact_ratio_round6_sql(
               f"CAST(ROUND(LEAD(value, 5) OVER ({_W}) * 100) AS BIGINT)"
               f" - CAST(ROUND(value * 100) AS BIGINT)",
               "CAST(ROUND(value * 100) AS BIGINT)",
           )} AS fwd_ret_5,
           ROUND(CASE WHEN COUNT(ret_1) OVER fw >= 10
                 THEN STDDEV_POP(ret_1) OVER fw END, 6) AS fwd_vol_10
    FROM r
    WINDOW fw AS ({_W} ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
    """,
)
def w14_forward_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward k-bar return + forward-vol proxy as pure windows (W14)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    df = ev.select(
        "event_id", "user_id", "ts", "value", F.lag("value").over(w).alias("prev_value")
    ).withColumn("ret_1", safe_div(F.col("value"), F.col("prev_value")) - 1)
    w2 = series_window()
    fw = w2.rowsBetween(1, 10)
    return df.select(
        "event_id",
        "user_id",
        exact_ratio_round6(
            cents(F.lead("value", 5).over(w2)) - cents(F.col("value")),
            cents(F.col("value")),
        ).alias("fwd_ret_5"),
        _r(F.when(F.count("ret_1").over(fw) >= 10, F.stddev_pop("ret_1").over(fw))).alias(
            "fwd_vol_10"
        ),
    )


# ---------------------------------------------------------------------------
# W15/W16 duplicate flag + deterministic keep-first dedupe
# (reference: validate/rules.py:145-150; backtest/adapters.py:178-180)
# ---------------------------------------------------------------------------
@query(
    "w16_dedupe_keep_first",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_kept,
           ROUND(SUM(value), 6) AS sum_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    GROUP BY user_id, event_type
    """,
)
def w16_dedupe_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedupe to one event per (user, day), then rollup (W16)."""
    ev = load_table(spark, sf_dir, "events")
    deduped = dedupe_keep_first(
        ev.withColumn("event_day", F.col("ts").cast("date")),
        ["user_id", "event_day"],
        [F.col("ts"), F.col("event_id")],
    )
    return deduped.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_kept"),
        _r(F.sum("value")).alias("sum_value"),
    )


@query(
    "w15_duplicate_flag",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN day_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_days,
           COUNT(*) AS n_rows
    FROM (
        SELECT user_id, COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS day_n
        FROM events
    )
    GROUP BY user_id
    """,
)
def w15_duplicate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate detection via count-over-keys window (W15)."""
    ev = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id", F.col("ts").cast("date"))
    flagged = ev.select("user_id", F.count("*").over(wd).alias("day_n"))
    return flagged.groupBy("user_id").agg(
        F.sum((F.col("day_n") > 1).cast("long")).alias("n_in_dup_days"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# W17 latest-per-group (reference: research_hmm/diagnostics.py:54-62)
# ---------------------------------------------------------------------------
@query(
    "w17_latest_per_group",
    oracle=f"""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           ROUND(value, 6) AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def w17_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per series via descending row_number (W17)."""
    ev = load_table(spark, sf_dir, "events")
    latest = latest_per_group(ev, ["user_id"], [F.col("ts"), F.col("event_id")])
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        _r(F.col("value")).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# W7 3-bar pivot detection (reference: gold/event_grammar_v1.py:148-165)
# ---------------------------------------------------------------------------
@query(
    "w7_pivot_detection",
    oracle=f"""
    WITH l AS (
        SELECT event_id, user_id,
               LAG(value, 2) OVER ({_W}) AS v2,
               LAG(value, 1) OVER ({_W}) AS v1,
               value AS v0
        FROM events
    )
    SELECT event_id, user_id,
           COALESCE(v2 > v1 AND v1 < v0, FALSE) AS pivot_low,
           COALESCE(v2 < v1 AND v1 > v0, FALSE) AS pivot_high
    FROM l
    """,
)
def w7_pivot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-bar pivot low/high flagged at the confirmation row (W7)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    v2 = F.lag("value", 2).over(w)
    v1 = F.lag("value", 1).over(w)
    v0 = F.col("value")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce((v2 > v1) & (v1 < v0), F.lit(False)).alias("pivot_low"),
        F.coalesce((v2 < v1) & (v1 > v0), F.lit(False)).alias("pivot_high"),
    )


# ---------------------------------------------------------------------------
# W11 burst events + W12 rolling event activity + W13 recency transform
# (reference: gold/event_grammar_v1.py:212-232, :324-358; features_v1.py:231-259)
# ---------------------------------------------------------------------------
@query(
    "w11_w13_burst_activity",
    oracle=f"""
    WITH b AS (
        SELECT event_id, user_id, ts,
               ROW_NUMBER() OVER ({_W}) AS rn,
               COALESCE(value > 11.0 AND value - LAG(value, 3) OVER ({_W}) > 0.5,
                        FALSE) AS burst
        FROM events
    ), c AS (
        SELECT *, CASE WHEN burst THEN rn END AS burst_rn,
               CASE WHEN burst THEN 1 ELSE 0 END AS bi
        FROM b
    ), d AS (
        SELECT event_id, user_id, burst,
               CAST(SUM(bi) OVER ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS act_5,
               CAST(SUM(bi) OVER ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS act_20,
               rn - MAX(burst_rn) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS bars_since_burst
        FROM c
    )
    SELECT event_id, user_id, burst, act_5, act_20,
           ROUND(CASE WHEN ABS(CAST(act_20 AS DOUBLE)) > 1e-12
                 THEN CAST(act_5 AS DOUBLE) / act_20 END, 6) AS activity_asym,
           ROUND(CASE WHEN bars_since_burst IS NOT NULL
                 THEN LEAST(bars_since_burst, 20) / 20.0 END, 6) AS burst_recency
    FROM d
    """,
)
def w11_w13_burst_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst events (W11), rolling activity + asymmetry (W12), recency (W13)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    slope = F.col("value") - F.lag("value", 3).over(w)
    burst = F.coalesce((F.col("value") > 11.0) & (slope > 0.5), F.lit(False))
    df = ev.select("event_id", "user_id", "ts", burst.alias("burst"))
    w2 = series_window()
    bi = F.col("burst").cast("int")
    act5 = F.sum(bi).over(w2.rowsBetween(-4, 0)).cast("long")
    act20 = F.sum(bi).over(w2.rowsBetween(-19, 0)).cast("long")
    bs = bars_since(F.col("burst"), w2)
    df = df.select(
        "event_id",
        "user_id",
        "burst",
        act5.alias("act_5"),
        act20.alias("act_20"),
        bs.alias("bars_since_burst"),
    )
    return df.select(
        "event_id",
        "user_id",
        "burst",
        "act_5",
        "act_20",
        _r(safe_div(F.col("act_5").cast("double"), F.col("act_20").cast("double"))).alias(
            "activity_asym"
        ),
        _r(
            F.when(
                F.col("bars_since_burst").isNotNull(),
                F.least(F.col("bars_since_burst"), F.lit(20)) / 20.0,
            )
        ).alias("burst_recency"),
    )


# ---------------------------------------------------------------------------
# W18 range-frame window (beyond rowsBetween: value-range frames over
# event time — the scalable form of "events within the next hour",
# replacing an interval self-join). Reference's only range semantics is
# the calendar-gap rule (P2); this generalizes it.
# ---------------------------------------------------------------------------
@query(
    "w18_range_window",
    oracle=f"""
    WITH t AS (
        SELECT event_id, user_id, event_type, ts,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
                   RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING) AS n_next_hour,
               ROUND(SUM(value) OVER (
                   PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS sum_prev_hour
        FROM events
    )
    SELECT event_id, user_id, n_next_hour, sum_prev_hour
    FROM t WHERE event_type = 'signup'
    """,
)
def w18_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame windows over epoch seconds: next-hour counts, prev-hour sums (W18)."""
    ev = load_table(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    wr = Window.partitionBy("user_id").orderBy(secs.cast("long"))
    flagged = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.count("*").over(wr.rangeBetween(0, 3600)).alias("n_next_hour"),
        _r(F.sum("value").over(wr.rangeBetween(-3600, 0))).alias("sum_prev_hour"),
    )
    return flagged.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "n_next_hour", "sum_prev_hour"
    )


# ---------------------------------------------------------------------------
# W19: exponential time-decay scoring — the feature-store recency
# aggregate: score_u = Σ value · exp(−Δdays / τ) with Δ measured from
# the corpus max timestamp (deterministic, data-derived reference; a
# production run passes "now"). One scan: the 1-row max-ts aggregate
# broadcasts onto the stream, decay is a JVM scalar, one groupBy.
# Both engines compose the identical exp argument from exact integer
# microsecond arithmetic; the 6-dp round absorbs libm ulp variation.
# ---------------------------------------------------------------------------
_W19_TAU_DAYS = 7.0


@query(
    "w19_time_decay_score",
    oracle=f"""
    WITH ref AS (SELECT MAX(ts) AS t_ref FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value * exp(-((epoch_us(ref.t_ref) - epoch_us(ts))
                                   / 86400000000.0) / {_W19_TAU_DAYS})), 6)
               AS decayed_value
    FROM events, ref
    GROUP BY user_id
    """,
)
def w19_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed value (τ = 7 days, reference
    point = corpus max event time) — W19, engine addition."""
    from pipeline_mf_etl_spark.streaming.transforms import normalize_event_ts

    ev = normalize_event_ts(load_table(spark, sf_dir, "events"))
    ref = ev.agg(F.max("ts").alias("t_ref"))
    delta_days = (F.unix_micros("t_ref") - F.unix_micros("ts")) / 86400000000.0
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.exp(-delta_days / _W19_TAU_DAYS)), 6
            ).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# W20: rolling autocorrelation — 20-bar Pearson correlation between the
# value and its lag-1, per user, computed from MANUAL window sums
# (n, Σx, Σy, Σxy, Σx², Σy²) with the identical closed form on both
# engines: built-in corr() implementations differ in accumulation
# detail across engines, while the sum-form is deterministic at 6 dp
# for 20-element frames. Guarded for zero variance (constant windows).
# ---------------------------------------------------------------------------
_W20_N = 20


@query(
    "w20_rolling_autocorr",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id, event_id, ts, value AS x,
               LAG(value) OVER w AS y
        FROM events
        WINDOW w AS ({_W})
    ), sums AS (
        SELECT user_id, event_id,
               COUNT(y) OVER r AS n,
               SUM(CASE WHEN y IS NOT NULL THEN x END) OVER r AS sx,
               SUM(y) OVER r AS sy,
               SUM(x * y) OVER r AS sxy,
               SUM(CASE WHEN y IS NOT NULL THEN x * x END) OVER r AS sxx,
               SUM(y * y) OVER r AS syy
        FROM lagged
        WINDOW r AS ({_W}
                     ROWS BETWEEN {_W20_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n >= 3
                     AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           END AS autocorr
    FROM sums
    """,
)
def w20_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bar rolling lag-1 autocorrelation per user from manual window
    sums (W20, engine addition); NULL below 3 pairs or on zero-variance
    windows."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    r = w.rowsBetween(-(_W20_N - 1), 0)
    lagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").alias("x"),
        F.lag("value").over(w).alias("y"),
    )
    has = F.col("y").isNotNull()
    n = F.count("y").over(r)
    sx = F.sum(F.when(has, F.col("x"))).over(r)
    sy = F.sum("y").over(r)
    sxy = F.sum(F.col("x") * F.col("y")).over(r)
    sxx = F.sum(F.when(has, F.col("x") * F.col("x"))).over(r)
    syy = F.sum(F.col("y") * F.col("y")).over(r)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return lagged.select(
        "user_id",
        "event_id",
        n.cast("long").alias("n_pairs"),
        F.when(
            (n >= 3) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("autocorr"),
    )


# ---------------------------------------------------------------------------
# W21: SCD2 validity intervals — the warehouse dimension-history op: a
# user's consecutive same-type event runs collapse into one row with
# [valid_from, valid_to) bounds and an is_current flag. Composition of
# the certified two-window run-length idiom (w6) + lead over run starts;
# one shuffle on user_id serves every window, the same plan class the
# single-shuffle w2 test guards. Deterministic ordering: (ts, event_id).
# ---------------------------------------------------------------------------
# Shared by the registered window form AND its segmented skew variant —
# identical output contract, so one oracle certifies both.
_W21_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                         OR event_type <> LAG(event_type) OVER w
                    THEN 1 ELSE 0 END AS changed
        FROM events
        WINDOW w AS ({_W})
    ), runs AS (
        SELECT *, SUM(changed) OVER (
            {_W}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM flagged
    ), intervals AS (
        SELECT user_id, run_id,
               FIRST(event_type ORDER BY ts, event_id) AS state,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY run_id) AS valid_to,
           LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current,
           n_events
    FROM intervals
    """


@query("w21_scd2_intervals", oracle=_W21_ORACLE)
def w21_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history rows per user: each run of consecutive same-type
    events becomes one validity interval [valid_from, valid_to) with
    the run's event count; the open interval is flagged is_current."""
    ev = load_table(spark, sf_dir, "events")
    runs = with_run_group(ev, "event_type", series_window(), "run_id")
    intervals = runs.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    wr = Window.partitionBy("user_id").orderBy("run_id")
    valid_to = F.lead("valid_from").over(wr)
    return intervals.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


@query("w21_scd2_intervals_segmented", oracle=_W21_ORACLE)
def w21_scd2_intervals_segmented(
    spark: SparkSession, sf_dir: str, segment: str = "month"
) -> DataFrame:
    """Skew-mitigated W21, registered under the parent's oracle
    (identical output contract, so the oracle is shared): this is the
    production escape hatch for the documented SCD2 hot-user skew
    limit, and it carries a driver hash, not just a local equivalence
    test. Design: split each user's timeline into time
    segments, run-length WITHIN (user, segment) — the big window's
    partitions are now (user, segment), so a hot user's events spread
    across segments instead of pinning one task — then stitch runs that
    span a boundary in a second pass over RUN-level rows (bounded by
    state changes, not events; for the realistic hot user with few
    state flips this is thousands of times smaller than the event
    stream). Semantically identical to ``w21_scd2_intervals``
    (equivalence-tested); worst case (state alternating every event)
    degrades to run-count == event-count and the stitch inherits the
    skew — inherent to run-length semantics, documented, measured."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "seg", F.date_trunc(segment, F.col("ts"))
    )
    seg_runs = (
        with_run_group(ev, "event_type", series_window("seg"), "seg_run")
        .groupBy("user_id", "seg", "seg_run")
        .agg(
            F.first("event_type").alias("state"),  # constant within the run
            F.min("ts").alias("valid_from"),
            F.count("*").alias("n_events"),
        )
    )
    # stitch pass over RUN rows: adjacent same-state runs (including
    # across segment boundaries) merge into one interval. Ties on
    # valid_from can only occur within one segment (segments partition
    # time), where seg_run preserves the exact (ts, event_id) order.
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "seg_run")
    intervals = (
        with_run_group(seg_runs, "state", w2, "run_id")
        .groupBy("user_id", "run_id")
        .agg(
            F.first("state").alias("state"),  # constant within the merge
            F.min("valid_from").alias("valid_from"),
            F.sum("n_events").alias("n_events"),
        )
    )
    wr = Window.partitionBy("user_id").orderBy("run_id")
    valid_to = F.lead("valid_from").over(wr)
    return intervals.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# W22: funnel progression — the product-analytics staple: per user, the
# first view, the first click AT OR AFTER that view, the first purchase
# at or after that click, and the deepest stage reached. Three chained
# conditional aggregates (each stage's min-ts joins back as the next
# stage's lower bound) — groupBy+broadcast-join shapes only, no global
# window, no per-user state machine.
# ---------------------------------------------------------------------------

@query(
    "w22_funnel_steps",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS view_ts
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS click_ts
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= v.view_ts
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                     WHEN c.click_ts IS NOT NULL THEN 2
                     WHEN v.view_ts IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS reached_stage
    FROM v
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def w22_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel per user with stage timestamps
    and the deepest stage reached (click must not precede the first
    view; purchase must not precede that click).

    Plan shape (SKEW-IMMUNE, the default): each stage is a per-user
    MIN, so the whole funnel is groupBy aggregations chained by joins
    against one-row-per-user stage tables — every aggregate gets a
    map-side partial combine (a 50%-hot user collapses to ONE partial
    row per input partition before the exchange), and the stage joins
    are AQE-skew-splittable sort-merge joins, so no task ever holds all
    of a hot user's events. The prior window formulation (one exchange,
    but partitionBy(user_id) pins every hot-user row onto one
    unsplittable task — ~0.19-of-linear straggler at 50%-hot 64× in
    SCALE.md) is kept as ``w22_funnel_steps_window`` for the measured
    contrast. Filter-before-join keeps each stage's probe side to one
    event type, and the final assembly joins three tiny per-user
    frames."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t, ts = F.col("event_type"), F.col("ts")
    # pin the per-user stage frames: views feeds the click gate AND the
    # final assembly, clicks feeds the purchase gate AND the final
    # assembly — without the pins each reference re-instantiates its
    # whole upstream subtree, costing SIX events scans per run instead
    # of three (one per stage filter). The pinned frames are
    # one-row-per-user aggregates, tiny by construction.
    # base covers EVERY user with any event (conditional MIN, not a
    # filtered subset) — the oracle's v CTE keeps view-less users with
    # a NULL view_ts and reached_stage 0
    views = pin(
        "w22_views",
        ev.groupBy("user_id").agg(F.min(F.when(t == "view", ts)).alias("view_ts")),
    )
    clicks = pin(
        "w22_clicks",
        ev.filter(t == "click")
        .join(views, "user_id")
        .filter(ts >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts")),
    )
    purchases = (
        ev.filter(t == "purchase")
        .join(clicks, "user_id")
        .filter(ts >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            F.when(F.col("purchase_ts").isNotNull(), 3)
            .when(F.col("click_ts").isNotNull(), 2)
            .when(F.col("view_ts").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("reached_stage"),
        )
    )


def w22_funnel_steps_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window formulation of W22, kept UNREGISTERED as the
    measured skew contrast for scripts/scale_probe.py: three stacked
    unbounded windows over one partitionBy(user_id) exchange — minimal
    shuffle count, but the hot-key straggler is unsplittable (windows
    cannot be salted or AQE-split). Semantically identical to
    ``w22_funnel_steps``."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    t, ts = F.col("event_type"), F.col("ts")
    s1 = ev.withColumn(
        "view_ts", F.min(F.when(t == "view", ts)).over(wu)
    )
    s2 = s1.withColumn(
        "click_ts",
        F.min(F.when((t == "click") & (ts >= F.col("view_ts")), ts)).over(wu),
    )
    s3 = s2.withColumn(
        "purchase_ts",
        F.min(F.when((t == "purchase") & (ts >= F.col("click_ts")), ts)).over(wu),
    )
    return s3.groupBy("user_id").agg(
        F.min("view_ts").alias("view_ts"),
        F.min("click_ts").alias("click_ts"),
        F.min("purchase_ts").alias("purchase_ts"),
        F.when(F.min("purchase_ts").isNotNull(), 3)
        .when(F.min("click_ts").isNotNull(), 2)
        .when(F.min("view_ts").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("reached_stage"),
    )


# ---------------------------------------------------------------------------
# W23: OHLC bar resampling — the timeframe-downsampling op of every bar
# pipeline (the reference is daily-bars-only; weekly/monthly views are
# its users' first ask): per (user, week) the first value opens the
# bar, the last closes it, min/max bound it. First/last are made
# deterministic by ranking on (ts, event_id) — never first()/last()
# inside groupBy, whose result depends on partition arrival order.
# Window ranks and the final groupBy share one (user_id)-clustered
# exchange (same single-shuffle class as w21/w22).
# ---------------------------------------------------------------------------
# Shared by the rank-window default AND its min_by variant — identical
# output contract, one oracle certifies both.
_W23_ORACLE = """
    WITH ranked AS (
        SELECT user_id, date_trunc('week', ts) AS week_start, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('week', ts)
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('week', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id,
           CAST(week_start AS DATE) AS week_start,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           ROUND(SUM(value), 6) AS sum_value
    FROM ranked
    GROUP BY user_id, week_start
    """


@query("w23_ohlc_resample", oracle=_W23_ORACLE)
def w23_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC bars per user from the event value series (W23):
    deterministic open/close via (ts, event_id) ranks, exact high/low,
    bar count and volume proxy.

    Plan-shape note (MEASURED, SCALE.md): a min_by/max_by groupBy rewrite
    (``w23_ohlc_resample_minby``, kept as the variant) removes the
    Window operator entirely — but under the 50%-hot 64× probe it ran
    2.4× SLOWER than this rank-window form (15.6 s vs 6.6 s; SCALE.md),
    because w23's composite (user, week) key already diffuses user
    skew across weeks while min_by pays per-row struct construction
    and sort-based partial aggregation. The window form stays the
    default; reach for the min_by variant only when the BAR KEY itself
    is skewed (few buckets, one dominant key)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.date_trunc("week", F.col("ts")).alias("week_start"),
    )
    wk = ["user_id", "week_start"]
    wa = Window.partitionBy(*wk).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wd = Window.partitionBy(*wk).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = ev.select(
        *wk,
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy(*wk).agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias("close"),
        F.count("*").alias("n_bars"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    ).select(
        "user_id",
        F.col("week_start").cast("date").alias("week_start"),
        "open",
        "high",
        "low",
        "close",
        "n_bars",
        "sum_value",
    )


@query("w23_ohlc_resample_minby", oracle=_W23_ORACLE)
def w23_ohlc_resample_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-free W23 via min_by/max_by over the unique (ts, event_id)
    struct — ONE groupBy with partial combine, registered under the
    parent's oracle as the measured alternative: strictly skew-immune
    on the bar key, but 2.4× slower than the rank-window default under
    the 50%-hot 64× probe (per-row struct construction + sort-based
    partial aggregation; SCALE.md). Use when the bar key itself is skewed. Semantically
    identical to ``w23_ohlc_resample`` (equivalence-tested, including
    duplicate-timestamp tie-breaks)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.date_trunc("week", F.col("ts")).alias("week_start"),
        F.struct("ts", "event_id").alias("pos"),
    )
    return ev.groupBy("user_id", "week_start").agg(
        F.round(F.min_by("value", F.col("pos")), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", F.col("pos")), 6).alias("close"),
        F.count("*").alias("n_bars"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    ).select(
        "user_id",
        F.col("week_start").cast("date").alias("week_start"),
        "open",
        "high",
        "low",
        "close",
        "n_bars",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# J13: point-in-interval lookup — the consumer of W21's SCD2 history:
# "which state was valid at time T?" for a probe stream (here: every
# event probed one hour after it occurred, so state changes within the
# hour surface as changed=true). Implemented with the asof_join
# operator — union + ONE key shuffle + forward-fill — NEVER the naive
# `valid_from <= t AND (t < valid_to)` theta join, which is quadratic
# per key (the oracle can afford the theta form at sf0.01; the engine
# cannot at 100 TB). Contiguous intervals mean the as-of match IS the
# covering interval; the valid_to guard is asserted, not filtered.
# ---------------------------------------------------------------------------
@query(
    "j13_interval_lookup",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                         OR event_type <> LAG(event_type) OVER w
                    THEN 1 ELSE 0 END AS changed
        FROM events
        WINDOW w AS ({_W})
    ), runs AS (
        SELECT *, SUM(changed) OVER (
            {_W}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM flagged
    ), intervals AS (
        SELECT user_id, run_id,
               FIRST(event_type ORDER BY ts, event_id) AS state,
               MIN(ts) AS valid_from
        FROM runs GROUP BY user_id, run_id
    ), probes AS (
        SELECT event_id, user_id, event_type,
               ts + INTERVAL 1 HOUR AS probe_ts
        FROM events
    ), matched AS (
        SELECT p.event_id, p.user_id, p.probe_ts, p.event_type, i.state,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY i.valid_from DESC) AS rn
        FROM probes p
        JOIN intervals i
          ON i.user_id = p.user_id AND i.valid_from <= p.probe_ts
    )
    SELECT event_id, user_id, probe_ts,
           state AS state_at,
           (state <> event_type) AS state_changed
    FROM matched WHERE rn = 1
    """,
)
def j13_interval_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State valid one hour after each event, looked up against the
    SCD2 run intervals with the sort-based as-of join (J13)."""
    from pipeline_mf_etl_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    intervals = (
        with_run_group(ev, "event_type", series_window(), "run_id")
        .groupBy("user_id", "run_id")
        .agg(
            F.first("event_type").alias("state"),
            F.min("ts").alias("valid_from"),
        )
        .select("user_id", F.col("valid_from").alias("t"), "state")
    )
    probes = ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t"),
    )
    looked = asof_join(
        probes, intervals, key_cols=["user_id"], time_col="t", value_cols=["state"]
    )
    return looked.select(
        "event_id",
        "user_id",
        F.col("t").alias("probe_ts"),
        F.col("state").alias("state_at"),
        (F.col("state") != F.col("event_type")).alias("state_changed"),
    )
