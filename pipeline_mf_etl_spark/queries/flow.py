"""Flow-indicator stack (SURVEY.md §2.6 W3, W8-W13; §7.2 minimum slice).

The reference's Silver/Gold layers smooth a per-ticker measure with a
Wilder EWM (silver/indicators_twiggs.py:117-152), code each bar into
flow states S0-S4 (gold/event_grammar_v1.py:360-404), and score rolling
event activity (gold/event_grammar_v1.py:324-358). Here the same
semantics run over the ``events`` series (user_id = series key,
value = measure).

The EWM recursion is the single primitive with no native Spark
expression: the Spark side runs it as one ``series_fold``
(operators/ewm.py), an in-plan fold over each series' rows in series
order; the DuckDB oracle uses
a BLOCK-RESCALED exact expansion of the same recursion (see _EWM_CTE) —
the naive closed form ``y_t = a·B^t·Σ x_i·B^{-i} + B^t·x_1`` overflows
double once a series exceeds ~7000 bars, so exponents are kept within
fixed-size blocks and cross-block factors are carried by a recursive
CTE over block indices. Both sides are exact, so they agree to far
beyond the 6-dp rounding used in the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import safe_div
from pipeline_mf_etl_spark.operators.ewm import ewm_smooth
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import bars_since, series_window, with_flow_state
from pipeline_mf_etl_spark.queries.registry import query


# Wilder span from settings (default 10: short enough that every sf has
# post-warm-up rows; reference settings.yaml `indicators`).
from pipeline_mf_etl_spark.config import load_settings as _load_settings

_N = _load_settings().indicators.ewm_span
_A = 1.0 / _N
_B = 1.0 - _A

# Block size for the rescaled closed form below. The naive expansion
# multiplies by POWER(B, -rn), which overflows double once rn ≈ 7000
# (0.9^-7000 > 1e308); rescaling the exponent within fixed blocks keeps
# every intermediate in [B^-L, B^-1] and carries cross-block factors via
# a tiny recursive CTE over block indices (depth = series_len / L).
_L = 500

# Closed-form EWM CTE shared by the flow oracles: adds rn and ewm_10.
# Derivation (adjust=False Wilder EWM, y_1 = x_1):
#   y_t = B^(t-1)·x_1 + A·Σ_{i=2..t} B^(t-i)·x_i
# With t = m·L + e (e ∈ [1, L]) and s_i = x_i·B^(-e_i) for i >= 2:
#   Σ_{i=2..t} B^(t-i)·x_i = B^e·( pcum_t + G_m )
#   pcum_t = within-block prefix sum of s_i,
#   G_m    = Σ_{k<m} B^((m-k)·L)·T_k  (T_k = block-k total of s_i),
# and G obeys G_0 = 0, G_m = B^L·(G_{m-1} + T_{m-1}) — the recursion
# below, whose depth is the BLOCK count, not the row count.
_EWM_CTE = f"""
    base AS (
        SELECT event_id, user_id, ts, event_type, value,
               ROW_NUMBER() OVER ({_W}) AS rn
        FROM events
    ), blkd AS (
        SELECT *,
               CAST((rn - 1) // {_L} AS INT) AS blk,
               rn - CAST((rn - 1) // {_L} AS INT) * {_L} AS e,
               CASE WHEN rn >= 2 THEN
                    value * POWER({_B!r}, -(rn - CAST((rn - 1) // {_L} AS INT) * {_L}))
                    ELSE 0.0 END AS s,
               FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY rn) AS first_val
        FROM base
    ), bt AS (
        SELECT user_id, blk, SUM(s) AS t_blk FROM blkd GROUP BY 1, 2
    ), carry AS (
        SELECT user_id, 0 AS blk, CAST(0.0 AS DOUBLE) AS g
        FROM (SELECT DISTINCT user_id FROM bt)
        UNION ALL
        SELECT c.user_id, c.blk + 1,
               POWER({_B!r}, {_L}) * (c.g + t.t_blk)
        FROM carry c JOIN bt t ON t.user_id = c.user_id AND t.blk = c.blk
    ), acc AS (
        SELECT b.*, c.g,
               SUM(b.s) OVER (
                   PARTITION BY b.user_id, b.blk ORDER BY b.rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcum
        FROM blkd b JOIN carry c ON c.user_id = b.user_id AND c.blk = b.blk
    ), smoothed AS (
        SELECT event_id, user_id, ts, event_type, value, rn,
               CASE WHEN rn >= {_N} THEN
                    {_A!r} * POWER({_B!r}, e) * (pcum + g)
                    + POWER({_B!r}, rn - 1) * first_val END AS ewm_10
        FROM acc
    )
"""


def _ewm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_mf_etl_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    return ewm_smooth(ev, "value", _N, "ewm_10")


# ---------------------------------------------------------------------------
# W3: Wilder EWM smoothing (reference: silver/indicators_twiggs.py:41-44)
# ---------------------------------------------------------------------------
@query(
    "w3_ewm_wilder",
    oracle=f"""
    WITH RECURSIVE {_EWM_CTE}
    SELECT event_id, user_id, ROUND(ewm_10, 6) AS ewm_10
    FROM smoothed
    """,
)
def w3_ewm_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder EWM (alpha=1/10, adjust=False, min_samples=10) per series (W3)."""
    df = _ewm(spark, sf_dir)
    return df.select("event_id", "user_id", F.round("ewm_10", 6).alias("ewm_10"))


# ---------------------------------------------------------------------------
# Flow-state grammar S0-S4 (reference: gold/event_grammar_v1.py:360-404)
# ---------------------------------------------------------------------------
@query(
    "f1_flow_states",
    oracle=f"""
    WITH RECURSIVE {_EWM_CTE}, flow AS (
        SELECT event_id, user_id, ts, rn,
               ewm_10 - 10.0 AS flow,
               ewm_10 - (LAG(ewm_10) OVER ({_W})) AS slope
        FROM smoothed
    )
    SELECT event_id, user_id,
           ROUND(flow, 6) AS flow,
           CAST(CASE
               WHEN flow IS NULL THEN 0
               WHEN flow > 0 AND COALESCE(slope >= 0, TRUE) THEN 1
               WHEN flow > 0 THEN 2
               WHEN COALESCE(slope >= 0, TRUE) THEN 4
               ELSE 3 END AS TINYINT) AS flow_state_code
    FROM flow
    """,
)
def f1_flow_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S0-S4 flow-state coding: warmup / rising-positive / falling-positive /
    falling-negative / rising-negative quadrants of the smoothed measure."""
    states = with_flow_state(
        _ewm(spark, sf_dir), "ewm_10", series_window(), "flow_state_code", "flow"
    )
    return states.select(
        "event_id", "user_id", F.round("flow", 6).alias("flow"), "flow_state_code"
    )


# ---------------------------------------------------------------------------
# W12/W13: rolling event activity + recency transforms
# (reference: gold/event_grammar_v1.py:324-358; gold/features_v1.py:231-259)
# ---------------------------------------------------------------------------
@query(
    "f2_flow_activity",
    oracle=f"""
    WITH flags AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS up_ev,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS down_ev,
               ROW_NUMBER() OVER ({_W}) AS rn,
               CASE WHEN event_type = 'error'
                    THEN ROW_NUMBER() OVER ({_W}) END AS err_rn
        FROM events
    ), rolled AS (
        SELECT event_id, user_id,
               SUM(up_ev) OVER w20 AS up_20,
               SUM(down_ev) OVER w20 AS down_20,
               rn - MAX(err_rn) OVER (
                   {_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS bars_since_error
        FROM flags
        WINDOW w20 AS ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CAST(up_20 AS BIGINT) AS up_20,
           CAST(down_20 AS BIGINT) AS down_20,
           ROUND(CASE WHEN ABS(up_20 + down_20) > 1e-12
                 THEN (up_20 - down_20) * 1.0 / (up_20 + down_20) END, 6) AS activity_bias,
           ROUND(LEAST(CAST(bars_since_error AS DOUBLE), 20.0) / 20.0, 6) AS error_recency
    FROM rolled
    """,
)
def f2_flow_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-bar up/down event counts, bias ratio (W12) and clipped
    recency transform of bars-since-error (W13)."""
    from pipeline_mf_etl_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    w20 = w.rowsBetween(-19, 0)
    up = (F.col("event_type") == "purchase").cast("int")
    down = (F.col("event_type") == "error").cast("int")
    df = ev.select(
        "event_id",
        "user_id",
        F.sum(up).over(w20).alias("up_20"),
        F.sum(down).over(w20).alias("down_20"),
        bars_since(F.col("event_type") == "error", w).alias("bars_since_error"),
    )
    return df.select(
        "event_id",
        "user_id",
        F.col("up_20").cast("long").alias("up_20"),
        F.col("down_20").cast("long").alias("down_20"),
        F.round(
            safe_div(F.col("up_20") - F.col("down_20"), F.col("up_20") + F.col("down_20")), 6
        ).alias("activity_bias"),
        F.round(
            F.least(F.col("bars_since_error").cast("double"), F.lit(20.0)) / 20.0, 6
        ).alias("error_recency"),
    )
