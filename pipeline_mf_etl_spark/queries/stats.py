"""Statistical / research operator queries (SURVEY.md §2.8 M1-M3, M8,
M12-M13, M17 and §2.4 J8).

The scalers stay pure DataFrame algebra (grouped params + join + exprs)
so the exact reference formulas remain oracle-checkable; only bootstrap
(engine-specific RNG) is a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.config import load_settings
from pipeline_mf_etl_spark.functions.core import clip, safe_div
from pipeline_mf_etl_spark.operators.stats import (
    fit_global_scaler,
    fit_robust_scaler_per_group,
)
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import series_window, with_run_group
from pipeline_mf_etl_spark.queries.export import export_frame, export_glob
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table


_BOOT = load_settings().bootstrap


def _r(col, n=6):
    return F.round(col, n)


# ---------------------------------------------------------------------------
# M1 global standard scaler + M3 z-clip
# (reference: research/preprocess.py:94-106, 321-323)
# Spark-first: the params row is broadcast-cross-joined, NOT a global
# window (a partitionBy() window would funnel all rows to one task).
# ---------------------------------------------------------------------------
@query(
    "m1_global_scaler",
    oracle="""
    SELECT event_id,
           ROUND(LEAST(GREATEST((value - s.center__f) / s.spread__f, -2.0), 2.0), 6) AS value_z
    FROM events
    CROSS JOIN (
        SELECT AVG(value) AS center__f,
               CASE WHEN STDDEV_POP(value) > 0 THEN STDDEV_POP(value) ELSE 1.0 END AS spread__f
        FROM events
    ) s
    """,
)
def m1_global_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global standard scaler (M1) + z-clip (M3) via broadcast params row."""
    ev = load_table(spark, sf_dir, "events")
    params = fit_global_scaler(ev, "value")
    return ev.crossJoin(F.broadcast(params)).select(
        "event_id",
        _r(
            clip((F.col("value") - F.col("center__f")) / F.col("spread__f"), -2.0, 2.0)
        ).alias("value_z"),
    )


# ---------------------------------------------------------------------------
# M2/J4 per-group robust scaler (median/IQR) joined back
# (reference: research/preprocess.py:109-152, 228-268)
# ---------------------------------------------------------------------------
@query(
    "m2_per_group_scaler",
    oracle="""
    WITH params AS (
        SELECT event_type,
               QUANTILE_CONT(value, 0.5) AS center__f,
               CASE WHEN QUANTILE_CONT(value, 0.75) - QUANTILE_CONT(value, 0.25) > 0
                    THEN QUANTILE_CONT(value, 0.75) - QUANTILE_CONT(value, 0.25)
                    ELSE 1.0 END AS spread__f
        FROM events GROUP BY event_type
    )
    SELECT e.event_id,
           ROUND((e.value - p.center__f) / p.spread__f, 6) AS value_robust
    FROM events e JOIN params p ON e.event_type = p.event_type
    """,
)
def m2_per_group_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaler (M2): exact-median/IQR params + broadcast join (J4)."""
    ev = load_table(spark, sf_dir, "events")
    params = fit_robust_scaler_per_group(ev, "event_type", "value")
    return ev.join(F.broadcast(params), "event_type").select(
        "event_id",
        _r((F.col("value") - F.col("center__f")) / F.col("spread__f")).alias("value_robust"),
    )


# ---------------------------------------------------------------------------
# M8 per-state profiles with forward outcomes, finite-only
# (reference: research/profiles.py:111-180)
# ---------------------------------------------------------------------------
@query(
    "m8_state_profiles",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value,
               CASE WHEN ABS(value) > 1e-12
                    THEN (LEAD(value, 5) OVER ({_W})) / value - 1 END AS fwd_ret_5
        FROM events
    )
    SELECT event_type,
           COUNT(fwd_ret_5) AS n_fwd,
           ROUND(AVG(fwd_ret_5), 6) AS fwd_mean,
           ROUND(QUANTILE_CONT(fwd_ret_5, 0.5), 6) AS fwd_median,
           ROUND(STDDEV_POP(fwd_ret_5), 6) AS fwd_std,
           ROUND(QUANTILE_CONT(fwd_ret_5, 0.10), 6) AS fwd_p10,
           ROUND(QUANTILE_CONT(fwd_ret_5, 0.90), 6) AS fwd_p90,
           ROUND(AVG(CASE WHEN fwd_ret_5 IS NULL THEN NULL
                          WHEN fwd_ret_5 > 0 THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
    FROM r GROUP BY event_type
    """,
)
def m8_state_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State profiles (M8): forward-outcome stats per state, finite-only (P5)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    fwd = safe_div(F.lead("value", 5).over(w), F.col("value")) - 1
    df = ev.select("event_type", fwd.alias("fwd_ret_5"))
    hit = F.when(F.col("fwd_ret_5").isNotNull(), (F.col("fwd_ret_5") > 0).cast("double"))
    return df.groupBy("event_type").agg(
        F.count("fwd_ret_5").alias("n_fwd"),
        _r(F.avg("fwd_ret_5")).alias("fwd_mean"),
        _r(F.expr("percentile(fwd_ret_5, 0.5)")).alias("fwd_median"),
        _r(F.stddev_pop("fwd_ret_5")).alias("fwd_std"),
        _r(F.expr("percentile(fwd_ret_5, 0.10)")).alias("fwd_p10"),
        _r(F.expr("percentile(fwd_ret_5, 0.90)")).alias("fwd_p90"),
        _r(F.avg(hit)).alias("hit_rate"),
    )


# ---------------------------------------------------------------------------
# J8/M12 transition matrix with per-from-state normalization + dwell stats
# (reference: research_hmm/diagnostics.py:22-128; validation/stability.py:92-101)
# ---------------------------------------------------------------------------
@query(
    "j8_transition_matrix",
    oracle=f"""
    WITH pairs AS (
        SELECT LAG(event_type) OVER ({_W}) AS from_state, event_type AS to_state
        FROM events
    ), counts AS (
        SELECT from_state, to_state, COUNT(*) AS n
        FROM pairs WHERE from_state IS NOT NULL
        GROUP BY from_state, to_state
    )
    SELECT from_state, to_state, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 6) AS prob
    FROM counts
    """,
)
def j8_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition matrix (J8): pair counts normalized by from-state totals."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_state"),
        F.col("event_type").alias("to_state"),
    ).filter(F.col("from_state").isNotNull())
    counts = pairs.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    return counts.select(
        "from_state",
        "to_state",
        "n",
        _r(F.col("n") / F.sum("n").over(Window.partitionBy("from_state"))).alias("prob"),
    )


@query(
    "m12_dwell_stats",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(event_type) OVER ({_W}) IS NULL
                         OR event_type <> LAG(event_type) OVER ({_W})
                    THEN 1 ELSE 0 END AS changed
        FROM events
    ), grouped AS (
        SELECT *, SUM(changed) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM flagged
    ), runs AS (
        SELECT user_id, grp, event_type, COUNT(*) AS dwell
        FROM grouped GROUP BY user_id, grp, event_type
    )
    SELECT event_type,
           COUNT(*) AS n_runs,
           ROUND(AVG(dwell), 6) AS mean_dwell,
           ROUND(QUANTILE_CONT(dwell, 0.5), 6) AS median_dwell,
           CAST(MAX(dwell) AS BIGINT) AS max_dwell
    FROM runs GROUP BY event_type
    """,
)
def m12_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell statistics (M12): run-group lengths aggregated per state."""
    ev = load_table(spark, sf_dir, "events")
    runs = (
        with_run_group(ev, "event_type", series_window(), "grp")
        .groupBy("user_id", "grp", "event_type")
        .agg(F.count("*").alias("dwell"))
    )
    return runs.groupBy("event_type").agg(
        F.count("*").alias("n_runs"),
        _r(F.avg("dwell")).alias("mean_dwell"),
        _r(F.expr("percentile(dwell, 0.5)")).alias("median_dwell"),
        F.max("dwell").cast("long").alias("max_dwell"),
    )


# ---------------------------------------------------------------------------
# M17 trend slope via regression aggregate
# (reference: validation/stability.py:49-69 np.polyfit per state — here the
#  SQL regr_slope aggregate, no UDF, no collect)
# ---------------------------------------------------------------------------
@query(
    "m17_trend_slope",
    oracle="""
    SELECT event_type,
           ROUND(REGR_SLOPE(value, x), 6) AS slope,
           ROUND(REGR_INTERCEPT(value, x), 6) AS intercept,
           COUNT(*) AS n
    FROM (
        SELECT event_type, value,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
        FROM events
    ) GROUP BY event_type
    """,
)
def m17_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state trend slope (M17) as a regr_slope aggregate."""
    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).cast("double")
    df = ev.select("event_type", "value", x.alias("x"))
    return df.groupBy("event_type").agg(
        _r(F.regr_slope("value", "x")).alias("slope"),
        _r(F.regr_intercept("value", "x")).alias("intercept"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# M13 bootstrap CIs — engine RNG, deterministic under seed; rows-only check
# (reference: validation/bootstrap.py:38-77)
# ---------------------------------------------------------------------------
def _boot_ci_oracle(glob: str, lo: float, hi: float, with_median: bool) -> str:
    med = (
        f""",
           ROUND(quantile_cont(median_rep, {lo / 100.0}), 6) AS median_ci_lo,
           ROUND(quantile_cont(median_rep, {hi / 100.0}), 6) AS median_ci_hi"""
        if with_median
        else ""
    )
    return f"""
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(quantile_cont(mean_rep, {lo / 100.0}), 6) AS mean_ci_lo,
           ROUND(quantile_cont(mean_rep, {hi / 100.0}), 6) AS mean_ci_hi{med}
    FROM read_parquet('{glob}')
    GROUP BY event_type
    """


@query(
    "m13_bootstrap_ci",
    eager=True,
    oracle=_boot_ci_oracle(
        export_glob("m13_dists"), _BOOT.ci_lo, _BOOT.ci_hi, with_median=True
    ),
)
def m13_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded iid bootstrap mean/median CIs per state (M13). The
    per-replicate distributions are persisted so the percentile-CI
    phase is oracle-checked (the seeded resampling itself is
    engine-specific NumPy, as in the reference)."""
    from pipeline_mf_etl_spark.operators.stats import (
        bootstrap_distributions,
        ci_from_distributions,
    )

    ev = load_table(spark, sf_dir, "events")
    dists = bootstrap_distributions(
        spark,
        ev,
        "event_type",
        "value",
        order=["ts", "event_id"],
        n_boot=_BOOT.n_boot,
        cap=_BOOT.cap,
        seed=_BOOT.seed,
    )
    persisted = export_frame(dists, spark, sf_dir, "m13_dists")
    return ci_from_distributions(persisted, "event_type", ci=(_BOOT.ci_lo, _BOOT.ci_hi))


# ---------------------------------------------------------------------------
# M14 block bootstrap — serial-dependence-preserving resampling
# (reference: validation/bootstrap.py:80-119); deterministic under seed
# ---------------------------------------------------------------------------
@query(
    "m14_block_bootstrap",
    eager=True,
    oracle=_boot_ci_oracle(
        export_glob("m14_dists"), _BOOT.ci_lo, _BOOT.ci_hi, with_median=False
    ),
)
def m14_block_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-block bootstrap mean CIs per state (M14), with the
    replicate distributions persisted for the oracle percentile check."""
    from pipeline_mf_etl_spark.operators.stats import (
        block_bootstrap_distributions,
        ci_from_distributions,
    )

    ev = load_table(spark, sf_dir, "events")
    dists = block_bootstrap_distributions(
        spark,
        ev,
        "event_type",
        "value",
        ["ts", "event_id"],
        block_len=_BOOT.block_len,
        n_boot=_BOOT.n_boot,
        cap=_BOOT.cap,
        seed=_BOOT.seed,
    )
    persisted = export_frame(dists, spark, sf_dir, "m14_dists")
    return ci_from_distributions(
        persisted, "event_type", ci=(_BOOT.ci_lo, _BOOT.ci_hi), with_median=False
    )


# ---------------------------------------------------------------------------
# M15 pairwise state-difference CIs + sign-consistency flag
# (reference: validation/bootstrap.py:314-340)
# ---------------------------------------------------------------------------
@query(
    "m15_pairwise_diff_ci",
    eager=True,
    oracle=f"""
    WITH agg AS (
        SELECT state_a, state_b,
               ROUND(quantile_cont(diff_rep, {_BOOT.ci_lo / 100.0}), 6) AS diff_ci_lo,
               ROUND(quantile_cont(diff_rep, {_BOOT.ci_hi / 100.0}), 6) AS diff_ci_hi
        FROM read_parquet('{export_glob("m15_dists")}')
        GROUP BY state_a, state_b
    )
    SELECT state_a, state_b, diff_ci_lo, diff_ci_hi,
           (diff_ci_lo > 0 OR diff_ci_hi < 0) AS diff_sign_consistent
    FROM agg
    """,
)
def m15_pairwise_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap mean-difference CIs for every state pair (M15), with
    the pairwise diff distributions persisted for the oracle check."""
    from pipeline_mf_etl_spark.operators.stats import (
        pairwise_ci_from_distributions,
        pairwise_diff_distributions,
    )

    ev = load_table(spark, sf_dir, "events")
    dists = pairwise_diff_distributions(
        spark,
        ev,
        "event_type",
        "value",
        order=["ts", "event_id"],
        n_boot=_BOOT.n_boot,
        cap=_BOOT.cap,
        seed=_BOOT.seed,
    )
    persisted = export_frame(dists, spark, sf_dir, "m15_dists")
    return pairwise_ci_from_distributions(persisted, ci=(_BOOT.ci_lo, _BOOT.ci_hi))
