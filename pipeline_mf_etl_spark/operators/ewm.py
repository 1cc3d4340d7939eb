"""Exponentially-weighted (Wilder) smoothing — the one window primitive
with no native Spark expression (SURVEY.md §2.6 W3).

Reference semantics (silver/indicators_twiggs.py:41-44,139-146):
``ewm_mean(alpha=1/n, adjust=False, min_samples=n)`` — the recursion
``y_t = (1-a)·y_{t-1} + a·x_t`` seeded with ``y_1 = x_1``, NULL until the
series holds n observations.

Implemented as one ``series_fold`` (operators/windows.py): an
``aggregate`` over each series' rows in series order that replays, step
for step, the loop pandas runs for ``ewm(alpha=1/n, adjust=False,
min_periods=n).mean()`` (``pandas._libs.window.aggregations.ewm``), so
the result is bit-identical to it. The recursion is sequential within a
series and parallel across series, which is the axis that scales.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.windows import series_fold


def ewm_smooth(df: DataFrame, value_col: str, n: int, out_col: str) -> DataFrame:
    """Append Wilder-smoothed ``out_col`` = EWM(alpha=1/n, adjust=False,
    min_periods=n) of ``value_col`` per series, after ``df``'s columns.

    The fold carries pandas' loop state: the running mean ``w`` (NaN
    until the first observation), the decayed weight ``old`` of ``w``
    and the observation count. Per row, NULL and NaN are
    non-observations; while ``w`` exists every row decays ``old`` by
    ``1 - a``; an observation ``x`` sets ``w = (old·w + a·x)/(old + a)``
    unless ``w == x`` (pandas' guard for constant series, which leaves
    ``w`` exact) and resets ``old`` to 1. Rows with fewer than n
    observations so far, or a NaN mean, come back as NULL, matching
    Polars ``min_samples`` (reference silver/indicators_twiggs.py:41-44)."""
    # pandas converts alpha to a center of mass and back; replay it so
    # the weights carry the same bits
    com = (1 - 1.0 / n) / (1.0 / n)
    alpha = 1.0 / (1.0 + com)
    decay = 1.0 - alpha
    nan = F.lit(float("nan"))

    def step(acc: Column, r: Column) -> Column:
        x = F.coalesce(r[value_col].cast("double"), nan)
        obs = ~F.isnan(x)
        has = ~F.isnan(acc["w"])
        old = F.when(has, acc["old"] * decay).otherwise(acc["old"])
        w = (
            F.when(has & obs & (acc["w"] != x), (old * acc["w"] + alpha * x) / (old + alpha))
            .when(~has & obs, x)
            .otherwise(acc["w"])
        )
        nobs = acc["nobs"] + obs.cast("int")
        out = F.when((nobs >= n) & ~F.isnan(w), w)
        return F.struct(
            w.alias("w"),
            F.when(has & obs, F.lit(1.0)).otherwise(old).alias("old"),
            nobs.alias("nobs"),
            F.concat(acc["out"], F.array(out)).alias("out"),
        )

    def smooth(rows: Column) -> Column:
        zero = F.struct(
            nan.alias("w"),
            F.lit(1.0).alias("old"),
            F.lit(0).alias("nobs"),
            F.array().cast("array<double>").alias("out"),
        )
        means = F.aggregate(rows, zero, step, lambda acc: acc["out"])
        return F.zip_with(rows, means, lambda r, v: r.withField(out_col, v))

    return series_fold(df, smooth, [*df.columns, out_col])
