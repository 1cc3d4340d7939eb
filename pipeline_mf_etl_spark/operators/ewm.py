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
    until the first observation), the weight ``old`` that ``w`` will
    carry into the next row (pandas' ``old_wt`` after its decay) and the
    observation count. Per row, NULL and NaN are non-observations; an
    observation ``x`` sets ``w = (old·w + a·x)/(old + a)`` unless
    ``w == x`` (pandas' guard for constant series, which leaves ``w``
    exact), or ``w = x`` while ``w`` is NaN; the next row's ``old`` is
    ``1 - a`` after an observation, or while ``w`` is NaN, and ``old``
    times ``1 - a`` otherwise, the same products pandas forms. Rows
    with fewer than n observations so far, or a NaN mean, come back as
    NULL, matching Polars ``min_samples`` (reference
    silver/indicators_twiggs.py:41-44).

    Each step builds every state field once: the observation
    ``coalesce(value, NaN)`` is a row field, and a row's output is
    appended one step behind, from the state it left."""
    # pandas converts alpha to a center of mass and back; replay it so
    # the weights carry the same bits
    com = (1 - 1.0 / n) / (1.0 / n)
    alpha = 1.0 / (1.0 + com)
    decay = 1.0 - alpha
    nan = F.lit(float("nan"))
    obs_col = f"__{out_col}_x"

    def advance(acc: Column, r: Column) -> list[Column]:
        x = r[obs_col]
        obs = ~F.isnan(x)
        has = ~F.isnan(acc["w"])
        mixed = (acc["old"] * acc["w"] + alpha * x) / (acc["old"] + alpha)
        w = (
            F.when(has & obs & (acc["w"] != x), mixed)
            .when(~has & obs, x)
            .otherwise(acc["w"])
        )
        old = F.when(has & ~obs, acc["old"] * decay).otherwise(decay)
        return [w.alias("w"), old.alias("old"), (acc["nobs"] + obs.cast("int")).alias("nobs")]

    def mean(acc: Column) -> Column:
        return F.when((acc["nobs"] >= n) & ~F.isnan(acc["w"]), acc["w"])

    def smooth(rows: Column) -> Column:
        zero = F.struct(
            nan.alias("w"),
            F.lit(decay).alias("old"),
            F.lit(0).alias("nobs"),
            F.array().cast("array<double>").alias("out"),
        )
        means = F.aggregate(
            rows,
            zero,
            lambda acc, r: F.struct(
                *advance(acc, r), F.concat(acc["out"], F.array(mean(acc))).alias("out")
            ),
            # the first mean appended is the zero state's
            lambda acc: F.slice(F.concat(acc["out"], F.array(mean(acc))), 2, F.size(rows)),
        )
        return F.zip_with(rows, means, lambda r, v: r.withField(out_col, v))

    x = F.coalesce(F.col(value_col).cast("double"), nan)
    return series_fold(df.withColumn(obs_col, x), smooth, [*df.columns, out_col])
