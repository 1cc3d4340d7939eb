"""Exponentially-weighted (Wilder) smoothing — the one window primitive
with no native Spark expression (SURVEY.md §2.6 W3).

Reference semantics (silver/indicators_twiggs.py:41-44,139-146):
``ewm_mean(alpha=1/n, adjust=False, min_samples=n)`` — the recursion
``y_t = (1-a)·y_{t-1} + a·x_t`` seeded with ``y_1 = x_1``, NULL until the
series holds n observations.

Implemented as one ``series_island`` pass running pandas'
``GroupBy.ewm`` over every series of a partition. The recursion is
inherently sequential within a series but embarrassingly parallel
across them, which is the only axis that matters at 100 TB: series
count scales, series length doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pipeline_mf_etl_spark.operators.windows import SERIES_KEY, series_island


def ewm_smooth(df: DataFrame, value_col: str, n: int, out_col: str) -> DataFrame:
    """Append Wilder-smoothed ``out_col`` = EWM(alpha=1/n, adjust=False,
    min_periods=n) of ``value_col`` per series; warm-up rows (fewer than
    n observations) come back as NULL, matching Polars ``min_samples``
    (reference silver/indicators_twiggs.py:41-44).

    Row alignment: the island writes ``groupby(sort=True)``'s flattened
    result back by position, which walks series keys ascending and
    keeps row order within a series — the order ``series_island``
    delivers."""
    # build a fresh StructType — StructType.add mutates in place, which
    # would corrupt df's cached schema.
    schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType(), True)])
    alpha = 1.0 / n

    def smooth(pdf):
        grouped = pdf.groupby(SERIES_KEY, sort=True)[value_col]
        pdf[out_col] = grouped.ewm(alpha=alpha, adjust=False, min_periods=n).mean().to_numpy()
        return pdf

    out = series_island(df, smooth, schema)
    # pandas NaN round-trips as Double.NaN, not SQL NULL — normalize so
    # downstream null-guards (and the DuckDB oracle) agree.
    return out.withColumn(out_col, F.when(~F.isnan(out_col), F.col(out_col)))
