"""Exponentially-weighted (Wilder) smoothing — the one window primitive
with no native Spark expression (SURVEY.md §2.6 W3).

Reference semantics (silver/indicators_twiggs.py:41-44,139-146):
``ewm_mean(alpha=1/n, adjust=False, min_samples=n)`` — the recursion
``y_t = (1-a)·y_{t-1} + a·x_t`` seeded with ``y_1 = x_1``, NULL until the
series holds n observations.

Implemented as one Arrow-batched ``mapInPandas`` island per series-
hashed partition running pandas' ``GroupBy.ewm``. The recursion is
inherently sequential within a series but embarrassingly parallel
across them, which is the only axis that matters at 100 TB: series
count scales, series length doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pipeline_mf_etl_spark.functions.core import island_repartition


def ewm_smooth(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    value_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """Append Wilder-smoothed ``out_col`` = EWM(alpha=1/n, adjust=False,
    min_periods=n) of ``value_col`` per series; warm-up rows (fewer than
    n observations) come back as NULL, matching Polars ``min_samples``
    (reference silver/indicators_twiggs.py:41-44)."""
    return ewm_smooth_many(df, series_cols, order_cols, {out_col: value_col}, n)


def ewm_smooth_many(
    df: DataFrame,
    series_cols: list[str],
    order_cols: list[str],
    cols: dict[str, str],
    n: int,
) -> DataFrame:
    """Append one Wilder-smoothed column per ``cols`` entry
    (``out_col -> value_col``) in a SINGLE mapInPandas pass.

    Physical shape: hash-repartition by series key, sort within each
    partition, then ONE ``mapInPandas`` call per partition that runs
    pandas ``GroupBy.ewm`` over all series it holds. With millions of
    short series, per-group ``applyInPandas`` pays one Arrow exchange
    per series; this form pays one per partition, and one shuffle for
    any number of columns (the viewer panel smooths four, reference
    overlay_viewer/indicators_twiggs.py:55-64).

    Row alignment: the island writes ``groupby(sort=True)``'s flattened
    result back by position, which walks series keys ascending and
    keeps row order within a series. So the partition must arrive
    series-contiguous, keys ascending, in (order_cols) order with NULLs
    last — the pandas sort order, kept here by Spark's sort.
    """
    # build a fresh StructType — StructType.add mutates in place, which
    # would corrupt df's cached schema.
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out, DoubleType(), True) for out in cols]
    )
    alpha = 1.0 / n

    def smooth(batches):
        import pandas as pd

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if pdf.empty:
            return
        grouped = pdf.groupby(series_cols, sort=True)
        for out, val in cols.items():
            pdf[out] = (
                grouped[val].ewm(alpha=alpha, adjust=False, min_periods=n).mean().to_numpy()
            )
        yield pdf

    out = island_repartition(df, *series_cols).sortWithinPartitions(
        *[F.col(c).asc_nulls_last() for c in series_cols + order_cols]
    ).mapInPandas(smooth, schema)
    # pandas NaN round-trips as Double.NaN, not SQL NULL — normalize so
    # downstream null-guards (and the DuckDB oracle) agree.
    for col in cols:
        out = out.withColumn(col, F.when(~F.isnan(col), F.col(col)))
    return out
