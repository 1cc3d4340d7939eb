"""Per-series window operator library (SURVEY.md §2.6 W1-W17).

The reference runs every sequential computation as a per-ticker Python
loop over one file per symbol; here each is a single window expression
over one partitioned DataFrame (``series_window``), so Spark
parallelizes across series and AQE handles skewed keys. A recursion no
window expresses runs as a ``series_fold`` over the series' rows, still
inside the plan. No Python in the hot path.

Series order. A series is the rows of one ``user_id``, ordered by
``(ts, event_id)`` ascending with NULLs last. This module is its one
home: ``series_window`` (Spark windows), ``SERIES_WINDOW_SQL`` (the
oracles' window text; DuckDB orders NULLs last by default, so the bare
text is the same order) and ``series_fold`` (the in-plan folds — EWM,
the trade simulation and the HMM decode — which see each series as one
sorted array).

Key semantic carried over from the reference (Polars `min_samples`):
rolling statistics are NULL until the window holds n observations —
reproduced with an explicit count guard (reference:
silver/features_base.py:172-198).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SERIES_KEY = "user_id"
SERIES_ORDER = ("ts", "event_id")
SERIES_WINDOW_SQL = f"PARTITION BY {SERIES_KEY} ORDER BY {', '.join(SERIES_ORDER)}"
# the column holding a series' rows inside ``series_fold``, for folds
# written as SQL text
FOLD_ROWS = "rows"


def series_order() -> list[Column]:
    """The within-series order: ``(ts, event_id)`` ascending, NULLs last."""
    return [F.col(c).asc_nulls_last() for c in SERIES_ORDER]


def series_window(*within: str | Column) -> WindowSpec:
    """Window over one series in series order; ``within`` adds partition
    keys that split a series into sub-series (runs, segments, days)."""
    return Window.partitionBy(SERIES_KEY, *within).orderBy(*series_order())


def sort_series(df: DataFrame) -> DataFrame:
    """Sort each partition by series key, then series order: the order a
    ``series_window`` stage leaves its rows in, so a sort after one is
    free."""
    return df.sortWithinPartitions(SERIES_KEY, *series_order())


def series_fold(
    df: DataFrame, fold: Callable[[Column], Column], columns: Sequence[str]
) -> DataFrame:
    """Run a sequential per-series kernel inside the plan, with no Python
    worker: one row per series holding its rows as an array, ``fold``
    over that array, then the output array back to rows.

    ``fold`` receives the series' rows as structs in series order. Each
    struct holds every column of ``df`` but the series key; each
    ``SERIES_ORDER`` column is preceded by its NULL flag
    (``__<name>_null``), so the plain struct sort puts NULLs last. The
    sort is ``sort_array``, the struct type's own ordering:
    ``array_sort`` gives the same order through an interpreted
    comparator lambda.
    ``fold`` returns an array of output structs; their fields, plus the
    series key, are projected to ``columns`` in that order (the schema
    and any digest of the output depend on it).

    The series key of the output is the grouping key itself, so a series
    window after the fold reuses the fold's exchange. Memory grows with
    the longest series, not with the partition. Every column must be
    orderable (no maps), since whole structs are compared on ties."""
    order = [c for k in SERIES_ORDER for c in (F.col(k).isNull().alias(f"__{k}_null"), k)]
    rest = [c for c in df.columns if c != SERIES_KEY and c not in SERIES_ORDER]
    rows = F.sort_array(F.collect_list(F.struct(*order, *rest)))
    return (
        df.groupBy(SERIES_KEY)
        .agg(rows.alias(FOLD_ROWS))
        .select(SERIES_KEY, F.inline(fold(F.col(FOLD_ROWS))))
        .select(*columns)
    )


def shares_ts(w: WindowSpec) -> Column:
    """True when another row of the series has this row's ``ts`` (NULL
    ``ts`` rows match each other), over ``w = series_window()``. Equal
    ``ts`` rows are adjacent in series order, so comparing neighbours
    equals counting a ``(user_id, ts)`` partition, without a second
    shuffle or sort. The struct makes a missing neighbour (NULL) differ
    from a neighbour with NULL ``ts``."""
    ts = F.struct(SERIES_ORDER[0])
    return F.lag(ts).over(w).eqNullSafe(ts) | F.lead(ts).over(w).eqNullSafe(ts)


def quality_flags(
    w: WindowSpec, gap_days: int
) -> tuple[dict[str, Column], dict[str, Column]]:
    """The P2 row quality flags over ``w = series_window()``, by column
    name: the hard flags (a row raising any is invalid) and the warnings.
    A gap is more than ``gap_days`` calendar days since the previous row
    of the series."""
    hard = {
        "q_missing_field": F.col("value").isNull()
        | F.col("event_type").isNull()
        | (F.trim("event_type") == ""),
        "q_nonpositive_value": F.coalesce(F.col("value") <= 0, F.lit(False)),
        "q_duplicate": shares_ts(w),
    }
    day = F.col("ts").cast("date")
    warn = {
        "q_gap_in_series": F.coalesce(
            F.datediff(day, F.lag(day).over(w)) > gap_days, F.lit(False)
        ),
        "q_suspicious_bar": F.coalesce(F.col("value") > 50, F.lit(False)),
    }
    return hard, warn


def rolling(agg: Column, w: WindowSpec, n: int) -> WindowSpec | Column:
    """Aggregate over the trailing n rows (current row inclusive)."""
    return agg.over(w.rowsBetween(-(n - 1), 0))


def rolling_min_samples(agg: Column, count_col: Column, w: WindowSpec, n: int) -> Column:
    """Rolling aggregate NULLed until the window holds >= n non-null
    observations (Polars ``min_samples`` semantics)."""
    frame = w.rowsBetween(-(n - 1), 0)
    return F.when(F.count(count_col).over(frame) >= n, agg.over(frame))


def with_flow_state(
    df: DataFrame, ewm_col: str, w: WindowSpec, code: str, flow: str | None = None
) -> DataFrame:
    """S0-S4 flow-state grammar (reference gold/event_grammar_v1.py:
    360-404) over a smoothed column: append ``code``, the tinyint
    quadrant of ``flow = ewm - 10`` — 0 warm-up (NULL flow), 1 positive
    and rising, 2 positive and falling, 3 non-positive and falling, 4
    non-positive and rising — and ``flow`` itself when named. The slope
    is against the previous bar in ``w``; the first bar counts as
    rising. The previous smoothed value is projected once, as
    ``with_run_group`` projects its state."""
    prev = f"__prev_{ewm_col}"
    level = F.col(ewm_col) - 10.0
    # slope vs the previous smoothed value (the constant cancels)
    slope = level - (F.col(prev) - 10.0)
    rising = F.coalesce(slope >= 0, F.lit(True))
    quadrant = (
        F.when(level.isNull(), 0)
        .when((level > 0) & rising, 1)
        .when(level > 0, 2)
        .when(rising, 4)
        .otherwise(3)
    )
    out = df.withColumn(prev, F.lag(ewm_col).over(w)).withColumn(code, quadrant.cast("tinyint"))
    if flow is not None:
        out = out.withColumn(flow, level)
    return out.drop(prev)


def bars_since(flag: Column, w: WindowSpec) -> Column:
    """Rows since the last row where ``flag`` was true (0 on the event row
    itself, NULL before the first event).

    Reference: gold/event_grammar_v1.py:32-46 — forward-fill of the last
    event row-index then subtract; here `last(when(flag, rn), ignorenulls)`.
    """
    rn = F.row_number().over(w)
    last_idx = F.last(F.when(flag, rn), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return rn - last_idx


def with_run_group(
    df: DataFrame, state: str, w: WindowSpec, group: str, prev: str = "__prev"
) -> DataFrame:
    """Append ``group``, a monotone id incremented whenever ``state``
    changes along ``w`` (run-length-encoding groups; reference
    gold/features_v1.py:290-313). The previous row's state is projected
    once, as ``prev``, and kept for callers that label transitions: a
    ``lag`` written into each comparison is evaluated once per use."""
    changed = F.col(prev).isNull() | (F.col(state) != F.col(prev))
    return df.withColumn(prev, F.lag(state).over(w)).withColumn(
        group, F.sum(changed.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def dedupe_keep_first(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Deterministic keep-first dedupe via row_number over a total order
    (reference backtest/adapters.py:178-180 sort+unique keep-first)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_group(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Latest row per group: row_number over descending order == 1
    (reference bronze/symbol_master.py:130-169 max-by-ts Python loop)."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
