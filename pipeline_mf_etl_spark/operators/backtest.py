"""The backtest rules shared by the ``run`` pipeline and the b/v/st
query families: the B2 state map, the B5 transition entry signal, the
B4 execution-realism gates and the B6 per-series trade simulation.
Each rule is defined here once; the DuckDB oracles read the same state
map text (``STATE_MAP_SQL``).

Trade simulation (SURVEY.md §2.9 B6).

The reference's backtest engine (backtest/engine.py:106-292) is an
inherently sequential per-ticker event loop: a pending entry fills at
the NEXT bar's price, one position per series (no overlap), exits on a
fixed horizon with a last-bar END_OF_DATA fallback, MFE/MAE tracked
while holding, and symmetric two-sided costs.

Spark-first shape: the loop is unavoidable WITHIN a series, so it runs
as a ``series_fold`` (operators/windows.py), inside the plan: an
``aggregate`` over each series' bar indices replays the reference's
``while`` loop, and a ``transform`` prices the trades it opened;
tests/test_series_fold.py holds that loop in NumPy as the reference the
fold must match bit for bit. Parallel across series; at 100 TB the
series count is the scaling axis (millions of keys shuffle-partitioned
once), and nothing touches the driver.

Simulation contract (deterministic, documented for the oracle/tests):
- bars are in series order ((ts, event_id), NULL ts last); bar index i
  is 0-based.
- a signal at bar s (while flat) fills at bar e = s+1 at ``value[e]``;
  a signal on the last bar is dropped (no next open).
- exit fills at bar x = e + hold_bars (reason HORIZON); if that runs
  past the end, at the last bar (reason END_OF_DATA).
- the series is flat again ON the exit bar: a signal at bar >= x can
  start the next trade (entry at x+1). Signals while pending/holding
  are ignored.
- gross = side * (exit/entry - 1); net = gross - 2*(fee+slip)/1e4;
  MFE/MAE = max/min of side*(value/entry - 1) over bars e..x.
- ``entry == 0``: gross, net, MFE and MAE are NULL. A NULL value prices
  as NaN (and a NaN anywhere in e..x makes MFE and MAE NaN); a NULL
  signal is no signal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.config import Settings
from pipeline_mf_etl_spark.operators.windows import (
    rolling_min_samples,
    series_fold,
    series_window,
)

# B2 state mapping (reference backtest/state_mapping.py:54-118): event
# type -> (trade side, signal eligibility); unmapped types are side 0
# and not eligible.
STATE_MAP = (
    ("purchase", 1, True),
    ("error", -1, True),
    ("click", 0, False),
    ("view", 0, False),
    ("signup", 0, False),
)
# SQL inline table, read by the Spark frame and the DuckDB oracles alike
STATE_MAP_SQL = "(VALUES " + ", ".join(
    f"('{t}', {s}, {str(e).upper()})" for t, s, e in STATE_MAP
) + ") AS m(event_type, side, eligible)"


def state_map_frame(spark: SparkSession) -> DataFrame:
    """The state map as a frame. It plans as one ``LocalTableScan``, so
    a join with it starts no Python stage of its own."""
    return spark.sql("SELECT * FROM " + STATE_MAP_SQL)


def with_state_map(df: DataFrame, upper: bool = False) -> DataFrame:
    """B2: broadcast left join of the state map on ``event_type``,
    adding ``side`` (0 when unmapped) and ``eligible`` (false when
    unmapped). ``upper`` matches upper-cased event types."""
    m = state_map_frame(df.sparkSession)
    if upper:
        m = m.withColumn("event_type", F.upper("event_type"))
    return df.join(F.broadcast(m), "event_type", "left").withColumns(
        {"side": F.coalesce("side", F.lit(0)), "eligible": F.coalesce("eligible", F.lit(False))}
    )


def with_entry_signal(df: DataFrame, w: WindowSpec) -> DataFrame:
    """B5 state_transition_entry (reference backtest/signals.py:20-242):
    append ``signal``, true on an eligible bar whose ``event_type``
    differs from the previous bar's in window ``w`` (or that opens its
    series). The previous event type is projected once and read by both
    comparisons."""
    prev = F.col("__prev_event_type")
    signal = F.col("eligible") & (prev.isNull() | (F.col("event_type") != prev))
    return (
        df.withColumn("__prev_event_type", F.lag("event_type").over(w))
        .withColumn("signal", signal)
        .drop("__prev_event_type")
    )


def b4_gate_columns(df: DataFrame, s: Settings) -> DataFrame:
    """Append the B4 realism gate columns (reference backtest/
    execution_realism.py:208-559) to a per-bar frame carrying (user_id,
    ts, event_id, value, dollar_vol): the three fail flags, the fixed-
    precedence ``primary_reason`` (PRICE_FLOOR, then WARMUP, then
    DOLLAR_VOL; NULL when every gate passes) and ``exec_eligible``.
    Every window partitions on the series key, so a caller whose frame
    already windows on user_id pays no extra shuffle; composing the
    gates into that pass avoids joining two per-bar frames on event_id,
    which would shuffle the full bar table twice."""
    r = s.realism
    w = series_window()
    df = df.withColumn(
        "history_bars", F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    med = rolling_min_samples(
        F.expr("percentile(dollar_vol, 0.5)"),
        F.col("dollar_vol"),
        w,
        r.dollar_vol_window,
    )
    df = df.withColumn("dv_med_20", med)
    price_fail = F.col("value") < r.price_floor
    warm_fail = F.col("history_bars") < r.warmup_bars
    dv_fail = F.coalesce(F.col("dv_med_20") < r.dollar_vol_floor, F.lit(False))
    reason = (
        F.when(price_fail, "PRICE_FLOOR")
        .when(warm_fail, "WARMUP")
        .when(dv_fail, "DOLLAR_VOL")
    )
    return df.withColumns(
        {
            "price_floor_fail": price_fail,
            "warmup_fail": warm_fail,
            "dollar_vol_fail": dv_fail,
            "primary_reason": reason,
            "exec_eligible": ~(price_fail | warm_fail | dv_fail),
        }
    )


TRADE_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("position_id", IntegerType(), False),
        StructField("side", IntegerType(), False),
        StructField("entry_event_id", LongType(), False),
        StructField("exit_event_id", LongType(), False),
        StructField("entry_value", DoubleType(), False),
        StructField("exit_value", DoubleType(), False),
        StructField("bars_held", IntegerType(), False),
        StructField("gross_return", DoubleType(), True),
        StructField("net_return", DoubleType(), True),
        StructField("mfe", DoubleType(), True),
        StructField("mae", DoubleType(), True),
        StructField("exit_reason", StringType(), False),
    ]
)


def simulate_trades(
    bars: DataFrame,
    hold_bars: int = 5,
    fee_bps: float = 5.0,
    slippage_bps: float = 5.0,
) -> DataFrame:
    """Run the next-open / non-overlapping trade simulation per series.

    ``bars`` needs columns: user_id, ts, event_id, value, signal (bool),
    side (int, +1/-1). Returns one row per closed trade (TRADE_SCHEMA).

    One ``series_fold``: an ``aggregate`` over bar indices 0..n-1
    carries the next bar at which the series is flat and the signal
    bars that opened a trade; a ``transform`` over those prices each
    trade, with MFE/MAE from ``array_max``/``array_min`` over the held
    bars' ``slice``. As in the reference loop, a NULL value prices as
    NaN and a NULL signal is no signal."""
    cost = 2.0 * (fee_bps + slippage_bps) / 1e4

    def trades(rows: Column) -> Column:
        last = F.size(rows) - 1

        def take(acc: Column, i: Column) -> Column:
            opens = (i < last) & (i >= acc["free"]) & rows[i]["signal"]
            return F.when(
                opens,
                F.struct(
                    F.least(i + 1 + hold_bars, last).alias("free"),
                    F.concat(acc["starts"], F.array(i)).alias("starts"),
                ),
            ).otherwise(acc)

        zero = F.struct(F.lit(0).alias("free"), F.array().cast("array<int>").alias("starts"))
        starts = F.aggregate(F.sequence(F.lit(0), last), zero, take, lambda acc: acc["starts"])

        def trade(s: Column, k: Column) -> Column:
            e = s + 1
            x = F.least(e + hold_bars, last)
            side = rows[s]["side"]
            entry = rows[e]["value"]
            exit_v = rows[x]["value"]
            priced = entry != 0
            gross = F.when(priced, side * (exit_v / entry - 1.0))
            held = F.transform(
                F.slice(rows, e + 1, x - e + 1), lambda r: side * (r["value"] / entry - 1.0)
            )
            # array_max ranks NaN highest, so a NaN excursion shows here;
            # numpy's min would return it too, array_min skips it
            mfe = F.array_max(held)
            mae = F.when(F.isnan(mfe), mfe).otherwise(F.array_min(held))
            reason = F.when(e + hold_bars > last, "END_OF_DATA").otherwise("HORIZON")
            return F.struct(
                (k + 1).alias("position_id"),
                side.alias("side"),
                rows[e]["event_id"].alias("entry_event_id"),
                rows[x]["event_id"].alias("exit_event_id"),
                entry.alias("entry_value"),
                exit_v.alias("exit_value"),
                (x - e).alias("bars_held"),
                gross.alias("gross_return"),
                (gross - cost).alias("net_return"),
                F.when(priced, mfe).alias("mfe"),
                F.when(priced, mae).alias("mae"),
                reason.alias("exit_reason"),
            )

        return F.transform(starts, trade)

    bars = bars.select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(F.col("value").cast("double"), F.lit(float("nan"))).alias("value"),
        F.coalesce("signal", F.lit(False)).alias("signal"),
        "side",
    )
    out = series_fold(bars, trades, TRADE_SCHEMA.fieldNames())
    return out.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in TRADE_SCHEMA.fields])
