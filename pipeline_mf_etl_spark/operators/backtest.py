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
in a ``series_island`` (operators/windows.py): one pandas frame per
island partition holding whole series in series order, NumPy slices
per series inside, parallel across partitions. At 100 TB the series
count is the scaling axis (millions of keys shuffle-partitioned once);
the per-series loop stays O(series length) and never touches the
driver.

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
"""

from __future__ import annotations

import pandas as pd

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
    series_island,
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


def entry_signal(w: WindowSpec) -> Column:
    """B5 state_transition_entry (reference backtest/signals.py:20-242):
    an eligible bar whose ``event_type`` differs from the previous bar's
    in window ``w`` (or that opens its series) raises an entry signal."""
    prev = F.lag("event_type").over(w)
    return F.col("eligible") & (prev.isNull() | (F.col("event_type") != prev))


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
    """
    cost = 2.0 * (fee_bps + slippage_bps) / 1e4

    def sim_series(uid, vals, sigs, sides, eids, out: list) -> None:
        n = len(vals)
        i = 0
        pos = 0
        while i < n - 1:  # a signal on the last bar has no next open
            if not sigs[i]:
                i += 1
                continue
            e = i + 1
            side = int(sides[i])
            entry = float(vals[e])
            x = e + hold_bars
            reason = "HORIZON"
            if x > n - 1:
                x = n - 1
                reason = "END_OF_DATA"
            exit_v = float(vals[x])
            window = vals[e : x + 1]
            exc = side * (window / entry - 1.0)
            gross = side * (exit_v / entry - 1.0) if entry != 0 else None
            pos += 1
            out.append(
                (
                    uid,
                    pos,
                    side,
                    int(eids[e]),
                    int(eids[x]),
                    entry,
                    exit_v,
                    int(x - e),
                    gross,
                    (gross - cost) if gross is not None else None,
                    float(exc.max()) if entry != 0 else None,
                    float(exc.min()) if entry != 0 else None,
                    reason,
                )
            )
            i = x  # flat again on the exit bar: its signal may re-enter

    def sim(pdf):
        # run the per-series loop over NumPy slices at group boundaries:
        # building a pandas sub-frame per series costs more than the
        # whole sim loop when groups are many and short
        import numpy as np

        uids = pdf["user_id"].to_numpy()
        vals = pdf["value"].to_numpy(dtype=float)
        sigs = pdf["signal"].fillna(False).to_numpy(dtype=bool)
        sides = pdf["side"].to_numpy()
        eids = pdf["event_id"].to_numpy()
        cuts = np.flatnonzero(np.r_[True, uids[1:] != uids[:-1], True])
        out: list = []
        for lo, hi in zip(cuts[:-1], cuts[1:]):
            sim_series(
                int(uids[lo]), vals[lo:hi], sigs[lo:hi], sides[lo:hi], eids[lo:hi], out
            )
        return pd.DataFrame(out, columns=[f.name for f in TRADE_SCHEMA.fields])

    return series_island(bars, sim, TRADE_SCHEMA)
