"""Backtest operator family (SURVEY.md §2.9 B1-B8) over the events series.

The reference chains adapter → state mapping → execution realism →
signals → trade simulation → metrics → equity curve
(backtest/pipeline.py:165-860). Stages B1-B5/B7/B8 are pure column/join
algebra (Catalyst-friendly, broadcast joins for the tiny mapping
tables); only the trade loop B6 is sequential per series and runs as
a ``series_fold`` (operators/backtest.py).

events → bars mapping: user_id = ticker, value = price, props.$.k =
volume proxy, event_type = state label (purchase→long, error→short).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.config import Settings, load_settings
from pipeline_mf_etl_spark.functions.core import safe_div
from pipeline_mf_etl_spark.operators.backtest import (
    STATE_MAP_SQL,
    b4_gate_columns,
    simulate_trades,
    with_entry_signal,
    with_state_map,
)
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import series_window
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table


# Knobs come from the settings layer (config.py); defaults reproduce the
# reference's semantics. b4/b14 are full builders — pass a custom
# Settings to get a (frame, oracle) pair at any knob value.
_S = load_settings()

_HOLD = _S.backtest.hold_bars
_COST = _S.backtest.round_trip_cost  # two-sided fee+slippage fraction


def _mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B2: adapter + broadcast state-mapping join."""
    return with_state_map(load_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "user_id", "event_type", "value", "side", "eligible"
    )


def _with_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 state_transition_entry signals over the mapped bars."""
    return with_entry_signal(_mapped(spark, sf_dir), series_window())


# SQL twin of _with_signals, shared by the b5/b7/b8 oracles.
_SIGNALS_CTE = f"""
    mapped AS (
        SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
               COALESCE(m.side, 0) AS side,
               COALESCE(m.eligible, FALSE) AS eligible
        FROM events e LEFT JOIN {STATE_MAP_SQL} USING (event_type)
    ), signals AS (
        SELECT *,
               eligible AND (LAG(event_type) OVER ({_W}) IS NULL
                             OR event_type <> LAG(event_type) OVER ({_W})) AS signal
        FROM mapped
    )
"""


# ---------------------------------------------------------------------------
# B1/B2: adapter + state mapping (reference backtest/adapters.py:128-260,
# state_mapping.py:54-118)
# ---------------------------------------------------------------------------
@query(
    "b2_state_eligibility",
    oracle=f"""
    SELECT e.event_id, e.user_id, e.event_type,
           COALESCE(m.side, 0) AS side,
           COALESCE(m.eligible, FALSE) AS signal_eligible
    FROM events e LEFT JOIN {STATE_MAP_SQL} USING (event_type)
    """,
)
def b2_state_eligibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State→direction mapping via broadcast left join + coalesce defaults."""
    df = _mapped(spark, sf_dir)
    return df.select(
        "event_id", "user_id", "event_type", "side", F.col("eligible").alias("signal_eligible")
    )


# ---------------------------------------------------------------------------
# B4: execution realism filter (reference backtest/execution_realism.py:208-559)
# ---------------------------------------------------------------------------
def b4_fail_predicates(s: Settings) -> tuple[str, str, str]:
    """The three execution-gate predicates over the ``rolled`` CTE —
    single-sourced so b4's oracle and the viewer marker oracle (v2)
    cannot drift apart on gate semantics."""
    r = s.realism
    return (
        f"value < {r.price_floor!r}",
        f"history_bars < {r.warmup_bars}",
        f"COALESCE(dv_med_20 < {r.dollar_vol_floor!r}, FALSE)",
    )


def b4_gate_ctes(s: Settings) -> str:
    """CTE list text (no WITH) defining ``bars`` → ``rolled`` with the
    rolling dollar-volume median and history counter the gates read."""
    r = s.realism
    return f"""
    exec_bars AS (
        SELECT event_id, user_id, ts, value,
               value * CAST(json_extract(props, '$.k') AS DOUBLE) AS dollar_vol,
               COUNT(*) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS history_bars
        FROM events
    ), rolled AS (
        SELECT *,
               CASE WHEN COUNT(dollar_vol) OVER w20 >= {r.dollar_vol_window}
                    THEN QUANTILE_CONT(dollar_vol, 0.5) OVER w20 END AS dv_med_20
        FROM exec_bars
        WINDOW w20 AS ({_W} ROWS BETWEEN {r.dollar_vol_window - 1} PRECEDING
                       AND CURRENT ROW)
    )"""


def b4_reason_case(s: Settings) -> str:
    """Fixed-precedence primary-reason CASE over the gate predicates."""
    fails = b4_fail_predicates(s)
    return f"""CASE WHEN {fails[0]} THEN 'PRICE_FLOOR'
                WHEN {fails[1]} THEN 'WARMUP'
                WHEN {fails[2]} THEN 'DOLLAR_VOL'
                END"""


def b4_oracle(s: Settings) -> str:
    """DuckDB twin of :func:`b4_frame`, generated from the same knobs."""
    fails = b4_fail_predicates(s)
    return f"""
    WITH {b4_gate_ctes(s)}
    SELECT event_id, user_id,
           {fails[0]} AS price_floor_fail,
           {fails[1]} AS warmup_fail,
           {fails[2]} AS dollar_vol_fail,
           {b4_reason_case(s)} AS primary_reason,
           NOT ({fails[0]} OR {fails[1]} OR {fails[2]}) AS exec_eligible
    FROM rolled
    """


def b4_frame(spark: SparkSession, sf_dir: str, s: Settings) -> DataFrame:
    """B4 realism gates at the given settings: price floor + rolling
    dollar-volume median floor + warmup, fixed-precedence reason."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value") * F.get_json_object("props", "$.k").cast("double")
    df = ev.select("event_id", "user_id", "ts", "value", dv.alias("dollar_vol"))
    return b4_gate_columns(df, s).select(
        "event_id",
        "user_id",
        "price_floor_fail",
        "warmup_fail",
        "dollar_vol_fail",
        "primary_reason",
        "exec_eligible",
    )


@query("b4_execution_realism", oracle=b4_oracle(_S))
def b4_execution_realism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price floor + rolling dollar-volume median floor + warmup gate,
    with fixed-precedence primary fail reason (knobs from settings)."""
    return b4_frame(spark, sf_dir, _S)


# ---------------------------------------------------------------------------
# B5: signal generation, state_transition_entry mode
# (reference backtest/signals.py:20-242)
# ---------------------------------------------------------------------------
@query(
    "b5_signals",
    oracle=f"""
    WITH {_SIGNALS_CTE}
    SELECT event_id, user_id, signal AS entry_signal,
           CASE WHEN signal THEN side ELSE 0 END AS entry_side
    FROM signals
    """,
)
def b5_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry signals on eligible state transitions (per-series lag window —
    the reference's per-ticker Python loop collapses into one pass)."""
    df = _with_signals(spark, sf_dir)
    return df.select(
        "event_id",
        "user_id",
        F.col("signal").alias("entry_signal"),
        F.when(F.col("signal"), F.col("side")).otherwise(F.lit(0)).alias("entry_side"),
    )


# ---------------------------------------------------------------------------
# B6: next-open non-overlapping trade simulation (a series_fold).
# The greedy non-overlap loop IS oracle-expressible as a recursive CTE:
# `next_sig(idx)` = first eligible signal at-or-after each bar (a reverse
# running-min window, computed ONCE, non-recursively), which turns the
# greedy chain into a pure function iteration s -> next_sig(exit(s)) —
# the recursive term needs only equi-joins, no aggregates (which
# recursive CTEs disallow). tests/test_backtest.py keeps the sequential
# invariant properties as an independent second check.
# ---------------------------------------------------------------------------
@query(
    "b6_trade_sim",
    oracle=f"""
    WITH RECURSIVE {_SIGNALS_CTE}, bars AS (
        SELECT user_id, event_id, value, side, signal,
               CAST(ROW_NUMBER() OVER ({_W}) - 1 AS BIGINT) AS idx,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM signals
    ), nxt AS (
        -- first actionable signal at-or-after each bar (signals on the
        -- last bar have no next open and are never actionable)
        SELECT user_id, idx,
               MIN(CASE WHEN signal AND idx <= n - 2 THEN idx END)
                   OVER (PARTITION BY user_id ORDER BY idx DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS next_sig
        FROM bars
    ), chain AS (
        SELECT user_id, 1 AS position_id, next_sig AS s
        FROM nxt WHERE idx = 0 AND next_sig IS NOT NULL
        UNION ALL
        -- flat again ON the exit bar: resume the signal search there
        SELECT c.user_id, c.position_id + 1, n2.next_sig AS s
        FROM chain c
        JOIN bars bs ON bs.user_id = c.user_id AND bs.idx = c.s
        JOIN nxt n2 ON n2.user_id = c.user_id
                   AND n2.idx = LEAST(c.s + 1 + {_HOLD}, bs.n - 1)
        WHERE n2.next_sig IS NOT NULL
    ), trades AS (
        SELECT c.user_id, c.position_id, bs.side,
               c.s + 1 AS e_idx,
               LEAST(c.s + 1 + {_HOLD}, bs.n - 1) AS x_idx,
               CASE WHEN c.s + 1 + {_HOLD} > bs.n - 1
                    THEN 'END_OF_DATA' ELSE 'HORIZON' END AS exit_reason
        FROM chain c JOIN bars bs ON bs.user_id = c.user_id AND bs.idx = c.s
    ), priced AS (
        SELECT t.*, be.event_id AS entry_event_id, be.value AS entry_value,
               bx.event_id AS exit_event_id, bx.value AS exit_value
        FROM trades t
        JOIN bars be ON be.user_id = t.user_id AND be.idx = t.e_idx
        JOIN bars bx ON bx.user_id = t.user_id AND bx.idx = t.x_idx
    ), excursion AS (
        SELECT p.user_id, p.position_id,
               MAX(p.side * (b.value / p.entry_value - 1)) AS mfe,
               MIN(p.side * (b.value / p.entry_value - 1)) AS mae
        FROM priced p
        JOIN bars b ON b.user_id = p.user_id
                   AND b.idx BETWEEN p.e_idx AND p.x_idx
        WHERE p.entry_value <> 0
        GROUP BY p.user_id, p.position_id
    )
    SELECT p.user_id,
           CAST(p.position_id AS INTEGER) AS position_id,
           CAST(p.side AS INTEGER) AS side,
           p.entry_event_id, p.exit_event_id,
           ROUND(p.entry_value, 6) AS entry_value,
           ROUND(p.exit_value, 6) AS exit_value,
           CAST(p.x_idx - p.e_idx AS INTEGER) AS bars_held,
           -- + 0 normalizes IEEE -0.0 (DuckDB ROUND keeps the sign,
           -- Spark's BigDecimal round does not)
           CASE WHEN p.entry_value <> 0
                THEN ROUND(p.side * (p.exit_value / p.entry_value - 1), 6) + 0
           END AS gross_return,
           CASE WHEN p.entry_value <> 0
                THEN ROUND(p.side * (p.exit_value / p.entry_value - 1) - {_COST!r}, 6) + 0
           END AS net_return,
           ROUND(x.mfe, 6) + 0 AS mfe,
           ROUND(x.mae, 6) + 0 AS mae,
           p.exit_reason
    FROM priced p LEFT JOIN excursion x USING (user_id, position_id)
    """,
)
def b6_trade_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trade loop: next-open fills, one position per series,
    horizon exit with END_OF_DATA fallback, MFE/MAE, two-sided costs."""
    bars = _with_signals(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "signal", "side"
    )
    trades = simulate_trades(
        bars,
        hold_bars=_HOLD,
        fee_bps=_S.backtest.fee_bps_per_side,
        slippage_bps=_S.backtest.slippage_bps_per_side,
    )
    return trades.select(
        "user_id",
        "position_id",
        "side",
        "entry_event_id",
        "exit_event_id",
        F.round("entry_value", 6).alias("entry_value"),
        F.round("exit_value", 6).alias("exit_value"),
        "bars_held",
        F.round("gross_return", 6).alias("gross_return"),
        F.round("net_return", 6).alias("net_return"),
        F.round("mfe", 6).alias("mfe"),
        F.round("mae", 6).alias("mae"),
        "exit_reason",
    )


# SQL-expressible trade set for B7/B8: every signal fills at the next bar
# and exits exactly hold_bars later (overlap allowed, truncated trades
# dropped) — pure lead() windows, so both engines agree exactly.
_TRADES_CTE = f"""
    {_SIGNALS_CTE}, led AS (
        -- leads are computed over ALL bars (entry/exit prices live on
        -- non-signal rows), THEN the frame is filtered to signal rows.
        SELECT event_id, user_id, side, signal,
               LEAD(value, 1) OVER ({_W}) AS entry_value,
               LEAD(value, {1 + _HOLD}) OVER ({_W}) AS exit_value,
               LEAD(ts, {1 + _HOLD}) OVER ({_W}) AS exit_ts
        FROM signals
    ), trades AS (
        SELECT event_id, user_id, side, entry_value, exit_value, exit_ts
        FROM led
        WHERE signal AND exit_value IS NOT NULL AND ABS(entry_value) > 1e-12
    ), rets AS (
        SELECT event_id, user_id, side, exit_ts,
               side * (exit_value / entry_value - 1) AS gross,
               side * (exit_value / entry_value - 1) - {_COST!r} AS net
        FROM trades
    )
"""


def _fixed_horizon_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _with_signals(spark, sf_dir)
    w = series_window()
    sig = df.select(
        "event_id",
        "ts",
        "user_id",
        "side",
        "signal",
        F.lead("value", 1).over(w).alias("entry_value"),
        F.lead("value", 1 + _HOLD).over(w).alias("exit_value"),
        F.lead("ts", 1 + _HOLD).over(w).alias("exit_ts"),
    ).filter("signal")
    sig = sig.filter(
        F.col("exit_value").isNotNull() & (F.abs(F.col("entry_value")) > 1e-12)
    )
    gross = F.col("side") * (F.col("exit_value") / F.col("entry_value") - 1)
    return sig.select(
        "event_id",
        "user_id",
        "side",
        "exit_ts",
        gross.alias("gross"),
        (gross - _COST).alias("net"),
    )


# NOTE: the fixed-horizon lead() trade set is computed on ALL rows first
# (window over the full series), then filtered to signal rows — the
# QUALIFY in the oracle does the same. Window-before-filter is required:
# lead() must see non-signal bars.


# ---------------------------------------------------------------------------
# B7/A10: trade summary metrics (reference backtest/metrics.py:26-153)
# ---------------------------------------------------------------------------
@query(
    "b7_trade_metrics",
    oracle=f"""
    WITH {_TRADES_CTE}
    SELECT side,
           COUNT(*) AS n_trades,
           ROUND(AVG(CASE WHEN net > 0 THEN 1.0 ELSE 0.0 END), 6) AS win_rate,
           ROUND(AVG(CASE WHEN net > 0 THEN net END), 6) AS avg_win,
           ROUND(AVG(CASE WHEN net <= 0 THEN net END), 6) AS avg_loss,
           ROUND(CASE WHEN ABS(SUM(CASE WHEN net <= 0 THEN net ELSE 0 END)) > 1e-12
                 THEN SUM(CASE WHEN net > 0 THEN net ELSE 0 END)
                      / ABS(SUM(CASE WHEN net <= 0 THEN net ELSE 0 END)) END, 6)
               AS profit_factor,
           ROUND(AVG(net), 6) AS expectancy,
           ROUND(STDDEV_POP(net), 6) AS net_std
    FROM rets
    GROUP BY side
    """,
)
def b7_trade_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-side trade summary: win rate, PF, expectancy over the
    fixed-horizon trade set (conditional aggregates A2/A10)."""
    t = _fixed_horizon_trades(spark, sf_dir)
    net = F.col("net")
    wins = F.sum(F.when(net > 0, net).otherwise(0.0))
    losses = F.sum(F.when(net <= 0, net).otherwise(0.0))
    return t.groupBy("side").agg(
        F.count("*").alias("n_trades"),
        F.round(F.avg((net > 0).cast("double")), 6).alias("win_rate"),
        F.round(F.avg(F.when(net > 0, net)), 6).alias("avg_win"),
        F.round(F.avg(F.when(net <= 0, net)), 6).alias("avg_loss"),
        F.round(safe_div(wins, F.abs(losses)), 6).alias("profit_factor"),
        F.round(F.avg(net), 6).alias("expectancy"),
        F.round(F.stddev_pop(net), 6).alias("net_std"),
    )


# ---------------------------------------------------------------------------
# B8: equity curve + drawdown (reference backtest/portfolio.py:33-112)
# ---------------------------------------------------------------------------
# daily mean-return curve shared by the b8 and b15 oracles (appended
# after _TRADES_CTE): ruin floor at -99% because short losses are
# unbounded and log1p needs 1+r > 0 on both engines.
_EQUITY_CTE = """
    daily AS (
        SELECT CAST(exit_ts AS DATE) AS exit_day,
               GREATEST(AVG(net), -0.99) AS day_ret
        FROM rets GROUP BY 1
    ), curve AS (
        SELECT exit_day, day_ret,
               EXP(SUM(LN(1 + day_ret)) OVER (
                   ORDER BY exit_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS equity
        FROM daily
    )
"""


def _equity_curve_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_EQUITY_CTE``: (exit_day, day_ret, equity) with
    UNROUNDED values — b8 rounds for display, b15 aggregates first."""
    t = _fixed_horizon_trades(spark, sf_dir)
    daily = t.groupBy(F.col("exit_ts").cast("date").alias("exit_day")).agg(
        F.greatest(F.avg("net"), F.lit(-0.99)).alias("day_ret")
    )
    wc = Window.orderBy("exit_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("equity", F.exp(F.sum(F.log1p("day_ret")).over(wc)))


@query(
    "b8_equity_curve",
    oracle=f"""
    WITH {_TRADES_CTE}, {_EQUITY_CTE}
    SELECT exit_day, ROUND(day_ret, 6) AS day_ret, ROUND(equity, 6) AS equity,
           ROUND(equity / MAX(equity) OVER (
               ORDER BY exit_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS drawdown
    FROM curve
    """,
)
def b8_equity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean net return → compounded equity → drawdown vs running
    peak (cumulative windows; log-sum compounding keeps it a window
    expression instead of a driver loop)."""
    curve = _equity_curve_frame(spark, sf_dir)
    wc = Window.orderBy("exit_day").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "exit_day",
        F.round("day_ret", 6).alias("day_ret"),
        F.round("equity", 6).alias("equity"),
        F.round(F.col("equity") / F.max("equity").over(wc) - 1, 6).alias("drawdown"),
    )


# ---------------------------------------------------------------------------
# B15: portfolio summary over the equity curve
# (reference backtest/portfolio.py:85-112: cumulative return, max
# drawdown + longest underwater run, daily vol, Sharpe proxy ·√252,
# CAGR proxy on a 365.25-day year)
# ---------------------------------------------------------------------------
@query(
    "b15_equity_summary",
    oracle=f"""
    WITH {_TRADES_CTE}, {_EQUITY_CTE}, dd AS (
        SELECT exit_day, day_ret, equity,
               ROUND(equity / MAX(equity) OVER (
                   ORDER BY exit_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6)
                   AS drawdown,
               ROW_NUMBER() OVER (ORDER BY exit_day) AS rn
        FROM curve
    ), runs AS (
        -- gaps-and-islands on the ROUNDED drawdown: longest run of
        -- underwater days (reference _max_drawdown_days)
        SELECT (drawdown < 0) AS under,
               rn - ROW_NUMBER() OVER (PARTITION BY (drawdown < 0)
                                       ORDER BY rn) AS grp
        FROM dd
    ), ddd AS (
        SELECT COALESCE(MAX(cnt), 0) AS max_dd_days
        FROM (SELECT COUNT(*) AS cnt FROM runs WHERE under GROUP BY grp)
    ), agg AS (
        SELECT COUNT(*) AS n_days,
               MIN(exit_day) AS d0, MAX(exit_day) AS d1,
               EXP(SUM(LN(1 + day_ret))) AS equity_end,
               ROUND(MIN(drawdown), 6) AS max_drawdown,
               STDDEV_POP(day_ret) AS vol_raw,
               AVG(day_ret) AS mean_raw
        FROM dd
    )
    SELECT CAST(a.n_days AS BIGINT) AS n_days,
           ROUND(a.equity_end - 1, 6) + 0 AS cumulative_return,
           a.max_drawdown + 0 AS max_drawdown,
           CAST(d.max_dd_days AS BIGINT) AS max_drawdown_days,
           ROUND(a.vol_raw, 6) AS daily_vol,
           CASE WHEN a.n_days > 1 AND ROUND(a.vol_raw, 6) > 0
                THEN ROUND(a.mean_raw / a.vol_raw * SQRT(252.0), 6) + 0
           END AS sharpe_proxy,
           CASE WHEN a.n_days > 1
                THEN ROUND(POWER(a.equity_end,
                                 365.25 / GREATEST(DATEDIFF('day', a.d0, a.d1), 1))
                           - 1, 6) + 0
           END AS cagr_proxy
    FROM agg a CROSS JOIN ddd d
    """,
)
def b15_equity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row portfolio summary of the B8 curve: cumulative return,
    max drawdown, LONGEST underwater run in days (gaps-and-islands over
    the rounded drawdown), population daily vol, Sharpe proxy
    (mean/vol·√252, guarded like the reference), and a CAGR proxy
    annualized on 365.25 days over the curve's date span."""
    curve = _equity_curve_frame(spark, sf_dir)
    wc = Window.orderBy("exit_day").rowsBetween(Window.unboundedPreceding, 0)
    dd = curve.withColumns(
        {
            "drawdown": F.round(F.col("equity") / F.max("equity").over(wc) - 1, 6),
            "rn": F.row_number().over(Window.orderBy("exit_day")),
        }
    )
    under = F.col("drawdown") < 0
    # run length attached per-row (count over the island) so ONE final
    # aggregate covers both the summary stats and the longest underwater
    # run — a separate max-run branch would re-execute the whole
    # uncached trade/equity lineage a second time
    runs = dd.withColumns(
        {
            "under": under,
            "grp": F.col("rn")
            - F.row_number().over(Window.partitionBy(under).orderBy("rn")),
        }
    ).withColumn("run_len", F.count("*").over(Window.partitionBy("under", "grp")))
    agg = runs.agg(
        F.count("*").alias("n_days"),
        F.min("exit_day").alias("d0"),
        F.max("exit_day").alias("d1"),
        F.exp(F.sum(F.log1p("day_ret"))).alias("equity_end"),
        F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        F.stddev_pop("day_ret").alias("vol_raw"),
        F.avg("day_ret").alias("mean_raw"),
        F.coalesce(
            F.max(F.when(F.col("under"), F.col("run_len"))), F.lit(0)
        ).alias("max_dd_days"),
    )
    vol_r = F.round(F.col("vol_raw"), 6)
    years_inv = 365.25 / F.greatest(F.datediff("d1", "d0"), F.lit(1))
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("equity_end") - 1, 6).alias("cumulative_return"),
        "max_drawdown",
        F.col("max_dd_days").cast("long").alias("max_drawdown_days"),
        vol_r.alias("daily_vol"),
        F.when(
            (F.col("n_days") > 1) & (vol_r > 0),
            F.round(F.col("mean_raw") / F.col("vol_raw") * F.sqrt(F.lit(252.0)), 6),
        ).alias("sharpe_proxy"),
        F.when(
            F.col("n_days") > 1,
            F.round(F.pow(F.col("equity_end"), years_inv) - 1, 6),
        ).alias("cagr_proxy"),
    )


# ---------------------------------------------------------------------------
# B10/B11: sensitivity grid + robustness scoring
# (reference backtest/sensitivity_runner.py:494-930 runs one backtest per
# combo in a driver loop; here ALL combos price in one pass — the leads
# are computed once, the tiny parameter grid cross-joins in, and a single
# groupBy aggregates every combo. B11's rank-normalized robustness score
# (sensitivity_aggregate.py:67-150) is a percent_rank window on top.)
# ---------------------------------------------------------------------------
_HOLDS = _S.sensitivity.hold_bars
_COSTS = _S.sensitivity.cost_bps
# SQL fragments generated from the settings grid so the oracle always
# mirrors the Spark plan at any knob value.
_HOLD_LEADS = ",\n               ".join(
    f"LEAD(value, {1 + h}) OVER ({_W}) AS exit_{h}" for h in _HOLDS
)
_HOLD_CASE = (
    "CASE h.hold_bars "
    + " ".join(f"WHEN {h} THEN exit_{h}" for h in _HOLDS)
    + " END"
)
_HOLD_VALUES = ", ".join(f"({h})" for h in _HOLDS)
_COST_VALUES = ", ".join(f"({c})" for c in _COSTS)


def _exit_for_hold() -> F.Column:
    """when-chain mapping hold_bars -> its pre-computed exit column."""
    expr = F.when(F.col("hold_bars") == _HOLDS[0], F.col(f"exit_{_HOLDS[0]}"))
    for h in _HOLDS[1:]:
        expr = expr.when(F.col("hold_bars") == h, F.col(f"exit_{h}"))
    return expr


@query(
    "b10_sensitivity_grid",
    oracle=f"""
    WITH {_SIGNALS_CTE}, led AS (
        SELECT event_id, user_id, side, signal,
               LEAD(value, 1) OVER ({_W}) AS entry_value,
               {_HOLD_LEADS}
        FROM signals
    ), trades AS (
        SELECT side, h.hold_bars,
               {_HOLD_CASE} AS exit_value,
               entry_value
        FROM led CROSS JOIN (VALUES {_HOLD_VALUES}) AS h(hold_bars)
        WHERE signal AND ABS(entry_value) > 1e-12
          AND ({_HOLD_CASE}) IS NOT NULL
    ), priced AS (
        SELECT hold_bars, c.cost_bps,
               side * (exit_value / entry_value - 1) - 2.0 * c.cost_bps / 1e4 AS net
        FROM trades CROSS JOIN (VALUES {_COST_VALUES}) AS c(cost_bps)
    ), agg AS (
        SELECT hold_bars, cost_bps,
               COUNT(*) AS n_trades,
               AVG(net) AS expectancy,
               AVG(CASE WHEN net > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
               STDDEV_POP(net) AS net_std,
               QUANTILE_CONT(net, 0.1) AS p10,
               QUANTILE_CONT(net, 0.9) AS p90
        FROM priced GROUP BY hold_bars, cost_bps
    )
    SELECT hold_bars, cost_bps, n_trades,
           ROUND(expectancy, 6) AS expectancy,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(net_std, 6) AS net_std,
           ROUND(p10, 6) AS p10,
           ROUND(p90, 6) AS p90,
           ROUND(100 * (0.5 * PERCENT_RANK() OVER (ORDER BY expectancy)
                      + 0.3 * PERCENT_RANK() OVER (ORDER BY win_rate)
                      + 0.2 * PERCENT_RANK() OVER (
                            ORDER BY CASE WHEN ABS(expectancy) > 1e-12
                                     THEN net_std / ABS(expectancy) END
                            DESC NULLS LAST)), 4) AS robustness_score
    FROM agg
    """,
)
def b10_sensitivity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hold_bars × cost grid priced in ONE pass (leads computed once,
    parameter grid cross-joined in) + B11 rank-normalized robustness."""
    df = _with_signals(spark, sf_dir)
    w = series_window()
    led = df.select(
        "event_id",
        "user_id",
        "side",
        "signal",
        F.lead("value", 1).over(w).alias("entry_value"),
        *[F.lead("value", 1 + h).over(w).alias(f"exit_{h}") for h in _HOLDS],
    )
    holds = spark.createDataFrame([(h,) for h in _HOLDS], "hold_bars int")
    exit_val = _exit_for_hold()
    trades = (
        led.filter(F.col("signal") & (F.abs("entry_value") > 1e-12))
        .crossJoin(F.broadcast(holds))
        .withColumn("exit_value", exit_val)
        .filter(F.col("exit_value").isNotNull())
        .select("side", "hold_bars", "entry_value", "exit_value")
    )
    costs = spark.createDataFrame([(c,) for c in _COSTS], "cost_bps int")
    net = (
        F.col("side") * (F.col("exit_value") / F.col("entry_value") - 1)
        - 2.0 * F.col("cost_bps") / 1e4
    )
    priced = trades.crossJoin(F.broadcast(costs)).withColumn("net", net)
    agg = priced.groupBy("hold_bars", "cost_bps").agg(
        F.count("*").alias("n_trades"),
        F.avg("net").alias("expectancy"),
        F.avg((F.col("net") > 0).cast("double")).alias("win_rate"),
        F.stddev_pop("net").alias("net_std"),
        F.expr("percentile(net, 0.1)").alias("p10"),
        F.expr("percentile(net, 0.9)").alias("p90"),
    )
    ret_cv = F.when(
        F.abs(F.col("expectancy")) > 1e-12, F.col("net_std") / F.abs(F.col("expectancy"))
    )
    score = 100 * (
        0.5 * F.percent_rank().over(Window.orderBy("expectancy"))
        + 0.3 * F.percent_rank().over(Window.orderBy("win_rate"))
        + 0.2 * F.percent_rank().over(Window.orderBy(ret_cv.desc_nulls_last()))
    )
    return agg.select(
        "hold_bars",
        "cost_bps",
        "n_trades",
        F.round("expectancy", 6).alias("expectancy"),
        F.round("win_rate", 6).alias("win_rate"),
        F.round("net_std", 6).alias("net_std"),
        F.round("p10", 6).alias("p10"),
        F.round("p90", 6).alias("p90"),
        F.round(score, 4).alias("robustness_score"),
    )


# ---------------------------------------------------------------------------
# B14: execution-realism calibration sweep (reference
# backtest/execution_realism_calibration.py — a 1079-line driver module;
# here the whole threshold grid is a broadcast cross-join aggregated in
# one pass over the bar table, no PnL, pure counting).
# ---------------------------------------------------------------------------
def b14_oracle(s: Settings) -> str:
    """DuckDB twin of :func:`b14_frame`, grid generated from settings."""
    c = s.calibration
    p_vals = ", ".join(f"({p!r})" for p in c.price_floors)
    d_vals = ", ".join(f"({d!r})" for d in c.dollar_vol_floors)
    return f"""
    WITH bars AS (
        SELECT value,
               value * CAST(json_extract(props, '$.k') AS DOUBLE) AS dollar_vol
        FROM events
    ), grid AS (
        SELECT p.price_floor, d.dv_floor
        FROM (VALUES {p_vals}) AS p(price_floor)
        CROSS JOIN (VALUES {d_vals}) AS d(dv_floor)
    )
    SELECT CAST(g.price_floor AS DOUBLE) AS price_floor,
           CAST(g.dv_floor AS DOUBLE) AS dv_floor,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN b.value >= g.price_floor
                     AND b.dollar_vol >= g.dv_floor THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible,
           ROUND(AVG(CASE WHEN b.value >= g.price_floor
                           AND b.dollar_vol >= g.dv_floor THEN 1.0 ELSE 0.0 END), 6)
               AS eligibility_rate
    FROM bars b CROSS JOIN grid g
    GROUP BY g.price_floor, g.dv_floor
    """


def b14_frame(spark: SparkSession, sf_dir: str, s: Settings) -> DataFrame:
    """B14 threshold-sweep calibration at the given settings grid."""
    c = s.calibration
    ev = load_table(spark, sf_dir, "events")
    bars = ev.select(
        "value",
        (F.col("value") * F.get_json_object("props", "$.k").cast("double")).alias("dollar_vol"),
    )
    grid = spark.createDataFrame(
        # float() so YAML-sourced integer knobs (e.g. `price_floors: [1, 5]`)
        # satisfy the double schema instead of raising at createDataFrame
        [(float(p), float(d)) for p in c.price_floors for d in c.dollar_vol_floors],
        "price_floor double, dv_floor double",
    )
    joined = bars.crossJoin(F.broadcast(grid))
    elig = (F.col("value") >= F.col("price_floor")) & (
        F.col("dollar_vol") >= F.col("dv_floor")
    )
    return joined.groupBy("price_floor", "dv_floor").agg(
        F.count("*").alias("n_rows"),
        F.sum(elig.cast("long")).alias("n_eligible"),
        F.round(F.avg(elig.cast("double")), 6).alias("eligibility_rate"),
    )


@query("b14_calibration_sweep", oracle=b14_oracle(_S))
def b14_calibration_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep calibration: eligibility counts for every
    (price floor × dollar-vol floor) combo in one grouped pass."""
    return b14_frame(spark, sf_dir, _S)


# ---------------------------------------------------------------------------
# B13: production-candidate selection + rerun drift verdicts (reference
# backtest/production_candidates.py + candidate_rerun.py — deterministic
# sort-based selection, thresholded OK/DRIFT_WARN/DRIFT_FAIL vs a locked
# snapshot; here the "snapshot" is the early-period rerun of the same
# trade set, so selection and drift fold into one grouped pass).
# ---------------------------------------------------------------------------
@query(
    "b13_candidate_drift",
    oracle=f"""
    WITH {_SIGNALS_CTE}, led AS (
        SELECT user_id, side, signal,
               LEAD(value, 1) OVER ({_W}) AS entry_value,
               LEAD(value, {1 + _HOLD}) OVER ({_W}) AS exit_value,
               LEAD(ts, {1 + _HOLD}) OVER ({_W}) AS exit_ts
        FROM signals
    ), trades AS (
        SELECT side, entry_value, exit_value, exit_ts
        FROM led
        WHERE signal AND exit_value IS NOT NULL AND ABS(entry_value) > 1e-12
    ), priced AS (
        SELECT c.cost_bps, exit_ts,
               side * (exit_value / entry_value - 1) - 2.0 * c.cost_bps / 1e4 AS net
        FROM trades CROSS JOIN (VALUES {_COST_VALUES}) AS c(cost_bps)
    ), agg AS (
        SELECT cost_bps,
               COUNT(*) AS n_trades,
               AVG(net) AS full_expectancy,
               AVG(net) FILTER (WHERE CAST(exit_ts AS DATE) < DATE '2024-01-16')
                   AS early_expectancy
        FROM priced GROUP BY cost_bps
    )
    SELECT cost_bps, n_trades,
           ROUND(full_expectancy, 6) AS full_expectancy,
           ROUND(early_expectancy, 6) AS early_expectancy,
           ROUND(full_expectancy - early_expectancy, 6) AS drift,
           CASE WHEN ABS(full_expectancy - early_expectancy) <= 0.002 THEN 'OK'
                WHEN ABS(full_expectancy - early_expectancy) <= 0.005 THEN 'DRIFT_WARN'
                ELSE 'DRIFT_FAIL' END AS drift_verdict,
           CAST(RANK() OVER (ORDER BY full_expectancy DESC, cost_bps) AS INTEGER)
               AS candidate_rank
    FROM agg
    WHERE n_trades >= 50
    """,
)
def b13_candidate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic candidate ranking over the cost grid with early-
    period rerun drift verdicts (OK/DRIFT_WARN/DRIFT_FAIL)."""
    t = _fixed_horizon_trades(spark, sf_dir)
    costs = spark.createDataFrame([(c,) for c in _COSTS], "cost_bps int")
    # rebase the fixed-cost net to each grid cost
    net = F.col("gross") - 2.0 * F.col("cost_bps") / 1e4
    priced = t.crossJoin(F.broadcast(costs)).select(
        "cost_bps", "exit_ts", net.alias("net")
    )
    early = F.when(
        F.col("exit_ts").cast("date") < F.lit("2024-01-16").cast("date"), F.col("net")
    )
    agg = priced.groupBy("cost_bps").agg(
        F.count("*").alias("n_trades"),
        F.avg("net").alias("full_expectancy"),
        F.avg(early).alias("early_expectancy"),
    )
    drift = F.col("full_expectancy") - F.col("early_expectancy")
    verdict = (
        F.when(F.abs(drift) <= 0.002, "OK")
        .when(F.abs(drift) <= 0.005, "DRIFT_WARN")
        .otherwise("DRIFT_FAIL")
    )
    ranked = agg.filter(F.col("n_trades") >= 50).select(
        "cost_bps",
        "n_trades",
        F.round("full_expectancy", 6).alias("full_expectancy"),
        F.round("early_expectancy", 6).alias("early_expectancy"),
        F.round(drift, 6).alias("drift"),
        verdict.alias("drift_verdict"),
        F.rank()
        .over(Window.orderBy(F.desc("full_expectancy"), "cost_bps"))
        .cast("int")
        .alias("candidate_rank"),
    )
    return ranked


# ---------------------------------------------------------------------------
# B3 overlay pass modes: 5 gating modes x 2 unknown-handling policies
# (reference backtest/policy_overlay.py:135-150). Scale shape: ONE scan
# collapses events to per-class counts (<=4 rows), then a broadcast
# cross join with the 10-row mode dimension evaluates every pass rule
# on the tiny table -- no re-scan per mode.
# ---------------------------------------------------------------------------
_B3_CLASS = (
    "CASE user_id % 3 WHEN 0 THEN 'ALLOW' WHEN 1 THEN 'WATCH' ELSE 'BLOCK' END"
)
_B3_MODES_SQL = "(VALUES " + ", ".join(
    f"('{m}', '{u}')"
    for m in ("none", "allow_only", "allow_watch", "allow_or_unknown", "block_veto")
    for u in ("treat_unknown_as_fail", "treat_unknown_as_pass")
) + ") AS md(mode, unknown_handling)"


@query(
    "b3_overlay_pass_modes",
    oracle=f"""
    WITH overlay AS (
        SELECT DISTINCT user_id, {_B3_CLASS} AS cls
        FROM events WHERE user_id % 10 < 8
    ), classed AS (
        SELECT COALESCE(o.cls, 'UNKNOWN') AS cls, COUNT(*) AS cnt
        FROM events e LEFT JOIN overlay o USING (user_id)
        GROUP BY 1
    ), crossed AS (
        SELECT mode, unknown_handling, cnt,
               CASE mode
                 WHEN 'none' THEN TRUE
                 WHEN 'allow_only' THEN cls = 'ALLOW'
                 WHEN 'allow_watch' THEN cls IN ('ALLOW', 'WATCH')
                 WHEN 'allow_or_unknown' THEN CASE
                    WHEN unknown_handling = 'treat_unknown_as_pass'
                    THEN cls IN ('ALLOW', 'UNKNOWN') ELSE cls = 'ALLOW' END
                 ELSE CASE
                    WHEN unknown_handling = 'treat_unknown_as_pass'
                    THEN cls <> 'BLOCK' ELSE cls NOT IN ('BLOCK', 'UNKNOWN') END
               END AS pass
        FROM classed CROSS JOIN {_B3_MODES_SQL}
    )
    SELECT mode, unknown_handling,
           CAST(SUM(CASE WHEN pass THEN cnt ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(cnt) AS BIGINT) AS n_total,
           ROUND(SUM(CASE WHEN pass THEN cnt ELSE 0 END) * 1.0 / SUM(cnt), 6)
               AS pass_rate
    FROM crossed GROUP BY mode, unknown_handling
    """,
)
def b3_overlay_pass_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass-rate matrix of every overlay mode x unknown-handling combo."""
    from pipeline_mf_etl_spark.operators.overlay import (
        OVERLAY_MODES,
        UNKNOWN_HANDLINGS,
        overlay_pass_expr,
    )

    ev = load_table(spark, sf_dir, "events")
    overlay = (
        ev.select("user_id")
        .filter(F.col("user_id") % 10 < 8)
        .distinct()
        .withColumn(
            "cls",
            F.when(F.col("user_id") % 3 == 0, "ALLOW")
            .when(F.col("user_id") % 3 == 1, "WATCH")
            .otherwise("BLOCK"),
        )
    )
    classed = (
        ev.join(F.broadcast(overlay), "user_id", "left")
        .groupBy(F.coalesce("cls", F.lit("UNKNOWN")).alias("cls"))
        .agg(F.count("*").alias("cnt"))
    )
    modes = spark.createDataFrame(
        [(m, u) for m in OVERLAY_MODES for u in UNKNOWN_HANDLINGS],
        "mode string, unknown_handling string",
    )
    # one when-chain dispatching to the shared pass expression per combo
    flag = None
    for m in OVERLAY_MODES:
        for u in UNKNOWN_HANDLINGS:
            cond = (F.col("mode") == m) & (F.col("unknown_handling") == u)
            expr = overlay_pass_expr(F.col("cls"), m, u)
            flag = F.when(cond, expr) if flag is None else flag.when(cond, expr)
    crossed = classed.crossJoin(F.broadcast(modes)).withColumn("pass", flag)
    npass = F.sum(F.when(F.col("pass"), F.col("cnt")).otherwise(F.lit(0)))
    return crossed.groupBy("mode", "unknown_handling").agg(
        npass.alias("n_pass"),
        F.sum("cnt").alias("n_total"),
        F.round(npass / F.sum("cnt"), 6).alias("pass_rate"),
    )


# ---------------------------------------------------------------------------
# B12 walk-forward backtest grid + cross-split winner stability
# (reference backtest/pipeline.py:991-1280, sensitivity_runner.py:1257-1956).
# Scale shape: test windows are DISJOINT, so every trade lands in exactly
# one split -- the whole grid prices in one scan (leads once, grid
# cross-joined on the tiny side), then two window passes over the
# 18-row summary rank winners and count cross-split wins.
# ---------------------------------------------------------------------------
_WF_SPLITS = ("2024-01-08", "2024-01-15", "2024-01-22")
_WF_DAYS = 7
_WF_SPLITS_SQL = "(VALUES " + ", ".join(
    f"(DATE '{d}')" for d in _WF_SPLITS
) + ") AS s(test_start)"
_WF_COSTS = (0, 20)


@query(
    "b12_walkforward_grid",
    oracle=f"""
    WITH {_SIGNALS_CTE}, led AS (
        SELECT ts, side, signal,
               LEAD(value, 1) OVER ({_W}) AS entry_value,
               {_HOLD_LEADS}
        FROM signals
    ), trades AS (
        SELECT s.test_start, h.hold_bars, side, entry_value,
               {_HOLD_CASE} AS exit_value
        FROM led
        JOIN {_WF_SPLITS_SQL}
          ON CAST(led.ts AS DATE) >= s.test_start
         AND CAST(led.ts AS DATE) < s.test_start + INTERVAL {_WF_DAYS} DAY
        CROSS JOIN (VALUES {_HOLD_VALUES}) AS h(hold_bars)
        WHERE signal AND ABS(entry_value) > 1e-12
          AND ({_HOLD_CASE}) IS NOT NULL
    ), agg AS (
        SELECT test_start, hold_bars, c.cost_bps,
               COUNT(*) AS n_trades,
               AVG(side * (exit_value / entry_value - 1) - 2.0 * c.cost_bps / 1e4)
                   AS expectancy,
               AVG(CASE WHEN side * (exit_value / entry_value - 1)
                             - 2.0 * c.cost_bps / 1e4 > 0
                        THEN 1.0 ELSE 0.0 END) AS win_rate
        FROM trades CROSS JOIN (VALUES (0), (20)) AS c(cost_bps)
        GROUP BY test_start, hold_bars, c.cost_bps
    ), ranked AS (
        SELECT *, RANK() OVER (PARTITION BY test_start
                               ORDER BY expectancy DESC, hold_bars, cost_bps)
                      AS split_rank
        FROM agg
    )
    SELECT test_start, hold_bars, cost_bps, n_trades,
           ROUND(expectancy, 6) AS expectancy,
           ROUND(win_rate, 6) AS win_rate,
           CAST(split_rank AS INT) AS split_rank,
           CAST(SUM(CASE WHEN split_rank = 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY hold_bars, cost_bps) AS INT) AS combo_wins
    FROM ranked
    """,
)
def b12_walkforward_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split hold×cost grid with winner rank and cross-split win counts."""
    df = _with_signals(spark, sf_dir)
    w = series_window()
    led = df.select(
        "ts",
        "side",
        "signal",
        F.lead("value", 1).over(w).alias("entry_value"),
        *[F.lead("value", 1 + h).over(w).alias(f"exit_{h}") for h in _HOLDS],
    )
    splits = spark.createDataFrame(
        [(d,) for d in _WF_SPLITS], "test_start string"
    ).select(F.col("test_start").cast("date").alias("test_start"))
    day = F.col("ts").cast("date")
    exit_val = (
        _exit_for_hold()
    )
    holds = spark.createDataFrame([(h,) for h in _HOLDS], "hold_bars int")
    trades = (
        led.filter(F.col("signal") & (F.abs("entry_value") > 1e-12))
        .join(
            F.broadcast(splits),
            (day >= F.col("test_start"))
            & (day < F.date_add("test_start", _WF_DAYS)),
        )
        .crossJoin(F.broadcast(holds))
        .withColumn("exit_value", exit_val)
        .filter(F.col("exit_value").isNotNull())
        .select("test_start", "hold_bars", "side", "entry_value", "exit_value")
    )
    costs = spark.createDataFrame([(c,) for c in _WF_COSTS], "cost_bps int")
    net = (
        F.col("side") * (F.col("exit_value") / F.col("entry_value") - 1)
        - 2.0 * F.col("cost_bps") / 1e4
    )
    agg = (
        trades.crossJoin(F.broadcast(costs))
        .withColumn("net", net)
        .groupBy("test_start", "hold_bars", "cost_bps")
        .agg(
            F.count("*").alias("n_trades"),
            F.avg("net").alias("expectancy"),
            F.avg((F.col("net") > 0).cast("double")).alias("win_rate"),
        )
    )
    ranked = agg.withColumn(
        "split_rank",
        F.rank()
        .over(
            Window.partitionBy("test_start").orderBy(
                F.desc("expectancy"), "hold_bars", "cost_bps"
            )
        )
        .cast("int"),
    )
    wins = (
        F.sum((F.col("split_rank") == 1).cast("int"))
        .over(Window.partitionBy("hold_bars", "cost_bps"))
        .cast("int")
    )
    return ranked.select(
        "test_start",
        "hold_bars",
        "cost_bps",
        "n_trades",
        F.round("expectancy", 6).alias("expectancy"),
        F.round("win_rate", 6).alias("win_rate"),
        "split_rank",
        wins.alias("combo_wins"),
    )


# ---------------------------------------------------------------------------
# B1 input adapter: normalize + state mapping + row_id + keep-first dedupe
# (reference: backtest/adapters.py:128-260 — column normalization, state_id
#  derivation, row_id concat, clean + dedupe P6/W16)
# ---------------------------------------------------------------------------
@query(
    "b1_input_adapter",
    oracle="""
    WITH mapped AS (
        SELECT user_id, event_id, ts, value,
               CAST(ts AS DATE) AS bar_day,
               CASE event_type
                    WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
                    WHEN 'error' THEN 3 WHEN 'signup' THEN 4
                    ELSE 0 END AS state_id
        FROM events
        WHERE value IS NOT NULL AND isfinite(value)
    ), deduped AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, bar_day ORDER BY ts, event_id) AS rn
        FROM mapped
    )
    SELECT CAST(user_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR) AS row_id,
           user_id, state_id,
           CASE WHEN state_id IN (1, 2) THEN 'long'
                WHEN state_id IN (3, 4) THEN 'short'
                ELSE '' END AS side,
           state_id IN (1, 2, 3, 4) AS signal_eligible,
           ROUND(value, 6) AS value
    FROM deduped WHERE rn = 1
    """,
)
def b1_input_adapter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest input adapter: map states, synthesize row_id, clean, dedupe (B1)."""
    ev = load_table(spark, sf_dir, "events")
    finite = (
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    state = (
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "error", 3)
        .when(F.col("event_type") == "signup", 4)
        .otherwise(0)
    )
    mapped = ev.filter(finite).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.col("ts").cast("date").alias("bar_day"),
        state.alias("state_id"),
    )
    wd = series_window("bar_day")
    deduped = mapped.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") == 1)
    return deduped.select(
        F.concat_ws("|", F.col("user_id"), F.col("event_id")).alias("row_id"),
        "user_id",
        "state_id",
        F.when(F.col("state_id").isin(1, 2), "long")
        .when(F.col("state_id").isin(3, 4), "short")
        .otherwise("")
        .alias("side"),
        F.col("state_id").isin(1, 2, 3, 4).alias("signal_eligible"),
        F.round("value", 6).alias("value"),
    )


# ---------------------------------------------------------------------------
# B11 robustness scoring: per-source percent_rank normalization → weighted
# score (reference: backtest/sensitivity_aggregate.py:67-150 _rank_score +
#  weighted sum ×100). Parts stand in for grid combos, brand = source.
# ---------------------------------------------------------------------------
@query(
    "b11_robustness_score",
    oracle="""
    WITH scored AS (
        SELECT p_brand,
               PERCENT_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS r_price,
               PERCENT_RANK() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS r_size
        FROM part
    )
    SELECT p_brand,
           COUNT(*) AS n_combos,
           ROUND(AVG(100 * (0.6 * r_price + 0.4 * r_size)), 6) AS avg_score,
           ROUND(MAX(100 * (0.6 * r_price + 0.4 * r_size)), 6) AS max_score
    FROM scored GROUP BY p_brand
    """,
)
def b11_robustness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalized weighted robustness score per source group (B11)."""
    pa = load_table(spark, sf_dir, "part")
    wb = Window.partitionBy("p_brand")
    r_price = F.percent_rank().over(wb.orderBy("p_retailprice"))
    r_size = F.percent_rank().over(wb.orderBy("p_size", "p_partkey"))
    scored = pa.select(
        "p_brand",
        (100 * (0.6 * r_price + 0.4 * r_size)).alias("score"),
    )
    return scored.groupBy("p_brand").agg(
        F.count("*").alias("n_combos"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )
