"""Overlay-viewer compute layer (reference apps/overlay_viewer).

The reference's per-ticker viewer cache derives three real query
frames before any plotting happens:

* the TMF/TTI indicator panel — Twiggs Money Flow and the TTI proxy,
  both Wilder-RMA ratios plus slopes/returns/zero-crosses and a rolling
  dollar-volume floor (``compute_ticker.py:197-242``,
  ``indicators_twiggs.py:31-81``);
* the candidate-marker ribbon — per-bar signal markers classified as
  candidate / blocked-by-overlay / blocked-by-execution with a blocked
  reason string (``overlay_logic.py:404-454``);
* reading-mode pivot labels — 2-left/2-right pivot lows/highs on an
  indicator series, labelled against the previous pivot
  (``indicators_twiggs.py:110-173``).

Here they run over the ``events`` series (user_id = ticker, value =
close, ``props.$.k`` = volume proxy — the same bar mapping as the
backtest family). The engine's bars are close-only, so the OHLC terms
collapse: trh/trl use prev-close only and the first bar defines
``prev_close = close`` (tr = 0) instead of the reference's leading-NaN
row — documented proxy deviation, applied identically on both engines.

Spark-first shape: the four RMAs are ``ewm_smooth`` series folds and
every other per-series column is a JVM window (``_panel_frame``), all
on one series shuffle; everything downstream is window/CASE algebra
that Catalyst pipelines into the same shuffle. The DuckDB oracles reuse the
block-rescaled exact EWM expansion from ``queries/flow.py`` (naive
closed forms overflow double past ~7000 bars), generated per smoothed
column by ``_ewm_chain``.
Every float the comparison hashes is rounded to 6 dp on both sides,
and every boolean/label is computed FROM rounded values so
accumulation-order ulps cannot flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import (
    cents,
    exact_ratio_round6,
    exact_ratio_round6_sql,
)
from pipeline_mf_etl_spark.operators.ewm import ewm_smooth
from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _W
from pipeline_mf_etl_spark.operators.windows import rolling_min_samples, series_window
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table

# TwiggsParams defaults (reference indicators_twiggs.py:17-24)
_N = 21
_EPS = 1e-12
_ZERO_TOL = 0.01  # reading-label zero tolerance (indicators_twiggs.py:117)
_DV_WIN = 20

_A = 1.0 / _N
_B = 1.0 - _A
# Block size for the rescaled EWM closed form (see queries/flow.py) —
# keeps POWER(B, e) exponents bounded so no intermediate overflows.
_L = 500


def _ewm_chain(prefix: str, val_col: str, out_col: str) -> str:
    """Block-rescaled exact Wilder-EWM chain over the ``derived`` CTE.

    Emits CTEs ``{prefix}_blkd/_bt/_carry/_sm``; ``{prefix}_sm`` holds
    (event_id, user_id, rn, {out_col}) with NULL warm-up (rn < n). Same
    derivation as queries/flow.py _EWM_CTE, parameterized so the panel
    can smooth four columns.
    """
    return f"""
    {prefix}_blkd AS (
        SELECT event_id, user_id, rn,
               CAST((rn - 1) // {_L} AS INT) AS blk,
               rn - CAST((rn - 1) // {_L} AS INT) * {_L} AS e,
               CASE WHEN rn >= 2 THEN
                    {val_col} * POWER({_B!r}, -(rn - CAST((rn - 1) // {_L} AS INT) * {_L}))
                    ELSE 0.0 END AS s,
               FIRST_VALUE({val_col}) OVER (PARTITION BY user_id ORDER BY rn)
                   AS first_val
        FROM derived
    ), {prefix}_bt AS (
        SELECT user_id, blk, SUM(s) AS t_blk FROM {prefix}_blkd GROUP BY 1, 2
    ), {prefix}_carry AS (
        SELECT user_id, 0 AS blk, CAST(0.0 AS DOUBLE) AS g
        FROM (SELECT DISTINCT user_id FROM {prefix}_bt)
        UNION ALL
        SELECT c.user_id, c.blk + 1, POWER({_B!r}, {_L}) * (c.g + t.t_blk)
        FROM {prefix}_carry c
        JOIN {prefix}_bt t ON t.user_id = c.user_id AND t.blk = c.blk
    ), {prefix}_sm AS (
        SELECT b.event_id, b.user_id, b.rn,
               CASE WHEN b.rn >= {_N} THEN
                    {_A!r} * POWER({_B!r}, b.e) * (
                        SUM(b.s) OVER (PARTITION BY b.user_id, b.blk ORDER BY b.rn
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                        + c.g)
                    + POWER({_B!r}, b.rn - 1) * b.first_val END AS {out_col}
        FROM {prefix}_blkd b
        JOIN {prefix}_carry c ON c.user_id = b.user_id AND c.blk = b.blk
    )"""


# Shared bars + Twiggs-term derivation (reference indicators_twiggs.py:
# 44-64 with the close-only proxy: high = low = close).
_DERIVED_CTE = f"""
    bars AS (
        SELECT event_id, user_id, ts, value AS close,
               COALESCE(CAST(json_extract(props, '$.k') AS DOUBLE), 0.0) AS volume,
               ROW_NUMBER() OVER ({_W}) AS rn
        FROM events
    ), derived AS (
        SELECT *,
               GREATEST(close, prev_close) - LEAST(close, prev_close) AS tr,
               (2.0 * close - GREATEST(close, prev_close) - LEAST(close, prev_close))
                   / GREATEST(GREATEST(close, prev_close) - LEAST(close, prev_close),
                              {_EPS!r}) * volume AS adv,
               (2.0 * close - GREATEST(close, prev_close) - LEAST(close, prev_close))
                   / GREATEST(GREATEST(close, prev_close) - LEAST(close, prev_close),
                              {_EPS!r})
                   * (GREATEST(close, prev_close) - LEAST(close, prev_close)) AS advv
        FROM (
            SELECT *, COALESCE(LAG(close) OVER ({_W}), close) AS prev_close
            FROM bars
        )
    )
"""

_PANEL_CHAINS = ",".join(
    [
        _ewm_chain("tn", "adv", "tmf_num"),
        _ewm_chain("td", "volume", "tmf_den"),
        _ewm_chain("un", "advv", "tti_num"),
        _ewm_chain("ud", "tr", "tti_den"),
    ]
)

# Joined panel with ROUNDED tmf/tti (all downstream flags/slopes derive
# from these rounded values on both engines).
_PANEL_CTE = f"""
    {_DERIVED_CTE},
    {_PANEL_CHAINS},
    panel AS (
        SELECT d.*,
               ROUND(tn.tmf_num / GREATEST(td.tmf_den, {_EPS!r}), 6) + 0 AS tmf_raw,
               ROUND(un.tti_num / GREATEST(ud.tti_den, {_EPS!r}), 6) + 0 AS tti_raw
        FROM derived d
        JOIN tn_sm tn USING (event_id, user_id)
        JOIN td_sm td USING (event_id, user_id)
        JOIN un_sm un USING (event_id, user_id)
        JOIN ud_sm ud USING (event_id, user_id)
    )
"""


def _panel_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``panel`` CTE plus every per-series column the
    viewer needs: bars → Twiggs terms → four RMAs → rounded
    tmf_raw/tti_raw → crosses, returns, slopes and the 20-bar rolling
    dollar-volume median. Missing values are SQL NULL.

    One series shuffle: a window stage for ``prev_close``, the four RMAs
    as ``ewm_smooth`` folds (pandas' ``ewm(alpha=1/21, adjust=False,
    min_periods=21)`` loop, replayed step for step), then one window
    stage for the lags and the rolling median. The folds group on the
    series key, so neither they nor the second stage shuffle again.
    GREATEST/LEAST skip NULL as DuckDB's do, so a NULL-valued bar yields
    tr = 0 on both engines.

    tmf_raw/tti_raw are rounded to 6 dp here (``+ 0.0`` clears IEEE
    -0.0) because every downstream flag/slope derives from the rounded
    values on both engines (reference indicators_twiggs.py:31-81 via
    compute_ticker.py:197-242). The RMA ratios carry full double
    precision, so none sits on a 6-dp tie that the engines' ROUNDs
    could break apart.

    ret_1/ret_5/range_pct are ratios of 2-dp prices that can land
    exactly on a 7th-decimal .5 tie, which different ROUND
    implementations break apart; both engines compute them in exact
    integer cents (functions/core.exact_ratio_round6), so v1 is
    hash-exact with no tolerance."""
    w = series_window()
    close, prev_raw, tr = F.col("close"), F.col("__prev"), F.col("tr")
    # a NaN close is missing, as a NULL one is
    value = F.nanvl("value", F.lit(None).cast("double"))
    bars = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        value.alias("close"),
        F.coalesce(F.get_json_object("props", "$.k").cast("double"), F.lit(0.0)).alias(
            "volume"
        ),
        F.lag(value).over(w).alias("__prev"),
    )
    prev = F.coalesce(prev_raw, close)
    hi, lo = F.greatest(close, prev), F.least(close, prev)
    core = (2.0 * close - hi - lo) / F.greatest(tr, F.lit(_EPS))
    df = bars.withColumns({"prev_close": prev, "tr": hi - lo}).withColumns(
        {"adv": core * F.col("volume"), "advv": core * tr}
    )
    rmas = {"tmf_num": "adv", "tmf_den": "volume", "tti_num": "advv", "tti_den": "tr"}
    for out, src in rmas.items():
        df = ewm_smooth(df, src, _N, out)
    ratio = {
        f"{p}_raw": F.col(f"{p}_num") / F.greatest(f"{p}_den", F.lit(_EPS))
        for p in ("tmf", "tti")
    }
    df = df.withColumns({c: F.round(r, 6) + 0.0 for c, r in ratio.items()})
    # each lag projected once: the slopes, crosses and exact ratios
    # below read them more than once
    lags = {"__close_5": F.lag("close", 5).over(w)}
    for p in ("tmf", "tti"):
        lags |= {f"__{p}_{k}": F.lag(f"{p}_raw", k).over(w) for k in (1, 5)}
    df = df.withColumns(lags).withColumn("dollar_vol", close * F.col("volume"))
    prev_5 = F.col("__close_5")
    return df.select(
        "event_id",
        "ts",
        "user_id",
        "close",
        "volume",
        "prev_close",
        "tr",
        "adv",
        "advv",
        "tmf_raw",
        "tti_raw",
        exact_ratio_round6(cents(close) - cents(prev_raw), cents(prev_raw)).alias("ret_1"),
        exact_ratio_round6(cents(close) - cents(prev_5), cents(prev_5)).alias("ret_5"),
        *[
            (F.col(f"{p}_raw") - F.col(f"__{p}_{k}")).alias(f"{p}_slope_{k}")
            for p in ("tmf", "tti")
            for k in (1, 5)
        ],
        exact_ratio_round6(cents(tr), cents(close)).alias("range_pct"),
        "dollar_vol",
        rolling_min_samples(
            F.percentile("dollar_vol", 0.5), F.col("dollar_vol"), w, _DV_WIN
        ).alias("dv20"),
        *[
            F.coalesce(F.signum(f"{p}_raw") != F.signum(f"__{p}_1"), F.lit(False)).alias(
                f"{p}_zero_cross"
            )
            for p in ("tmf", "tti")
        ],
    )


# ---------------------------------------------------------------------------
# V1: TMF/TTI indicator panel
# (reference compute_ticker.py:197-242, indicators_twiggs.py:31-81)
# ---------------------------------------------------------------------------
@query(
    "v1_tmf_tti_panel",
    oracle=f"""
    WITH RECURSIVE {_PANEL_CTE}
    SELECT event_id, user_id,
           ROUND(prev_close, 6) AS prev_close,
           ROUND(tr, 6) AS tr,
           ROUND(adv, 6) + 0 AS adv,
           ROUND(advv, 6) + 0 AS advv,
           tmf_raw, tti_raw,
           COALESCE(SIGN(tmf_raw) <> SIGN(LAG(tmf_raw) OVER ({_W})), FALSE)
               AS tmf_zero_cross,
           COALESCE(SIGN(tti_raw) <> SIGN(LAG(tti_raw) OVER ({_W})), FALSE)
               AS tti_zero_cross,
           {exact_ratio_round6_sql(
               f"CAST(ROUND(close * 100) AS BIGINT)"
               f" - CAST(ROUND(LAG(close) OVER ({_W}) * 100) AS BIGINT)",
               f"CAST(ROUND(LAG(close) OVER ({_W}) * 100) AS BIGINT)",
           )} AS ret_1,
           {exact_ratio_round6_sql(
               f"CAST(ROUND(close * 100) AS BIGINT)"
               f" - CAST(ROUND(LAG(close, 5) OVER ({_W}) * 100) AS BIGINT)",
               f"CAST(ROUND(LAG(close, 5) OVER ({_W}) * 100) AS BIGINT)",
           )} AS ret_5,
           ROUND(tmf_raw - LAG(tmf_raw) OVER ({_W}), 6) + 0 AS tmf_slope_1,
           ROUND(tmf_raw - LAG(tmf_raw, 5) OVER ({_W}), 6) + 0 AS tmf_slope_5,
           ROUND(tti_raw - LAG(tti_raw) OVER ({_W}), 6) + 0 AS tti_slope_1,
           ROUND(tti_raw - LAG(tti_raw, 5) OVER ({_W}), 6) + 0 AS tti_slope_5,
           {exact_ratio_round6_sql(
               "CAST(ROUND(tr * 100) AS BIGINT)",
               "CAST(ROUND(close * 100) AS BIGINT)",
           )} AS range_pct,
           ROUND(close * volume, 6) + 0 AS dollar_vol,
           ROUND(dv20, 6) + 0 AS dollar_vol_20,
           ROUND(LN(1 + GREATEST(ROUND(dv20, 6), 0)), 6) AS dollar_vol_20_log
    FROM (
        SELECT *,
               CASE WHEN COUNT(close * volume) OVER w20 >= {_DV_WIN}
                    THEN QUANTILE_CONT(close * volume, 0.5) OVER w20 END AS dv20
        FROM panel
        WINDOW w20 AS ({_W} ROWS BETWEEN {_DV_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    """,
)
def v1_tmf_tti_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bar TMF/TTI viewer panel: Twiggs Money Flow + TTI proxy
    (Wilder RMA ratios, period 21), zero-crosses, 1/5-bar returns and
    slopes, true-range pct, and the 20-bar rolling dollar-volume median
    with log1p — the indicator frame the reference viewer caches per
    ticker (compute_ticker.py:197-242). Slopes and crosses derive from
    the 6-dp-rounded RMA ratios so both engines agree exactly.

    All sequential columns come out of ``_panel_frame``; this is a
    projection that rounds them to 6 dp."""
    pan = _panel_frame(spark, sf_dir)
    dv20_r = F.round("dv20", 6)
    return pan.select(
        "event_id",
        "user_id",
        *[F.round(c, 6).alias(c) for c in ("prev_close", "tr", "adv", "advv")],
        "tmf_raw",
        "tti_raw",
        "tmf_zero_cross",
        "tti_zero_cross",
        *[
            F.round(c, 6).alias(c)
            for c in (
                "ret_1",
                "ret_5",
                "tmf_slope_1",
                "tmf_slope_5",
                "tti_slope_1",
                "tti_slope_5",
                "range_pct",
                "dollar_vol",
            )
        ],
        dv20_r.alias("dollar_vol_20"),
        F.round(F.log1p(F.greatest(dv20_r, F.lit(0.0))), 6).alias("dollar_vol_20_log"),
    )


# ---------------------------------------------------------------------------
# V2: candidate-marker ribbon (reference overlay_logic.py:404-454)
# ---------------------------------------------------------------------------
def _v2_oracle() -> str:
    from pipeline_mf_etl_spark.queries.backtest import (
        _B3_CLASS,
        _SIGNALS_CTE,
        _S,
        b4_gate_ctes,
        b4_reason_case,
    )

    # gates reuse b4's single-sourced CTEs + reason CASE — the viewer
    # marker oracle cannot drift from the certified b4 gate semantics
    return f"""
    WITH {_SIGNALS_CTE}, {b4_gate_ctes(_S)}, gates AS (
        SELECT event_id,
               {b4_reason_case(_S)} AS execution_filter_reason
        FROM rolled
    ), overlay AS (
        SELECT DISTINCT user_id, {_B3_CLASS} AS cls
        FROM events WHERE user_id % 10 < 8
    ), marked AS (
        SELECT s.event_id, s.user_id, s.event_type, s.side, s.signal,
               COALESCE(o.cls, 'UNKNOWN') AS overlay_policy_class,
               COALESCE(o.cls, 'UNKNOWN') = 'ALLOW' AS overlay_allow_signal,
               g.execution_filter_reason
        FROM signals s
        JOIN gates g USING (event_id)
        LEFT JOIN overlay o USING (user_id)
    )
    SELECT event_id, user_id, event_type AS state,
           CASE WHEN side = 1 THEN 'LONG_BIAS'
                WHEN side = -1 THEN 'SHORT_BIAS'
                ELSE 'UNCONFIRMED' END AS state_direction_hint,
           signal AS raw_signal,
           overlay_policy_class,
           execution_filter_reason IS NULL AS exec_eligible,
           signal AND overlay_allow_signal AND execution_filter_reason IS NULL
               AS entry_signal,
           signal AND NOT overlay_allow_signal AS overlay_vetoed_signal,
           signal AND overlay_allow_signal AND execution_filter_reason IS NOT NULL
               AS execution_suppressed_signal,
           CASE WHEN signal AND overlay_allow_signal
                     AND execution_filter_reason IS NULL THEN 'candidate_signal'
                WHEN signal AND NOT overlay_allow_signal THEN 'blocked_overlay'
                WHEN signal THEN 'blocked_execution' END AS candidate_marker_type,
           CASE WHEN signal AND NOT overlay_allow_signal
                     THEN 'overlay:' || overlay_policy_class
                WHEN signal AND execution_filter_reason IS NOT NULL
                     THEN 'exec:' || execution_filter_reason END AS blocked_reason
    FROM marked
    """


@query("v2_viewer_markers", oracle=_v2_oracle())
def v2_viewer_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewer candidate-marker ribbon: every bar carries its state, the
    direction hint, the raw/entry signal, the overlay policy class, the
    execution gate, and the marker classification candidate_signal /
    blocked_overlay / blocked_execution with a ``overlay:CLASS`` /
    ``exec:REASON`` blocked-reason string — the CASE cascade of
    reference overlay_logic.py:439-454 composed from the engine's B3/B4/
    B5 building blocks (overlay gate in ``allow_only`` mode). The
    overlay dim and state map are broadcast; the signal AND realism
    windows are composed on ONE per-bar frame (``b4_gate_columns``)
    sharing one per-series shuffle — joining two separately-derived
    per-bar frames on event_id would co-shuffle the full bar table
    twice at scale."""
    from pipeline_mf_etl_spark.operators.backtest import (
        b4_gate_columns,
        with_entry_signal,
        with_state_map,
    )
    from pipeline_mf_etl_spark.queries.backtest import _S

    ev = load_table(spark, sf_dir, "events")
    base = with_state_map(ev).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "side",
        "eligible",
        (F.col("value") * F.get_json_object("props", "$.k").cast("double")).alias(
            "dollar_vol"
        ),
    )
    sig = with_entry_signal(base, series_window())
    gated = b4_gate_columns(sig, _S)
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
    df = gated.join(F.broadcast(overlay), "user_id", "left").withColumn(
        "overlay_policy_class", F.coalesce("cls", F.lit("UNKNOWN"))
    )
    allow = F.col("overlay_policy_class") == "ALLOW"
    exec_ok = F.col("primary_reason").isNull()
    raw = F.col("signal")
    return df.select(
        "event_id",
        "user_id",
        F.col("event_type").alias("state"),
        F.when(F.col("side") == 1, "LONG_BIAS")
        .when(F.col("side") == -1, "SHORT_BIAS")
        .otherwise("UNCONFIRMED")
        .alias("state_direction_hint"),
        raw.alias("raw_signal"),
        "overlay_policy_class",
        exec_ok.alias("exec_eligible"),
        (raw & allow & exec_ok).alias("entry_signal"),
        (raw & ~allow).alias("overlay_vetoed_signal"),
        (raw & allow & ~exec_ok).alias("execution_suppressed_signal"),
        F.when(raw & allow & exec_ok, "candidate_signal")
        .when(raw & ~allow, "blocked_overlay")
        .when(raw, "blocked_execution")
        .alias("candidate_marker_type"),
        F.when(raw & ~allow, F.concat(F.lit("overlay:"), F.col("overlay_policy_class")))
        .when(raw & ~exec_ok, F.concat(F.lit("exec:"), F.col("primary_reason")))
        .alias("blocked_reason"),
    )


# ---------------------------------------------------------------------------
# V3: reading-mode pivot labels (reference indicators_twiggs.py:110-173)
# ---------------------------------------------------------------------------
@query(
    "v3_reading_labels",
    oracle=f"""
    WITH RECURSIVE {_PANEL_CTE}, vals AS (
        SELECT event_id, user_id, rn, tti_raw AS v,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM panel
    ), win AS (
        SELECT *,
               MIN(v) OVER w5 AS wmin, MAX(v) OVER w5 AS wmax
        FROM vals
        WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    ), piv AS (
        SELECT *,
               (rn > 2 AND rn <= n - 2 AND v IS NOT NULL AND v <= wmin) AS is_low,
               (rn > 2 AND rn <= n - 2 AND v IS NOT NULL AND v >= wmax) AS is_high
        FROM win
    ), lows AS (
        SELECT event_id, user_id, rn, v,
               LAG(v) OVER (PARTITION BY user_id ORDER BY rn) AS prev_piv
        FROM piv WHERE is_low
    ), highs AS (
        SELECT event_id, user_id, rn, v,
               LAG(v) OVER (PARTITION BY user_id ORDER BY rn) AS prev_piv
        FROM piv WHERE is_high
    )
    SELECT event_id, user_id, v AS value,
           CASE WHEN ABS(v) <= {_ZERO_TOL!r} THEN 'AT_ZERO'
                WHEN v > 0 AND prev_piv IS NOT NULL AND v > prev_piv
                     THEN 'RISING_TROUGH'
                WHEN v > 0 THEN 'TROUGH_ABOVE_ZERO'
                ELSE 'PIVOT_LOW' END AS label,
           'low' AS label_side
    FROM lows
    UNION ALL
    SELECT event_id, user_id, v,
           CASE WHEN ABS(v) <= {_ZERO_TOL!r} THEN 'AT_ZERO'
                WHEN v < 0 AND prev_piv IS NOT NULL AND v < prev_piv
                     THEN 'DECLINING_PEAK'
                WHEN v < 0 THEN 'PEAK_BELOW_ZERO'
                ELSE 'PIVOT_HIGH' END,
           'high'
    FROM highs
    """,
)
def v3_reading_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PineScript-style reading-mode labels on the TTI panel: 2/2 pivot
    lows and highs (plateau-inclusive, NULL-skipping min/max like the
    reference's nanmin), labelled AT_ZERO / RISING_TROUGH /
    TROUGH_ABOVE_ZERO / PIVOT_LOW (and the peak duals) against the
    PREVIOUS pivot value — a lag over the pivot subsequence. Pivots are
    detected on the 6-dp-rounded TTI so both engines pick identical
    bars.

    Plan shape: a self-union of filtered branches would re-execute the
    whole panel lineage once per side; instead the previous pivot value
    per side comes from ``last(when(is_pivot, v))`` over
    rows-before-current (no filtered subsequence needed) and the two
    sides explode out of ONE pass — one panel, one series shuffle."""
    pan = _panel_frame(spark, sf_dir).select(
        "event_id", "user_id", "ts", F.col("tti_raw").alias("v")
    )
    w = series_window()
    w5 = w.rowsBetween(-2, 2)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy("user_id")
    pan = pan.withColumns(
        {
            "rn": F.row_number().over(w),
            "n": F.count("*").over(wall),
            "wmin": F.min("v").over(w5),
            "wmax": F.max("v").over(w5),
        }
    )
    in_bounds = (F.col("rn") > 2) & (F.col("rn") <= F.col("n") - 2) & F.col("v").isNotNull()
    piv = pan.withColumns(
        {
            "is_low": in_bounds & (F.col("v") <= F.col("wmin")),
            "is_high": in_bounds & (F.col("v") >= F.col("wmax")),
        }
    )
    # previous pivot value per side, for EVERY row — equals lag() over
    # the pivot subsequence at the pivot rows that consume it
    piv = piv.withColumns(
        {
            "prev_low": F.last(F.when(F.col("is_low"), F.col("v")), True).over(wprev),
            "prev_high": F.last(F.when(F.col("is_high"), F.col("v")), True).over(wprev),
        }
    )
    v = F.col("v")

    def _label(prev_col: str, rising: str, above: str, fallback: str, cmp_pos: bool):
        prev = F.col(prev_col)
        better = v > prev if cmp_pos else v < prev
        sign_ok = v > 0 if cmp_pos else v < 0
        return (
            F.when(F.abs(v) <= _ZERO_TOL, "AT_ZERO")
            .when(sign_ok & prev.isNotNull() & better, rising)
            .when(sign_ok, above)
            .otherwise(fallback)
        )

    low = F.when(
        F.col("is_low"),
        F.struct(
            _label("prev_low", "RISING_TROUGH", "TROUGH_ABOVE_ZERO", "PIVOT_LOW", True)
            .alias("label"),
            F.lit("low").alias("label_side"),
        ),
    )
    high = F.when(
        F.col("is_high"),
        F.struct(
            _label("prev_high", "DECLINING_PEAK", "PEAK_BELOW_ZERO", "PIVOT_HIGH", False)
            .alias("label"),
            F.lit("high").alias("label_side"),
        ),
    )
    sides = F.filter(F.array(low, high), lambda x: x.isNotNull())
    return (
        piv.filter(F.col("is_low") | F.col("is_high"))
        .select("event_id", "user_id", v.alias("value"), F.explode(sides).alias("e"))
        .select("event_id", "user_id", "value", "e.label", "e.label_side")
    )


# ---------------------------------------------------------------------------
# V4: HMM state ribbon (reference compute_ticker.py:360-440 /
# hmm_display.py — prev state, transition code, run length, bars since
# change, 10-bar forward-return proxy per decoded bar)
# ---------------------------------------------------------------------------
def _v4_oracle() -> str:
    from pipeline_mf_etl_spark.queries.export import export_glob

    wseq = _W
    return f"""
    WITH d AS (SELECT * FROM read_parquet('{export_glob("m10_decoded")}')),
    rib AS (
        SELECT event_id, user_id, ts, value, hmm_state,
               ROW_NUMBER() OVER ({wseq}) AS rn,
               LAG(hmm_state) OVER ({wseq}) AS prev_state,
               LEAD(value, 10) OVER ({wseq}) AS fwd_value,
               CASE WHEN LAG(hmm_state) OVER ({wseq}) IS NULL
                         OR hmm_state <> LAG(hmm_state) OVER ({wseq})
                    THEN 1 ELSE 0 END AS chg
        FROM d
    ), runs AS (
        -- run length without a second (user_id, chg-group) partitioning:
        -- rn - rn-of-last-change + 1 stays on the ONE series shuffle
        SELECT *,
               CAST(rn - MAX(CASE WHEN chg = 1 THEN rn END)
                         OVER ({wseq} ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) + 1 AS BIGINT) AS run_length
        FROM rib
    )
    SELECT event_id, user_id, hmm_state,
           prev_state AS hmm_state_prev,
           CASE WHEN prev_state IS NOT NULL
                THEN prev_state * 100 + hmm_state END AS transition_code,
           run_length,
           run_length - 1 AS bars_since_change,
           ROUND(fwd_value / NULLIF(value, 0) - 1, 6) + 0 AS fwd_ret_10
    FROM runs
    """


@query("v4_hmm_ribbon", eager=True, oracle=_v4_oracle())
def v4_hmm_ribbon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bar HMM state ribbon over the persisted decode output: the
    previous state, the transition code prev*100+cur, the within-state
    run length (gaps-and-islands windows — the reference's per-row
    Python loop, compute_ticker.py:373-399, collapses into two window
    passes), bars since the last state change, and the 10-bar
    forward-return proxy. EAGER: refits/decodes via
    ``hmm_decoded_export`` so the ribbon always reflects a fresh decode;
    the oracle windows over the identical persisted rows."""
    from pipeline_mf_etl_spark.queries.ml import hmm_decoded_export

    d = hmm_decoded_export(spark, sf_dir)
    w = series_window()
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    rib = d.withColumns(
        {
            "rn": F.row_number().over(w),
            "prev_state": F.lag("hmm_state").over(w),
            "fwd_value": F.lead("value", 10).over(w),
        }
    )
    # the change flag reads the projected previous state, as
    # with_run_group does: a lag written into it is evaluated per use
    prev = F.col("prev_state")
    rib = rib.withColumn("chg", (prev.isNull() | (F.col("hmm_state") != prev)).cast("int"))
    # run length without a second (user_id, group) shuffle: distance to
    # the last change row, all on the one series partitioning
    last_chg = F.max(F.when(F.col("chg") == 1, F.col("rn"))).over(wc)
    rib = rib.withColumn("run_length", (F.col("rn") - last_chg + 1).cast("long"))
    return rib.select(
        "event_id",
        "user_id",
        "hmm_state",
        F.col("prev_state").alias("hmm_state_prev"),
        F.when(
            F.col("prev_state").isNotNull(),
            F.col("prev_state") * 100 + F.col("hmm_state"),
        ).alias("transition_code"),
        "run_length",
        (F.col("run_length") - 1).alias("bars_since_change"),
        F.round(
            F.col("fwd_value") / F.nullif(F.col("value"), F.lit(0.0)) - 1, 6
        ).alias("fwd_ret_10"),
    )
