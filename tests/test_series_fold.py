"""The in-plan series folds against their pandas reference loops.

``ewm_smooth`` and ``simulate_trades`` run as ``series_fold``s
(operators/windows.py). The references below are the pandas loops they
replay: pandas' own ``GroupBy.ewm`` and the per-series trade loop over
NumPy slices. Each case is a frame built to hit one branch of the
loops; the fold must match the reference bit for bit (floats compare
by ``float.hex``, so the sign of zero and NaN count).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pipeline_mf_etl_spark.operators.backtest import TRADE_SCHEMA, simulate_trades
from pipeline_mf_etl_spark.operators.ewm import ewm_smooth

_SCHEMA = "event_id long, user_id long, ts timestamp, value double, signal boolean, side int"
_N = 3
_HOLD = 2
_FEE, _SLIP = 5.0, 5.0
_T0 = dt.datetime(2024, 1, 1)
NAN = float("nan")


# ---------------------------------------------------------------------------
# pandas references
# ---------------------------------------------------------------------------
def _in_series_order(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["user_id", "ts", "event_id"], na_position="last", kind="stable")


def _ref_ewm(pdf: pd.DataFrame, n: int) -> dict:
    """event_id -> EWM(alpha=1/n, adjust=False, min_periods=n), NaN as None."""
    pdf = _in_series_order(pdf)
    if pdf.empty:
        return {}
    means = (
        pdf.groupby("user_id", sort=True)["value"]
        .ewm(alpha=1.0 / n, adjust=False, min_periods=n)
        .mean()
        .to_numpy()
    )
    return {int(e): (None if np.isnan(m) else float(m)) for e, m in zip(pdf["event_id"], means)}


def _ref_sim_series(uid, vals, sigs, sides, eids, hold_bars, cost, out: list) -> None:
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
        with np.errstate(divide="ignore", invalid="ignore"):
            exc = side * (vals[e : x + 1] / entry - 1.0)
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


def _ref_trades(pdf: pd.DataFrame, hold_bars: int, fee_bps: float, slippage_bps: float) -> list:
    cost = 2.0 * (fee_bps + slippage_bps) / 1e4
    pdf = _in_series_order(pdf)
    uids = pdf["user_id"].to_numpy()
    vals = pdf["value"].to_numpy(dtype=float)
    sigs = pdf["signal"].fillna(False).to_numpy(dtype=bool)
    sides = pdf["side"].to_numpy()
    eids = pdf["event_id"].to_numpy()
    cuts = np.flatnonzero(np.r_[True, uids[1:] != uids[:-1], True]) if len(uids) else []
    out: list = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        _ref_sim_series(
            int(uids[lo]), vals[lo:hi], sigs[lo:hi], sides[lo:hi], eids[lo:hi], hold_bars, cost, out
        )
    return out


# ---------------------------------------------------------------------------
# cases: (event_id, user_id, ts, value, signal, side) rows
# ---------------------------------------------------------------------------
def _series(uid, values, signals=None, first_id=0, ts=None):
    signals = signals or [i % 2 == 0 for i in range(len(values))]
    ts = ts or [_T0 + dt.timedelta(minutes=i) for i in range(len(values))]
    return [
        (first_id + i, uid, t, v, s, 1 if (first_id + i) % 3 else -1)
        for i, (v, s, t) in enumerate(zip(values, signals, ts))
    ]


def _long_series(n_bars: int) -> list:
    rng = np.random.default_rng(5)
    values = np.round(rng.normal(10, 3, n_bars), 2).tolist()
    for i in rng.choice(n_bars, n_bars // 50, replace=False):
        values[int(i)] = None if i % 2 else NAN
    signals = (rng.random(n_bars) < 0.3).tolist()
    return _series(1, values, signals)


_CASES = {
    # the NULL-ts bar sorts after every timed bar of its series
    "null_ts": _series(
        1,
        [4.0, 6.5, 5.0, 7.25, 3.0, 8.0],
        [True, False, True, True, False, True],
        ts=[None, *[_T0 + dt.timedelta(minutes=m) for m in (3, 1, 2, 0, 4)]],
    ),
    "null_and_nan_value": _series(1, [4.0, None, 6.0, NAN, 5.0, None, 7.0, 2.0]),
    "constant": _series(1, [5.0] * 6 + [6.0, 5.0, 5.0], [True] * 9),
    "nan_prefix": _series(1, [NAN, None, NAN, 3.0, 4.0, 5.0, 6.0]),
    "shorter_than_min_periods": _series(1, [4.0, 5.0]) + _series(2, [1.0, None, 2.0], first_id=10),
    "entry_zero": _series(
        1, [3.0, 0.0, 4.0, 5.0, 0.0, 1.0, 2.0], [True, False, False, True, False, True, False]
    ),
    "signal_on_last_bar": _series(1, [4.0, 5.0, 6.0, 7.0], [False, False, False, True]),
    "hold_past_end": _series(1, [4.0, 5.0, 6.0, 7.0], [False, True, False, False]),
    "one_row": _series(1, [4.0], [True]),
    "empty": [],
}


def _frame(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA).repartition(2)


def _hex(v):
    return v.hex() if isinstance(v, float) else v


def _pdf(rows) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value", "signal", "side"])
    pdf["value"] = pdf["value"].astype(float)
    return pdf


def _check_ewm(df, rows):
    out = ewm_smooth(df, "value", _N, "ewm")
    assert out.columns == [*df.columns, "ewm"]
    got = {r["event_id"]: _hex(r["ewm"]) for r in out.collect()}
    want = {e: _hex(v) for e, v in _ref_ewm(_pdf(rows), _N).items()}
    assert got == want


def _check_trades(df, rows):
    out = simulate_trades(df, hold_bars=_HOLD, fee_bps=_FEE, slippage_bps=_SLIP)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in TRADE_SCHEMA
    ]
    got = sorted(tuple(map(_hex, r)) for r in out.collect())
    want = sorted(tuple(map(_hex, r)) for r in _ref_trades(_pdf(rows), _HOLD, _FEE, _SLIP))
    assert got == want
    return want


@pytest.mark.parametrize("case", sorted(_CASES))
def test_ewm_fold_matches_pandas(spark, case):
    rows = _CASES[case]
    _check_ewm(_frame(spark, rows), rows)


@pytest.mark.parametrize("case", sorted(_CASES))
def test_trade_fold_matches_pandas(spark, case):
    rows = _CASES[case]
    _check_trades(_frame(spark, rows), rows)


def test_cases_reach_their_branches():
    """Each trade case takes the branch it is named for in the reference."""
    trades = {c: _ref_trades(_pdf(r), _HOLD, _FEE, _SLIP) for c, r in _CASES.items()}
    assert any(t[8] is None and t[10] is None for t in trades["entry_zero"])
    assert trades["signal_on_last_bar"] == []
    assert [t[12] for t in trades["hold_past_end"]] == ["END_OF_DATA"]
    assert trades["one_row"] == [] and trades["empty"] == []
    assert any(np.isnan(t[10]) for t in trades["null_and_nan_value"])
    means = _ref_ewm(_pdf(_CASES["constant"]), _N)
    assert means[5] == 5.0 and means[8] != 5.0


def test_folds_match_pandas_on_a_long_series(spark):
    """One ~2000-bar series with NULL and NaN values: the folds' O(L²)
    array accumulation stays exact over long series."""
    rows = _long_series(2000)
    df = _frame(spark, rows)
    _check_ewm(df, rows)
    assert len(_check_trades(df, rows)) > 100
