"""The series order: ``user_id`` series, rows by ``(ts, event_id)``
ascending with NULLs last, defined once in ``operators/windows.py``.

One frame drives every check: interleaved series spread over several
partitions, a ``ts`` tie broken by ``event_id`` and a NULL ``ts``. The
Spark windows, the DuckDB oracle text, the trade simulator, the viewer
queries and the HMM decode must all see the NULL ``ts`` bar last in
its series. A drift guard keeps new copies of the order, and pandas
islands, out of the per-series kernels.
"""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import pipeline_mf_etl_spark
from tests.conftest import canonical_rows

_SCHEMA = "event_id long, user_id long, ts timestamp, value double, props string"
_NULL_TS_ID = 62  # the NULL-ts bar, in series 3


def _rows() -> list[tuple]:
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(7)
    rows = []
    for eid in range(60):
        uid = int(rng.integers(1, 6))
        ts = t0 + dt.timedelta(minutes=int(rng.integers(0, 40)))
        value = round(float(rng.normal(10, 3)), 2)
        rows.append((eid, uid, ts, value, json.dumps({"k": int(rng.integers(1, 9))})))
    tie = t0 + dt.timedelta(minutes=17)
    rows.append((60, 2, tie, 4.5, '{"k": 3}'))  # same ts as 61: event_id breaks it
    rows.append((61, 2, tie, 7.5, '{"k": 2}'))
    rows.append((_NULL_TS_ID, 3, None, 9.0, '{"k": 5}'))
    return rows


@pytest.fixture
def three_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture
def events(spark, three_partitions):
    return spark.createDataFrame(_rows(), _SCHEMA).repartition(3)


def _digest(rows, cols) -> str:
    return hashlib.sha256(repr(canonical_rows(rows, cols)).encode()).hexdigest()


def test_spark_window_matches_oracle_window(events):
    """(a) ``lag`` over ``series_window()`` equals DuckDB's ``LAG`` over
    ``SERIES_WINDOW_SQL``: the NULL-ts bar's predecessor is its series'
    last timed bar on both engines."""
    from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL, series_window

    got = dict(
        events.select("event_id", F.lag("event_id").over(series_window())).collect()
    )
    frame = pd.DataFrame(_rows(), columns=["event_id", "user_id", "ts", "value", "props"])
    con = duckdb.connect()
    con.register("t", frame)
    sql = f"SELECT event_id, LAG(event_id) OVER ({SERIES_WINDOW_SQL}) FROM t"
    want = dict(con.execute(sql).fetchall())
    assert got == want
    assert got[_NULL_TS_ID] is not None


# recorded while the trade simulation ran as a pandas island: the
# pandas re-sort it carried already put the NULL-ts bar last
_TRADES_DIGEST = "80282f40edb79e7c910a7a72c5d534531882b49b730b33b9aede00eda7a3ef69"


def test_trade_simulation_is_pinned(events):
    """(b) The trade simulator's output over the NULL-ts frame. The
    NULL-ts bar is series 3's last bar, so its signal has no next open."""
    from pipeline_mf_etl_spark.operators.backtest import simulate_trades

    bars = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        ((F.col("event_id") % 3 == 0) | (F.col("event_id") == _NULL_TS_ID)).alias("signal"),
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(-1).alias("side"),
    )
    trades = simulate_trades(bars, hold_bars=2)
    rows = [tuple(r) for r in trades.collect()]
    assert rows
    assert _digest(rows, trades.columns) == _TRADES_DIGEST


def _viewer_rows(missing: float | None) -> list[tuple]:
    """Three series long enough to leave the 21-bar RMA warm-up, with a
    ``ts`` tie, a NULL-``ts`` bar and ``missing`` values: one in the
    warm-up, one after it, two in a row, and the NULL-``ts`` bar's."""
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(5)
    rows, eid = [], 0
    for uid in (1, 2, 3):
        close = 10.0 * uid
        for t in range(30 + 8 * uid):
            close = round(max(close + float(rng.normal(0, 0.4)), 0.5), 2)
            ts = t0 + dt.timedelta(minutes=t - (t == 12))  # bars 11 and 12 tie
            rows.append((eid, uid, ts, close, json.dumps({"k": int(rng.integers(1, 9))})))
            eid += 1
    rows.append((eid, 2, None, None, '{"k": 4}'))
    rows.append((eid + 1, 2, None, 21.5, '{"k": 2}'))
    nulls = {3, 63, 124, 125, eid}  # series 1 bar 3, series 2 bar 25, series 3 bars 40-41
    return [(e, u, ts, missing if e in nulls else v, k) for e, u, ts, v, k in rows]


# recorded while the panel ran as a pandas island, before it moved onto
# the EWM fold and JVM windows: the viewer queries' outputs (dtypes and
# rows) over the NULL-ts frame and over a frame with NULL values; a NaN
# value is missing as NULL is, so the same frame with NaN gives the same
_VIEWER_DIGESTS = {
    ("null_ts", "v1_tmf_tti_panel"):
        "97d846eb1e1100c103cc69d9ab0ed1e34fdd67dd855459c5a3a28c361ecf47e5",
    ("null_ts", "v3_reading_labels"):
        "7579ac2ff2e8437b4937a522b1e25b9d978dc702e9a07245d5dd08fd174734d8",
    ("null_value", "v1_tmf_tti_panel"):
        "3eb489c9217f58b9409af47568036b3ef02c79c9df67a72755112c7975697aa3",
    ("null_value", "v3_reading_labels"):
        "6832d42f3798aea1f210abcab65aaf6602597d6fa1c606ea564bc485443cb33d",
}


@pytest.mark.parametrize("leg", ["null_ts", "null_value", "nan_value"])
@pytest.mark.parametrize("name", ["v1_tmf_tti_panel", "v3_reading_labels"])
def test_viewer_queries_are_pinned(spark, three_partitions, tmp_path, leg, name):
    """(b) v1 and v3 over a staged ``events.parquet``: the NULL-ts frame,
    and longer series holding NULL or NaN values. NaN is a missing value
    as NULL is."""
    from pipeline_mf_etl_spark.queries import viewer

    missing = {"null_value": None, "nan_value": float("nan")}
    rows = _rows() if leg == "null_ts" else _viewer_rows(missing[leg])
    spark.createDataFrame(rows, _SCHEMA).repartition(3).write.parquet(
        str(tmp_path / "events.parquet")
    )
    df = getattr(viewer, name)(spark, str(tmp_path))
    got = [tuple(r) for r in df.collect()]
    digest = hashlib.sha256(
        repr((df.dtypes, canonical_rows(got, df.columns))).encode()
    ).hexdigest()
    assert digest == _VIEWER_DIGESTS[leg.replace("nan", "null"), name]


def test_decode_puts_null_ts_last(spark, three_partitions):
    """(c) ``decode_distributed`` decodes the NULL-ts bar as the last bar
    of its series: the series decodes as the per-series reference
    recursion does over its rows in series order."""
    from pipeline_mf_etl_spark.operators.hmm import DiagGaussianHMM, decode_distributed
    from tests.test_hmm import _ref_posteriors, _ref_viterbi

    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(1, 5):
        for t in range(20 + 3 * uid):
            ts = t0 + dt.timedelta(minutes=t // 2)  # pairs of tied ts
            rows.append((100 * uid + t, uid, ts, *rng.normal(uid % 2, 1.0, 2)))
    null_id = 999
    rows.append((null_id, 2, None, 4.0, -4.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "f0", "f1"])
    model = DiagGaussianHMM(n_states=2, n_iter=5).fit(
        [g[["f0", "f1"]].to_numpy() for _, g in pdf.groupby("user_id")]
    )
    bars = spark.createDataFrame(pdf.sample(frac=1, random_state=0)).repartition(3)
    got = decode_distributed(bars, model.to_params(), ["f0", "f1"]).toPandas()
    series = got[got["user_id"] == 2]
    assert series["event_id"].iloc[-1] == null_id
    ordered = pdf[pdf["user_id"] == 2].sort_values(["ts", "event_id"], na_position="last")
    assert list(series["event_id"]) == list(ordered["event_id"])
    x = ordered[["f0", "f1"]].to_numpy()
    np.testing.assert_array_equal(series["hmm_state"], _ref_viterbi(model, x))
    np.testing.assert_allclose(
        series["state_prob_max"], _ref_posteriors(model, x).max(axis=1), rtol=0, atol=1e-12
    )


# ---------------------------------------------------------------------------
# drift guard
# ---------------------------------------------------------------------------
_ROOT = Path(pipeline_mf_etl_spark.__file__).parent
_ORACLE_WINDOW = "PARTITION BY user_id ORDER BY ts, event_id"
# the per-series kernels run in the plan: no pandas island here
_FOLD_MODULES = (
    "queries/viewer.py",
    "operators/ewm.py",
    "operators/backtest.py",
    "operators/hmm.py",
)
_ISLAND_CALLS = ("series_island", "mapInPandas", "applyInPandas", "sort_values")

def _trees():
    for path in sorted(_ROOT.rglob("*.py")):
        rel = path.relative_to(_ROOT).as_posix()
        if rel != "operators/windows.py":
            yield rel, ast.parse(path.read_text(encoding="utf-8"))


def _method_calls(tree, name):
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == name
    ]


def _str_args(call):
    return [a.value for a in call.args if isinstance(a, ast.Constant) and isinstance(a.value, str)]


def _hand_built_series_window(call) -> bool:
    """``Window.partitionBy("user_id", ...)...orderBy("ts", ...)``."""
    node = call.func.value
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "partitionBy":
            return _str_args(node)[:1] == ["user_id"] and _str_args(call)[:1] == ["ts"]
        node = node.func.value
    return False


def test_series_order_has_one_home():
    """Outside ``operators/windows.py`` nothing restates the series
    order: no hand-built ``Window.partitionBy("user_id")...orderBy("ts",
    ...)``, no ``sortWithinPartitions("user_id", ...)``, no string
    holding the oracle window text. The viewer panel, EWM, the trade
    simulation and the HMM decode call no pandas island and never
    re-sort in pandas; the viewer imports neither pandas nor NumPy."""
    found = []
    for rel, tree in _trees():
        found += [
            (rel, c.lineno, "window")
            for c in _method_calls(tree, "orderBy")
            if _hand_built_series_window(c)
        ]
        found += [
            (rel, c.lineno, "sort")
            for c in _method_calls(tree, "sortWithinPartitions")
            if _str_args(c)[:1] == ["user_id"]
        ]
        found += [
            (rel, n.lineno, "sql")
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and _ORACLE_WINDOW in n.value
        ]
        if rel in _FOLD_MODULES:
            found += [
                (rel, n.lineno, name)
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                for name in _ISLAND_CALLS
                if name in (getattr(n.func, "id", None), getattr(n.func, "attr", None))
            ]
        if rel == "queries/viewer.py":
            found += [
                (rel, n.lineno, "import")
                for n in ast.walk(tree)
                if isinstance(n, (ast.Import, ast.ImportFrom))
                for name in [getattr(n, "module", None)] + [a.name for a in n.names]
                if (name or "").split(".")[0] in ("pandas", "numpy")
            ]
    assert found == []


def test_oracle_window_text_is_unchanged():
    """Every oracle reads ``SERIES_WINDOW_SQL``; its text is pinned so
    the oracles stay byte-identical."""
    from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL

    assert SERIES_WINDOW_SQL == _ORACLE_WINDOW
