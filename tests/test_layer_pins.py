"""Content contract of the medallion ``run`` pipeline.

``run_pipeline`` runs at sf0.001 and sf0.01. For every written layer
(bronze, silver, gold, research, trades) the test pins the sha256 of
the read-back schema JSON, the row count and ``bit_xor`` of
``xxhash64`` over all columns. It also pins ``run_summary.json``
(without the wall-clock ``duration_sec`` and the output paths) and the
sha256 of ``backtest_report.json``. A change to a shared rule (state
map, flow states, entry signal, realism gates, EWM island) that moves
one value of one layer fails here, even where no oracle reads the
layer.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.pipeline import run_pipeline
from tests.conftest import SF_SMOKE

_SCALES = {"sf0.001": SF_SMOKE, "sf0.01": os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")}
_LAYERS = ("bronze", "silver", "gold", "research", "trades")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def layer_digests(spark, sf_dir: str, out: str) -> dict:
    run_pipeline(spark, sf_dir, out, run_id="pins")
    layers = {}
    for layer in _LAYERS:
        df = spark.read.parquet(os.path.join(out, layer))
        n, h = df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).first()
        layers[layer] = {"schema": _sha(df.schema.json()), "count": n, "xor": h}
    with open(os.path.join(out, "run_summary.json")) as fh:
        summary = json.load(fh)
    for key in ("duration_sec", "outputs", "sf_dir"):
        summary.pop(key)
    with open(os.path.join(out, "backtest_report.json")) as fh:
        report = _sha(json.dumps(json.load(fh), sort_keys=True))
    return {"layers": layers, "summary": summary, "report": report}


# recorded before the medallion layers moved onto the shared rule builders
_PINS: dict[str, dict] = {
    "sf0.001": {
        "layers": {
            "bronze": {
                "count": 1000,
                "schema": "c9803446a2250891324bdd949a7b6727e693ea2b3da044f6e86f2cf922f4e62a",
                "xor": 3429680812658289229,
            },
            "gold": {
                "count": 1000,
                "schema": "238f6b56f98d3bb271c94a832b68a5bfab29d0defcf99448deb6e216e02a0069",
                "xor": 6983210575240051642,
            },
            "research": {
                "count": 3,
                "schema": "96f18f268f3df88a4c1dcf4d9645956152a1ce7307181e831c40a164a9088ed5",
                "xor": -1953224528041610033,
            },
            "silver": {
                "count": 1000,
                "schema": "df481d1142fc6a45778daeb562a1e87e5f7a14cb3f41b253cb575d38ee81edca",
                "xor": -6567751029081705131,
            },
            "trades": {
                "count": 66,
                "schema": "c6ea0aca73f5aba3736073bca0b205512f31ec192be736b9aed747216cced330",
                "xor": -483990995798237886,
            },
        },
        "report": "7d49b5742541fd83250f462064ee053aa8862ada155e1426d98066765a6b9f31",
        "summary": {
            "expectancy": -3.145771,
            "n_trades": 66,
            "rows_invalid": 0,
            "rows_total": 1000,
            "rows_valid": 1000,
            "run_id": "pins",
            "settings": {
                "ewm_span": 10,
                "fee_bps_per_side": 5.0,
                "hold_bars": 5,
                "slippage_bps_per_side": 5.0,
            },
            "total_errors": 0,
            "total_warns": 389,
            "win_rate": 0.469697,
        },
    },
    "sf0.01": {
        "layers": {
            "bronze": {
                "count": 10000,
                "schema": "c9803446a2250891324bdd949a7b6727e693ea2b3da044f6e86f2cf922f4e62a",
                "xor": -7357325205443720872,
            },
            "gold": {
                "count": 10000,
                "schema": "238f6b56f98d3bb271c94a832b68a5bfab29d0defcf99448deb6e216e02a0069",
                "xor": 3328465152389904880,
            },
            "research": {
                "count": 3,
                "schema": "96f18f268f3df88a4c1dcf4d9645956152a1ce7307181e831c40a164a9088ed5",
                "xor": 1574306413275049901,
            },
            "silver": {
                "count": 10000,
                "schema": "df481d1142fc6a45778daeb562a1e87e5f7a14cb3f41b253cb575d38ee81edca",
                "xor": 819522784405244952,
            },
            "trades": {
                "count": 718,
                "schema": "c6ea0aca73f5aba3736073bca0b205512f31ec192be736b9aed747216cced330",
                "xor": -4542599962956136209,
            },
        },
        "report": "e69d08c4bfe1f483b458ae3fef56494d50cf73719122b10154ae346bb4c16d9d",
        "summary": {
            "expectancy": 4.906915,
            "n_trades": 718,
            "rows_invalid": 0,
            "rows_total": 10000,
            "rows_valid": 10000,
            "run_id": "pins",
            "settings": {
                "ewm_span": 10,
                "fee_bps_per_side": 5.0,
                "hold_bars": 5,
                "slippage_bps_per_side": 5.0,
            },
            "total_errors": 0,
            "total_warns": 3665,
            "win_rate": 0.508357,
        },
    },
}


@pytest.mark.parametrize("scale", sorted(_SCALES))
def test_run_pipeline_layers_are_pinned(spark, tmp_path, scale):
    assert layer_digests(spark, _SCALES[scale], str(tmp_path / "run")) == _PINS[scale]
