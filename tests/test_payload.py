"""The codec-island contract kept by pipeline_mf_etl_spark/payload.py.

``payload_schemas.json`` pins ``df.schema.json()`` of every codec
wrapper (33 ``with_*_payload`` synthesizers, 39 decoders) as recorded
before the wrappers moved onto ``synth_payload``/``map_payload``: column
names, types and per-field nullability (oracle parity compares values
only, so a flipped ``payload`` nullability would pass it). Taking a
schema is analysis-only; no Spark job runs. Drift guards keep the 12
codec modules from calling ``mapInPandas`` directly again.
"""

from __future__ import annotations

import ast
import importlib
import json
from pathlib import Path

import pytest

import pipeline_mf_etl_spark
from pipeline_mf_etl_spark.payload import map_payload

_PINNED = json.loads((Path(__file__).parent / "payload_schemas.json").read_text())
_ROOT = Path(pipeline_mf_etl_spark.__file__).parent
_CODEC_MODULES = sorted({name.rsplit(".", 1)[0] for name in _PINNED})


def _module_path(module: str) -> Path:
    return _ROOT.joinpath(*module.split(".")).with_suffix(".py")


def test_pins_cover_the_twelve_codec_modules():
    assert len(_PINNED) == 72
    assert sum(n.rsplit(".", 1)[1].startswith("with_") for n in _PINNED) == 33
    assert len(_CODEC_MODULES) == 12


@pytest.mark.parametrize("name", sorted(_PINNED))
def test_wrapper_schema_is_pinned(spark, name):
    module, fn = name.rsplit(".", 1)
    wrapper = getattr(importlib.import_module(f"pipeline_mf_etl_spark.{module}"), fn)
    if fn.startswith("with_"):
        src = spark.createDataFrame(
            [(1, "hello", "en")], "doc_id long, text string, lang string"
        )
    else:
        src = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    assert json.loads(wrapper(src).schema.json()) == _PINNED[name]


@pytest.mark.parametrize("module", _CODEC_MODULES)
def test_codec_module_routes_batches_through_payload(module):
    """Drift guard: no codec module calls ``mapInPandas`` itself, and
    every pinned wrapper calls ``synth_payload`` or ``map_payload``."""
    tree = ast.parse(_module_path(module).read_text())
    assert not [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "mapInPandas"
    ]
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    for name in _PINNED:
        mod, fn = name.rsplit(".", 1)
        if mod != module:
            continue
        called = {
            n.func.id
            for n in ast.walk(defs[fn])
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        helper = "synth_payload" if fn.startswith("with_") else "map_payload"
        assert helper in called, fn


def test_map_payload_passes_null_and_fans_out(spark):
    """``rows`` sees ``None`` for a NULL payload and may emit zero, one
    or many rows per document."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType(), False), StructField("n", LongType(), True)]
    )

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), None)
            return
        for b in payload:
            yield (int(doc_id), b)

    src = spark.createDataFrame(
        [(1, None), (2, b""), (3, b"\x05\x07")], "doc_id long, payload binary"
    )
    got = sorted(map_payload(src, schema, rows).collect(), key=tuple)
    assert [tuple(r) for r in got] == [(1, None), (3, 5), (3, 7)]
