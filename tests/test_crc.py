"""Shared table CRC (pipeline_mf_etl_spark/crc.py): the catalogue check
values of every CRC the codecs use, through the codecs' own entry
points, and a drift guard that keeps the codec modules from growing
private 256-entry tables again."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import pipeline_mf_etl_spark
from pipeline_mf_etl_spark.operators.flac import crc8, crc16
from pipeline_mf_etl_spark.sources.bzip2 import bz2_crc32
from pipeline_mf_etl_spark.sources.snappyframe import crc32c
from pipeline_mf_etl_spark.sources.xz import xz_crc64


@pytest.mark.parametrize(
    "crc, check",
    [
        (crc8, 0xF4),  # CRC-8, poly 0x07
        (crc16, 0xFEE8),  # CRC-16/UMTS, poly 0x8005
        (bz2_crc32, 0xFC891918),  # CRC-32/BZIP2
        (xz_crc64, 0x995DC9BBDF1939FA),  # CRC-64/XZ
        (crc32c, 0xE3069283),  # CRC-32C (Castagnoli)
    ],
    ids=["crc8", "crc16", "crc32_bzip2", "crc64_xz", "crc32c"],
)
def test_catalogue_check_value(crc, check):
    assert crc(b"123456789") == check


def test_xz_crc64_chains_across_calls():
    assert xz_crc64(b"56789", xz_crc64(b"1234")) == xz_crc64(b"123456789")


_CRC_MODULES = (
    "operators/flac.py",
    "sources/bzip2.py",
    "sources/xz.py",
    "sources/snappyframe.py",
    "sources/tfrecord.py",
)


@pytest.mark.parametrize("rel", _CRC_MODULES)
def test_no_private_crc_table(rel):
    """Drift guard: none of the CRC-bearing codec modules builds its own
    256-entry table (a ``range(256)`` loop or a 256-element literal)."""
    path = Path(pipeline_mf_etl_spark.__file__).parent / rel
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "range"
            and [getattr(a, "value", None) for a in node.args] == [256]
        ):
            pytest.fail(f"{rel}:{node.lineno} loops over range(256)")
        if isinstance(node, (ast.List, ast.Tuple)) and len(node.elts) == 256:
            pytest.fail(f"{rel}:{node.lineno} has a 256-element literal")
