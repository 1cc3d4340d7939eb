"""ML dataset export contract (reference ``export-ml-dataset``,
gold/features_pipeline.py:575-680): stacked per-bar feature frame with
date/symbol/sample filters, null-key-feature drop, parquet + metadata
sidecar."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from pipeline_mf_etl_spark.ml_export import (
    KEY_FEATURES,
    build_ml_dataset,
    export_ml_dataset,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_export_writes_dataset_and_metadata(spark, tmp_path):
    out = str(tmp_path)
    meta = export_ml_dataset(spark, SF_SMOKE, out)
    assert os.path.exists(os.path.join(out, "ml_dataset_metadata.json"))
    on_disk = json.load(open(os.path.join(out, "ml_dataset_metadata.json")))
    assert on_disk["row_count"] == meta["row_count"] > 0
    df = spark.read.parquet(meta["dataset_path"])
    assert df.count() == meta["row_count"]
    assert df.select("user_id").distinct().count() == meta["symbol_count"]
    # every key feature is non-null in the exported rows
    for c in KEY_FEATURES:
        assert df.filter(F.col(c).isNull()).count() == 0, c


def test_export_filters_compose(spark):
    full = build_ml_dataset(spark, SF_SMOKE)
    n_full = full.count()

    limited = build_ml_dataset(spark, SF_SMOKE, symbols_limit=3)
    assert limited.select("user_id").distinct().count() <= 3

    lo, hi = full.agg(
        F.min(F.col("ts").cast("date")), F.max(F.col("ts").cast("date"))
    ).collect()[0]
    dated = build_ml_dataset(spark, SF_SMOKE, start_date=str(lo), end_date=str(lo))
    n_dated = dated.count()
    assert 0 < n_dated < n_full
    assert dated.filter(F.col("ts").cast("date") != F.lit(str(lo)).cast("date")).count() == 0

    # hash sampling is deterministic (same rows both runs) and thins
    half_a = build_ml_dataset(spark, SF_SMOKE, sample_frac=0.5)
    half_b = build_ml_dataset(spark, SF_SMOKE, sample_frac=0.5)
    na, nb = half_a.count(), half_b.count()
    assert na == nb
    assert 0.3 * n_full < na < 0.7 * n_full


def test_export_rejects_bad_sample_frac(spark):
    import pytest

    with pytest.raises(ValueError, match="sample_frac"):
        build_ml_dataset(spark, SF_SMOKE, sample_frac=1.5)


def test_export_join_plan_has_no_cartesian(spark):
    plan = (
        build_ml_dataset(spark, SF_SMOKE, symbols_limit=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# recorded while the viewer panel ran as a pandas island
_DATASET_PIN = {
    "dtypes": "0e63643c1fb40b72f5cbb45cee360bccc7dad8f89760de9f066afb0201b6f61b",
    "count": 7000,
    "xor": 7957236176012560160,
}


def test_ml_dataset_is_pinned(spark):
    """The stacked dataset at sf0.01: column names and types, the row
    count and ``bit_xor`` of ``xxhash64`` over every column."""
    ds = build_ml_dataset(spark, SF_ORACLE)
    n, h = ds.agg(F.count("*"), F.bit_xor(F.xxhash64(*ds.columns))).first()
    dtypes = hashlib.sha256(repr(ds.dtypes).encode()).hexdigest()
    assert {"dtypes": dtypes, "count": n, "xor": h} == _DATASET_PIN
