"""Stacked ML training-dataset export (reference ``export-ml-dataset``,
``gold/features_pipeline.py:575-680``).

The reference walks one Gold feature parquet per symbol, concatenates
the frames driver-side, filters, samples with a seeded shuffle, sorts
globally, and writes one dataset file. At 100 TB none of that survives:
here the same dataset is ONE distributed composition —

* feature families come from the already-certified query surface
  (viewer panel, flow states, flow activity, run lengths) and
  are stacked with equi-joins on the (event_id, user_id) key, so every
  join is a co-partitioned hash join, never a cross product;
* date filters push down to the scan where the column allows it;
* ``symbols_limit`` keeps the N smallest series ids via a broadcast
  semi-join (the reference's "first N files");
* ``sample_frac`` is an md5-fold Bernoulli on event_id — deterministic
  and stable under repartitioning, unlike the reference's
  seeded-shuffle sample which depends on row order (same mechanism as
  the certified o4b/o9 samplers);
* the null-key-feature drop mirrors
  ``default_drop_null_key_features`` (features_pipeline.py:641-645);
* the sink is partition-sorted parquet (zstd) + an atomic metadata
  JSON, not a driver-side concat.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.windows import SERIES_KEY, sort_series
from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.sources.writers import write_json_artifact

# Reference key-readiness columns (features_pipeline.py:641) mapped to
# this engine's feature names: a row enters the dataset only when every
# key feature is present.
KEY_FEATURES = ("tmf_raw", "flow", "activity_bias")

_SAMPLE_SALT = "ml-export:"


def _hash_unit(col) -> F.Column:
    """Deterministic [0, 1) fold of md5(salt || id) — engine-agnostic,
    order-independent (shared ``md5_unit`` idiom)."""
    from pipeline_mf_etl_spark.operators.dedupe import md5_unit

    return md5_unit(col, _SAMPLE_SALT)


def build_ml_dataset(
    spark: SparkSession,
    sf_dir: str,
    start_date: str | None = None,
    end_date: str | None = None,
    symbols_limit: int | None = None,
    sample_frac: float | None = None,
) -> DataFrame:
    """Compose the stacked per-bar ML feature frame (lazy)."""
    if sample_frac is not None and not (0.0 < sample_frac <= 1.0):
        raise ValueError("sample_frac must be within (0, 1].")
    from pipeline_mf_etl_spark.queries.flow import f1_flow_states, f2_flow_activity
    from pipeline_mf_etl_spark.queries.viewer import _panel_frame
    from pipeline_mf_etl_spark.queries.windows import w6_run_length

    key = ["event_id", "user_id"]
    pan = _panel_frame(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        "close",
        "volume",
        "tmf_raw",
        "tti_raw",
        *[
            F.round(c, 6).alias(c)
            for c in (
                "tmf_slope_1",
                "tmf_slope_5",
                "tti_slope_1",
                "tti_slope_5",
                "ret_1",
                "ret_5",
                "range_pct",
                "dollar_vol",
            )
        ],
        F.round("dv20", 6).alias("dollar_vol_20"),
    )
    flow = f1_flow_states(spark, sf_dir).select(*key, "flow", "flow_state_code")
    act = f2_flow_activity(spark, sf_dir).select(
        *key, "up_20", "down_20", "activity_bias", "error_recency"
    )
    runs = w6_run_length(spark, sf_dir).select(
        *key,
        F.col("event_type").alias("state"),
        "state_run_length",
        "transition",
    )
    ds = pan.join(flow, key).join(act, key).join(runs, key)

    if start_date is not None:
        ds = ds.filter(F.col("ts").cast("date") >= F.lit(start_date).cast("date"))
    if end_date is not None:
        ds = ds.filter(F.col("ts").cast("date") <= F.lit(end_date).cast("date"))
    if symbols_limit is not None:
        keep = (
            load_table(spark, sf_dir, "events")
            .select("user_id")
            .distinct()
            .orderBy("user_id")
            .limit(int(symbols_limit))
        )
        ds = ds.join(F.broadcast(keep), "user_id")
    # default_drop_null_key_features (features_pipeline.py:641-645)
    for c in KEY_FEATURES:
        ds = ds.filter(F.col(c).isNotNull())
    if sample_frac is not None and sample_frac < 1.0:
        ds = ds.filter(_hash_unit(F.col("event_id")) < F.lit(float(sample_frac)))
    return ds


def export_ml_dataset(
    spark: SparkSession,
    sf_dir: str,
    output: str,
    start_date: str | None = None,
    end_date: str | None = None,
    symbols_limit: int | None = None,
    sample_frac: float | None = None,
) -> dict:
    """Write the dataset (partition-sorted parquet, zstd) + metadata
    JSON under ``<output>/``; return the metadata summary."""
    ds = build_ml_dataset(
        spark,
        sf_dir,
        start_date=start_date,
        end_date=end_date,
        symbols_limit=symbols_limit,
        sample_frac=sample_frac,
    )
    dataset_path = f"{output}/ml_dataset.parquet"
    (
        sort_series(ds.repartition(SERIES_KEY))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(dataset_path)
    )
    written = spark.read.parquet(dataset_path)
    counts = written.agg(
        F.count("*").alias("rows"), F.countDistinct("user_id").alias("symbols")
    ).collect()[0]
    meta = {
        "run_id": f"ml-dataset-v1-{uuid.uuid4().hex[:12]}",
        "generated_ts": datetime.now(timezone.utc).isoformat(),
        "sf_dir": sf_dir,
        "dataset_path": dataset_path,
        "row_count": int(counts["rows"]),
        "symbol_count": int(counts["symbols"]),
        "columns": written.columns,
        "filters": {
            "start_date": start_date,
            "end_date": end_date,
            "symbols_limit": symbols_limit,
            "sample_frac": sample_frac,
            "key_features": list(KEY_FEATURES),
        },
    }
    write_json_artifact(meta, f"{output}/ml_dataset_metadata.json")
    return meta
