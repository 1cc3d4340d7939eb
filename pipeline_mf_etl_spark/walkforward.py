"""Resumable walk-forward orchestration (SURVEY.md §2.8 M21).

The reference's walk-forward runner keys an output directory by a
config signature and keeps a ``wf_manifest.json`` recording per-split
status, so a crashed 50-split run resumes where it stopped instead of
recomputing everything (reference validation/walkforward.py:71-129,
193-207). This module is the Spark twin: the per-split computation is
the same single-pass train/test drift aggregation the oracle-certified
``m21_walkforward`` query runs (queries/validation.py), executed one
split at a time so each split is an independently committable unit.

Resume semantics mirror the reference exactly:
- signature = sha256 over the canonical config payload → run dir name;
  a changed config lands in a FRESH dir and recomputes everything.
- a split is skipped iff its manifest record says SUCCESS **and** its
  output parquet still exists on disk (_split_outputs_valid); `force`
  (or naming it in `force_splits`) recomputes it regardless.
- the manifest is rewritten atomically after every split, so a crash
  mid-run loses at most the in-flight split.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import safe_div
from pipeline_mf_etl_spark.operators.windows import series_window
from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.sources.writers import write_json_artifact

_TEST_HORIZON_DAYS = 7


def wf_signature(payload: dict) -> str:
    """Deterministic 16-hex config signature (reference
    validation/walkforward.py `_build_wf_signature`)."""
    blob = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]


def _split_stats(spark: SparkSession, sf_dir: str, train_end: str) -> DataFrame:
    """One split's per-event-type train/test forward stats + drift —
    the same semantics as the m21_walkforward query restricted to a
    single cut date (kept aligned so the batch query's DuckDB oracle
    indirectly certifies this per-split path too)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    labeled = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (safe_div(F.lead("value", 5).over(w), F.col("value")) - 1).alias("fwd_ret_5"),
    )
    cutoff = F.lit(train_end).cast("date")
    assigned = labeled.filter(
        F.col("d") <= F.date_add(cutoff, _TEST_HORIZON_DAYS)
    ).withColumn("is_train", F.col("d") <= cutoff)
    tr = F.when(F.col("is_train"), F.col("fwd_ret_5"))
    te = F.when(~F.col("is_train"), F.col("fwd_ret_5"))
    return assigned.groupBy("event_type").agg(
        F.sum(F.col("is_train").cast("long")).alias("train_n"),
        F.round(F.avg(tr), 6).alias("train_mean_fwd"),
        F.sum((~F.col("is_train")).cast("long")).alias("test_n"),
        F.round(F.avg(te), 6).alias("test_mean_fwd"),
        F.round(F.avg(te) - F.avg(tr), 6).alias("drift"),
    )


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, "wf_manifest.json")


def _load_or_init_manifest(output_dir: str, wf_run_id: str, payload: dict) -> dict:
    path = _manifest_path(output_dir)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    manifest = {
        "wf_run_id": wf_run_id,
        "config": payload,
        "train_end_list": payload["train_end_list"],
        "splits": [],
    }
    write_json_artifact(manifest, path)
    return manifest


def _split_record(manifest: dict, train_end: str) -> dict | None:
    for entry in manifest.get("splits", []):
        if entry.get("train_end") == train_end:
            return entry
    return None


def _upsert_split(manifest: dict, record: dict) -> None:
    splits = manifest.get("splits", [])
    for i, entry in enumerate(splits):
        if entry.get("train_end") == record.get("train_end"):
            splits[i] = record
            manifest["splits"] = splits
            return
    splits.append(record)
    manifest["splits"] = splits


def _split_outputs_valid(record: dict | None) -> bool:
    """SUCCESS record whose parquet still exists (the reference checks
    every artifact path in the record the same way)."""
    if not record or record.get("status") != "SUCCESS":
        return False
    out = record.get("stats_path", "")
    # Spark parquet dir: valid iff the commit marker survived
    return os.path.exists(os.path.join(out, "_SUCCESS"))


def run_walkforward(
    spark: SparkSession,
    sf_dir: str,
    output_root: str,
    train_ends: list[str],
    force: bool = False,
    force_splits: list[str] | None = None,
    max_splits: int | None = None,
) -> dict:
    """Run (or resume) a walk-forward pack. Returns the final manifest,
    where each split record carries status SUCCESS/FAILED and
    ``skipped_existing`` marking resume hits."""
    from datetime import date

    for d in train_ends:
        try:
            date.fromisoformat(d)
        except (TypeError, ValueError) as exc:
            # an unparseable cut date would cast to NULL in the split
            # filter and silently produce an empty-but-SUCCESS split
            raise ValueError(
                f"train_ends entries must be ISO dates, got {d!r}"
            ) from exc
    train_ends_iso = sorted(set(train_ends))
    if max_splits is not None and max_splits >= 0:
        # 0 means ZERO splits (a dry run), not "no limit"
        train_ends_iso = train_ends_iso[:max_splits]
    payload = {
        "sf_dir": sf_dir,
        "train_end_list": sorted(set(train_ends)),
        "test_horizon_days": _TEST_HORIZON_DAYS,
    }
    wf_run_id = f"wf-{wf_signature(payload)}"
    output_dir = os.path.join(output_root, wf_run_id)
    os.makedirs(output_dir, exist_ok=True)
    manifest = _load_or_init_manifest(output_dir, wf_run_id, payload)
    forced = set(force_splits or [])

    for train_end in train_ends_iso:
        current = _split_record(manifest, train_end)
        if not (force or train_end in forced) and _split_outputs_valid(current):
            current["skipped_existing"] = True
            _upsert_split(manifest, current)
            write_json_artifact(manifest, _manifest_path(output_dir))
            continue
        stats_path = os.path.join(output_dir, "splits", f"train_end={train_end}")
        t0 = time.monotonic()
        record = {
            "train_end": train_end,
            "stats_path": stats_path,
            "skipped_existing": False,
        }
        try:
            _split_stats(spark, sf_dir, train_end).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stats_path)
            record["status"] = "SUCCESS"
        except Exception as exc:  # record the failure, keep going
            record["status"] = "FAILED"
            record["error"] = repr(exc)[:500]
        record["duration_sec"] = round(time.monotonic() - t0, 3)
        _upsert_split(manifest, record)
        write_json_artifact(manifest, _manifest_path(output_dir))

    return manifest
