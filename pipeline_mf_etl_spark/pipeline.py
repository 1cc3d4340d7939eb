"""Medallion run orchestrator: bronze → silver → gold → research →
backtest over the events series, persisting each layer as partitioned
parquet plus a ``run_summary.json`` artifact contract.

Mirrors the reference's layer runner + run-summary shape
(bronze/pipeline.py:70-95,366-426: per-stage outputs, status counts,
atomic JSON summary) re-expressed Spark-first: each layer is ONE
declarative write (task-atomic via Spark's commit protocol, partitioned
by event year so downstream reads partition-prune), and the per-stage
metrics come from the written data itself, not driver-side accumulation.

Scale notes: every stage is a linear pass; the only shuffles are the
per-series window (one hash exchange on user_id per layer, reused
within the layer's window stack) and the layer writes. Nothing is
collected to the driver except the tiny summary aggregates.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.config import Settings, load_settings
from pipeline_mf_etl_spark.operators.backtest import (
    b4_gate_columns,
    simulate_trades,
    with_entry_signal,
    with_state_map,
)
from pipeline_mf_etl_spark.operators.ewm import ewm_smooth
from pipeline_mf_etl_spark.operators.windows import (
    quality_flags,
    series_window,
    with_flow_state,
)
from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.sources.writers import (
    write_csv_twin,
    write_json_artifact,
    write_partitioned,
)


def bronze_layer(ev: DataFrame) -> DataFrame:
    """P1 normalize: trimmed/uppercased labels, parsed props, synthetic
    bar id, partition column ``event_year``."""
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.upper(F.trim("event_type")).alias("event_type"),
        F.col("value").cast("double").alias("value"),
        F.get_json_object("props", "$.k").cast("double").alias("prop_k"),
        F.col("ts").cast("date").alias("event_date"),
        F.year("ts").alias("event_year"),
    )


def silver_layer(bronze: DataFrame, gap_days: int = 7) -> DataFrame:
    """P2/P3 quality flags + error counts + valid marker."""
    flags, warns = quality_flags(series_window(), gap_days)
    out = bronze.withColumns({**flags, **warns})
    err = sum(F.col(n).cast("int") for n in flags)
    warn = sum(F.col(n).cast("int") for n in warns)
    return (
        out.withColumn("quality_error_count", err)
        .withColumn("quality_warn_count", warn)
        .withColumn("is_valid_row", F.col("quality_error_count") == 0)
    )


def gold_layer(silver: DataFrame, s: Settings) -> DataFrame:
    """W3 EWM smoothing + S0-S4 flow states + B2 state map + B5 entry
    signals over the valid silver rows (the f1/b2/b5 builders)."""
    valid = silver.filter("is_valid_row").drop(
        *[c for c in silver.columns if c.startswith("q_")]
    )
    df = ewm_smooth(valid, "value", s.indicators.ewm_span, "ewm")
    w = series_window()
    df = with_flow_state(df, "ewm", w, "flow_state_code")
    # bronze upper-cases event types
    return with_entry_signal(with_state_map(df, upper=True), w)


def research_layer(gold: DataFrame) -> DataFrame:
    """M8-style per-state profile: occupancy and forward outcome."""
    w = series_window()
    fwd = (F.lead("value", 5).over(w) / F.col("value") - 1).alias("fwd_ret_5")
    enriched = gold.select("flow_state_code", "value", fwd)
    return (
        enriched.groupBy("flow_state_code")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg("fwd_ret_5"), 6).alias("mean_fwd_ret_5"),
            F.round(F.stddev_samp("fwd_ret_5"), 6).alias("std_fwd_ret_5"),
        )
        .orderBy("flow_state_code")
    )


def backtest_layer(gold: DataFrame, s: Settings) -> tuple[DataFrame, DataFrame]:
    """B4+B6/B7: the b4 execution-realism gates, trade simulation on
    the surviving signals, and the suppressed entry signals rolled up by
    primary reason, so the report can show WHY candidates were dropped
    (reference suppression diagnostics, execution_realism.py:440-470).

    Returns (trades, suppression_by_reason); callers compute summary
    metrics with :func:`trade_metrics` over whichever frame they mean
    (usually the read-back written layer).
    """
    dv = F.col("value") * F.col("prop_k")
    bars = gold.select(
        "user_id", "ts", "event_id", "value", "side", "signal", dv.alias("dollar_vol")
    )
    bars = b4_gate_columns(bars, s).withColumnRenamed("primary_reason", "suppress_reason")
    suppression = (
        bars.filter(F.col("signal") & ~F.col("exec_eligible"))
        .groupBy("suppress_reason")
        .agg(F.count("*").alias("n_suppressed"))
        .orderBy("suppress_reason")
    )
    gated = bars.withColumn("signal", F.col("signal") & F.col("exec_eligible")).select(
        "user_id", "ts", "event_id", "value", "side", "signal"
    )
    trades = simulate_trades(
        gated,
        hold_bars=s.backtest.hold_bars,
        fee_bps=s.backtest.fee_bps_per_side,
        slippage_bps=s.backtest.slippage_bps_per_side,
    )
    return trades, suppression


def trade_metrics(trades: DataFrame) -> DataFrame:
    """B7 summary aggregate (one row)."""
    return trades.agg(
        F.count("*").alias("n_trades"),
        F.round(F.avg("net_return"), 6).alias("expectancy"),
        F.round(F.avg((F.col("net_return") > 0).cast("double")), 6).alias("win_rate"),
        F.round(F.stddev_pop("net_return"), 6).alias("net_std"),
    )


def run_bronze(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: bronze normalize + silver quality flags only
    (the reference's ``bronze-run`` writes normalized rows WITH their
    quality flags; here that is the silver frame written as one layer).
    Returns the stage summary (also persisted as JSON)."""
    s = settings or load_settings()
    del s  # bronze has no knobs today; parity with the other stages
    silver = silver_layer(bronze_layer(load_table(spark, sf_dir, "events")))
    path = os.path.join(output_root, "bronze")
    write_partitioned(silver, path, ["event_year"])
    # summary from the WRITTEN layer: reading back costs one pruned scan
    # instead of re-executing the whole bronze→silver plan
    silver = _read_layer(spark, path, silver)
    q = silver.agg(
        F.count("*").alias("rows_total"),
        F.coalesce(F.sum(F.col("is_valid_row").cast("long")), F.lit(0)).alias("rows_valid"),
    ).collect()[0]
    summary = {
        "stage": "bronze",
        "rows_total": int(q["rows_total"]),
        "rows_valid": int(q["rows_valid"]),
        "output": path,
    }
    write_json_artifact(summary, os.path.join(output_root, "bronze_summary.json"))
    return summary


def run_research(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: chain to gold in memory, write the research
    profile + csv twin (reference ``research-cluster-run`` shape)."""
    s = settings or load_settings()
    gold = gold_layer(silver_layer(bronze_layer(load_table(spark, sf_dir, "events"))), s)
    research = research_layer(gold)
    path = os.path.join(output_root, "research")
    research.coalesce(1).write.mode("overwrite").parquet(path)
    write_csv_twin(research, path + "_csv")
    summary = {
        "stage": "research",
        # count the WRITTEN rows — research.count() would re-run the
        # whole bronze→gold→profile chain a second time
        "n_states": _read_layer(spark, path, research).count(),
        "output": path,
    }
    write_json_artifact(summary, os.path.join(output_root, "research_summary.json"))
    return summary


def run_backtest(
    spark: SparkSession, sf_dir: str, output_root: str, settings: Settings | None = None
) -> dict:
    """Stage entry point: chain to gold in memory, simulate, write the
    trades layer + report twins (reference ``backtest-run`` shape)."""
    from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report

    s = settings or load_settings()
    gold = gold_layer(silver_layer(bronze_layer(load_table(spark, sf_dir, "events"))), s)
    trades, suppression = backtest_layer(gold, s)
    path = os.path.join(output_root, "trades")
    trades.write.mode("overwrite").option("compression", "zstd").parquet(path)
    trades = _read_layer(spark, path, trades)
    report = build_backtest_report(trades, gold, suppression)
    write_backtest_report(report, output_root)
    summary = {"stage": "backtest", "output": path, **report}
    write_json_artifact(summary, os.path.join(output_root, "backtest_summary.json"))
    return summary


def _promote_doubles(df: DataFrame) -> DataFrame:
    """float32-stored layers compute in float64 downstream (reference
    transform/dtypes.py: store float32, compute after .to_numpy() in
    float64)."""
    for c, t in df.dtypes:
        if t == "float":
            df = df.withColumn(c, F.col(c).cast("double"))
    return df


def _read_layer(spark: SparkSession, path: str, fallback: DataFrame) -> DataFrame:
    """Read a written layer back (partition-pruned downstream reads).

    An EMPTY dataset write leaves only _SUCCESS — no parquet footers to
    infer a schema from — so fall back to the (equally empty) in-memory
    frame; the run must still complete and emit its summary artifact.
    """
    from pyspark.errors import AnalysisException

    try:
        return _promote_doubles(spark.read.parquet(path))
    except AnalysisException:
        return fallback


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_root: str,
    settings: Settings | None = None,
    run_id: str = "run-0",
) -> dict:
    """Chain bronze→silver→gold→research→backtest, write every layer as
    partitioned parquet under ``output_root``, and persist
    ``run_summary.json`` (atomic temp+rename). Returns the summary dict.
    """
    s = settings or load_settings()
    t0 = time.monotonic()
    paths = {
        layer: os.path.join(output_root, layer)
        for layer in ("bronze", "silver", "gold", "research", "trades")
    }

    def downcast(df: DataFrame, width: str) -> DataFrame:
        """Layer write-width policy (reference settings.yaml `precision`:
        compute in float64, store silver/gold as float32). Reading back
        re-promotes to double for the next stage's float64 compute."""
        if width == "double":
            return df
        for c, t in df.dtypes:
            if t == "double":
                df = df.withColumn(c, F.col(c).cast(width))
        return df

    ev = load_table(spark, sf_dir, "events")
    bronze = bronze_layer(ev)
    write_partitioned(downcast(bronze, s.precision.bronze_float), paths["bronze"], ["event_year"])
    bronze = _read_layer(spark, paths["bronze"], bronze)

    silver = silver_layer(bronze)
    write_partitioned(downcast(silver, s.precision.silver_float), paths["silver"], ["event_year"])
    silver = _read_layer(spark, paths["silver"], silver)

    gold = gold_layer(silver, s)
    write_partitioned(downcast(gold, s.precision.gold_float), paths["gold"], ["event_year"])
    gold = _read_layer(spark, paths["gold"], gold)

    research = research_layer(gold)
    research.coalesce(1).write.mode("overwrite").parquet(paths["research"])
    write_csv_twin(research, paths["research"] + "_csv")

    trades, suppression = backtest_layer(gold, s)
    trades.write.mode("overwrite").option("compression", "zstd").parquet(paths["trades"])
    # metrics + report from the WRITTEN layer: one simulation pass total
    trades = _read_layer(spark, paths["trades"], trades)
    metric_row = trade_metrics(trades).collect()[0].asDict()

    # report twins (json + md) over the WRITTEN trades layer, so the
    # report describes what is on disk (reference backtest/reports.py)
    from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report

    report = build_backtest_report(trades, gold, suppression)
    write_backtest_report(report, output_root)

    # summary aggregates come from the WRITTEN layers (read-back counts),
    # so the artifact describes what is actually on disk
    # coalesce: SUM over an empty layer is NULL, and the summary (the
    # artifact contract) must still be produced for an empty input
    quality = silver.agg(
        F.count("*").alias("rows_total"),
        F.coalesce(F.sum(F.col("is_valid_row").cast("long")), F.lit(0)).alias("rows_valid"),
        F.coalesce(F.sum(F.col("quality_error_count")), F.lit(0)).alias("total_errors"),
        F.coalesce(F.sum(F.col("quality_warn_count")), F.lit(0)).alias("total_warns"),
    ).collect()[0]

    summary = {
        "run_id": run_id,
        "sf_dir": sf_dir,
        "duration_sec": round(time.monotonic() - t0, 3),
        "rows_total": int(quality["rows_total"]),
        "rows_valid": int(quality["rows_valid"]),
        "rows_invalid": int(quality["rows_total"] - quality["rows_valid"]),
        "total_errors": int(quality["total_errors"]),
        "total_warns": int(quality["total_warns"]),
        "n_trades": int(metric_row["n_trades"]),
        "expectancy": metric_row["expectancy"],
        "win_rate": metric_row["win_rate"],
        "settings": {
            "hold_bars": s.backtest.hold_bars,
            "fee_bps_per_side": s.backtest.fee_bps_per_side,
            "slippage_bps_per_side": s.backtest.slippage_bps_per_side,
            "ewm_span": s.indicators.ewm_span,
        },
        "outputs": paths,
    }
    write_json_artifact(summary, os.path.join(output_root, "run_summary.json"))
    return summary
