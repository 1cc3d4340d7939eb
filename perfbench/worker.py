"""One benchmark iteration in a fresh process: set up a session, run one
workload body once, write what happened to a JSON result file.

    python3 perfbench/worker.py --workload medallion_run --data DIR \
        --out DIR --result FILE [--trace]

The engine is only called, never patched. With ``--trace`` the body is
the traced replica: the same public calls as ``pipeline.run_pipeline``
and ``corpus_curate.curate_corpus``, in the same order, each group of
calls inside a span that sets the Spark job group to the span's label.
The caller enables the event log and rolls it up per span.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

#: run_summary.json fields checked against the pins
PIPELINE_FIELDS = (
    "rows_total", "rows_valid", "total_errors", "total_warns",
    "n_trades", "expectancy", "win_rate",
)


class Tracer:
    """Spans kept in memory; a span labels the Spark jobs it starts."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, label: str):
        if self.enabled:
            self.sc.setJobGroup(label, label)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append({"label": label, "t0": t0, "t1": t1})


def old_gen_peak_mb(spark) -> float:
    """Peak used size of the JVM's old generation: the live-set high-water
    mark of the heap, which the pre-touched heap keeps out of peak RSS."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            return pool.getPeakUsage().getUsed() / 2**20
    return 0.0


def force(df) -> tuple[int, int]:
    """Execute the whole plan: row count and an order-independent
    digest, ``bit_xor(xxhash64(all columns))``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    row = df.select(h).agg(F.count("*"), F.expr("bit_xor(h)")).collect()[0]
    return int(row[0]), int(row[1] or 0)


# --------------------------------------------------------------- medallion_run

def medallion(spark, data: str, out: str, tr: Tracer) -> dict:
    from pipeline_mf_etl_spark.pipeline import run_pipeline

    if not tr.enabled:
        summary = run_pipeline(spark, data, out)
        return {k: summary[k] for k in PIPELINE_FIELDS}
    return _medallion_traced(spark, data, out, tr)


def _downcast(df, width: str):
    """The per-layer store width policy of ``run_pipeline``."""
    from pyspark.sql import functions as F

    if width == "double":
        return df
    for c, t in df.dtypes:
        if t == "double":
            df = df.withColumn(c, F.col(c).cast(width))
    return df


def _medallion_traced(spark, data: str, out: str, tr: Tracer) -> dict:
    """``run_pipeline``'s calls, in its order, split into layer spans."""
    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark import pipeline as P
    from pipeline_mf_etl_spark.config import load_settings
    from pipeline_mf_etl_spark.reports import build_backtest_report, write_backtest_report
    from pipeline_mf_etl_spark.sources.readers import load_table
    from pipeline_mf_etl_spark.sources.writers import (
        write_csv_twin,
        write_json_artifact,
        write_partitioned,
    )

    s = load_settings()
    paths = {layer: os.path.join(out, layer)
             for layer in ("bronze", "silver", "gold", "research", "trades")}
    with tr.span("pipeline.bronze"):
        bronze = P.bronze_layer(load_table(spark, data, "events"))
        write_partitioned(_downcast(bronze, s.precision.bronze_float), paths["bronze"], ["event_year"])
        bronze = P._read_layer(spark, paths["bronze"], bronze)
    with tr.span("pipeline.silver"):
        silver = P.silver_layer(bronze)
        write_partitioned(_downcast(silver, s.precision.silver_float), paths["silver"], ["event_year"])
        silver = P._read_layer(spark, paths["silver"], silver)
    with tr.span("pipeline.gold"):
        gold = P.gold_layer(silver, s)
        write_partitioned(_downcast(gold, s.precision.gold_float), paths["gold"], ["event_year"])
        gold = P._read_layer(spark, paths["gold"], gold)
    with tr.span("pipeline.research"):
        research = P.research_layer(gold)
        research.coalesce(1).write.mode("overwrite").parquet(paths["research"])
        write_csv_twin(research, paths["research"] + "_csv")
    with tr.span("pipeline.backtest"):
        trades, suppression = P.backtest_layer(gold, s)
        trades.write.mode("overwrite").option("compression", "zstd").parquet(paths["trades"])
        trades = P._read_layer(spark, paths["trades"], trades)
        metric_row = P.trade_metrics(trades).collect()[0].asDict()
    with tr.span("pipeline.report"):
        report = build_backtest_report(trades, gold, suppression)
        write_backtest_report(report, out)
        quality = silver.agg(
            F.count("*").alias("rows_total"),
            F.coalesce(F.sum(F.col("is_valid_row").cast("long")), F.lit(0)).alias("rows_valid"),
            F.coalesce(F.sum(F.col("quality_error_count")), F.lit(0)).alias("total_errors"),
            F.coalesce(F.sum(F.col("quality_warn_count")), F.lit(0)).alias("total_warns"),
        ).collect()[0]
        summary = {
            **{k: int(quality[k]) for k in ("rows_total", "rows_valid", "total_errors", "total_warns")},
            "n_trades": int(metric_row["n_trades"]),
            "expectancy": metric_row["expectancy"],
            "win_rate": metric_row["win_rate"],
        }
        write_json_artifact(summary, os.path.join(out, "run_summary.json"))
    return summary


# ------------------------------------------------------------ curate_waterfall

def curate(spark, data: str, out: str, tr: Tracer) -> dict:
    from pipeline_mf_etl_spark.corpus_curate import curate_corpus

    if not tr.enabled:
        return _curation_counts(curate_corpus(spark, data, out))
    return _curate_traced(spark, data, out, tr)


def _curation_counts(report: dict) -> dict:
    return {"n_input": report["n_input"], "n_retained": report["n_retained"],
            **{f"dropped.{k}": v for k, v in report["dropped"].items()}}


def _curate_traced(spark, data: str, out: str, tr: Tracer) -> dict:
    """``curate_corpus``'s calls, in its order. The pair export is the
    first eager call inside ``curation_decision_frame``; issuing it just
    before lets its span stand alone, and the decision frame then reads
    the same per-process export."""
    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.corpus_curate import (
        DEFAULT_QUALITY_MIN,
        STAGES,
        curation_decision_frame,
        waterfall_counts,
    )
    from pipeline_mf_etl_spark.queries.dedup import verified_pairs_export
    from pipeline_mf_etl_spark.sources.readers import load_table
    from pipeline_mf_etl_spark.sources.writers import write_json_artifact

    with tr.span("curate.pair_export"):
        verified_pairs_export(spark, data)
    with tr.span("curate.decision"):
        docs = load_table(spark, data, "documents")
        decision = curation_decision_frame(spark, data, DEFAULT_QUALITY_MIN).persist()
    with tr.span("curate.waterfall"):
        counts = waterfall_counts(decision).collect()[0]
    with tr.span("curate.write"):
        any_drop = F.col("f_exact")
        for n in STAGES[1:]:
            any_drop = any_drop | F.col(f"f_{n}")
        curated = docs.join(decision.filter(~any_drop).select("doc_id"), "doc_id")
        curated.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
        decision.unpersist()
        report = {
            "n_input": int(counts["n_input"]),
            "n_retained": int(counts["n_retained"]),
            "dropped": {n: int(counts[f"dropped_{n}"]) for n in STAGES},
        }
        write_json_artifact(report, os.path.join(out, "curation_report.json"))
    return _curation_counts(report)


# ------------------------------------------------------------------ query_mix

def query_mix(spark, data: str, tr: Tracer, query_s: dict) -> dict:
    """One pass over ``run.MIX``; a query that raises is recorded as None
    and counts as a failed operation."""
    from pipeline_mf_etl_spark.queries import all_queries
    from run import MIX

    specs = all_queries()
    digests: dict[str, list[int] | None] = {}
    for name in MIX:
        t0 = time.monotonic()
        try:
            with tr.span(f"query.{name}"):
                digests[name] = list(force(specs[name].spark(spark, data)))
        except Exception:
            traceback.print_exc()
            digests[name] = None
        query_s[name] = time.monotonic() - t0
    return digests


# ----------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("medallion_run", "curate_waterfall", "query_mix"))
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args(argv)

    res: dict = {"error": None}
    spark = None
    try:
        from pipeline_mf_etl_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark(f"perfbench-{a.workload}")
        res["session_s"] = time.monotonic() - t0
        tr = Tracer(spark, a.trace)
        res["ready"] = time.time()
        t0 = time.monotonic()
        if a.workload == "medallion_run":
            res["outputs"] = medallion(spark, a.data, a.out, tr)
        elif a.workload == "curate_waterfall":
            res["outputs"] = curate(spark, a.data, a.out, tr)
        else:
            res["query_s"] = {}
            res["outputs"] = query_mix(spark, a.data, tr, res["query_s"])
        res["wall_s"] = time.monotonic() - t0
        res["spans"] = tr.spans
        res["old_gen_peak_mb"] = old_gen_peak_mb(spark)
    except Exception:
        res["error"] = traceback.format_exc()
    # The caller ends the process tree once the result exists; a traced
    # run first stops the session so the event log is complete.
    if spark is not None and a.trace:
        spark.stop()
    with open(a.result + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.replace(a.result + ".tmp", a.result)
    if spark is not None and not a.trace:
        spark.stop()
    return 1 if res["error"] else 0


if __name__ == "__main__":
    sys.exit(main())
