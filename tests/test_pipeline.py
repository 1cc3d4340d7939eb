"""Integration test for the medallion run orchestrator: every layer is
written, readable, and consistent; the run summary describes the data
actually on disk; settings knobs flow into the run."""

from __future__ import annotations

import json
import os

import pytest

from pipeline_mf_etl_spark.config import Settings, override
from pipeline_mf_etl_spark.pipeline import run_pipeline

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("medallion"))
    summary = run_pipeline(spark, SF_SMALL, out, run_id="test-run")
    return out, summary


def test_all_layers_written_and_readable(spark, run):
    out, summary = run
    bronze = spark.read.parquet(os.path.join(out, "bronze"))
    silver = spark.read.parquet(os.path.join(out, "silver"))
    gold = spark.read.parquet(os.path.join(out, "gold"))
    research = spark.read.parquet(os.path.join(out, "research"))
    trades = spark.read.parquet(os.path.join(out, "trades"))

    n_bronze, n_silver = bronze.count(), silver.count()
    assert n_bronze == n_silver > 0
    # gold keeps only valid rows
    assert gold.count() == silver.filter("is_valid_row").count()
    # year partitioning exists on the layered parquet (hive dirs)
    assert any(
        d.startswith("event_year=") for d in os.listdir(os.path.join(out, "bronze"))
    )
    # layer schemas carry their stage's columns
    assert "quality_error_count" in silver.columns
    assert {"ewm", "flow_state_code", "signal"} <= set(gold.columns)
    assert {"flow_state_code", "n_rows", "mean_fwd_ret_5"} <= set(research.columns)
    assert {"user_id", "entry_value", "exit_value", "net_return"} <= set(trades.columns)
    assert trades.count() == summary["n_trades"]


def test_summary_matches_disk(spark, run):
    out, summary = run
    path = os.path.join(out, "run_summary.json")
    assert os.path.exists(path)
    with open(path) as fh:
        on_disk = json.load(fh)
    assert on_disk == summary
    silver = spark.read.parquet(os.path.join(out, "silver"))
    assert summary["rows_total"] == silver.count()
    assert summary["rows_valid"] == silver.filter("is_valid_row").count()
    assert summary["rows_invalid"] == summary["rows_total"] - summary["rows_valid"]
    assert summary["run_id"] == "test-run"


def test_settings_knob_changes_run(spark, tmp_path):
    """hold_bars=2 must yield a different trade count than the default 5
    (shorter holds → non-overlapping slots free up sooner → more trades),
    and the summary must echo the knob."""
    out = str(tmp_path / "alt")
    s = override(Settings(), backtest={"hold_bars": 2})
    alt = run_pipeline(spark, SF_SMALL, out, settings=s, run_id="alt")
    assert alt["settings"]["hold_bars"] == 2
    assert alt["n_trades"] > 0


def test_cli_list_and_run(tmp_path, capsys):
    """CLI surface (B9): `list` names every registered query; `run`
    executes the pipeline and prints the summary JSON."""
    from pipeline_mf_etl_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "a1_grouped_stats" in out and "b6_trade_sim" in out

    dest = str(tmp_path / "cli_out")
    assert main(["run", "--sf-dir", SF_SMALL, "--output", dest, "--run-id", "c1"]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["run_id"] == "c1"
    assert os.path.exists(os.path.join(dest, "run_summary.json"))


def test_precision_policy_on_disk(spark, run):
    """Reference precision contract: bronze stores float64; silver/gold
    store float32 on disk (compute stays float64 — gold's ewm derives
    from re-promoted doubles)."""
    out, _ = run
    bronze = spark.read.parquet(os.path.join(out, "bronze"))
    silver = spark.read.parquet(os.path.join(out, "silver"))
    gold = spark.read.parquet(os.path.join(out, "gold"))
    assert dict(bronze.dtypes)["value"] == "double"
    assert dict(silver.dtypes)["value"] == "float"
    assert dict(gold.dtypes)["ewm"] == "float"


def test_cli_query_subcommand(capsys):
    """`query <name>` pretty-prints a registered query's rows."""
    from pipeline_mf_etl_spark.__main__ import main

    assert main(["query", "a1_grouped_stats", "--sf-dir", SF_SMALL]) == 0
    out = capsys.readouterr().out
    assert "sum_qty" in out
    assert main(["query", "nope_not_real"]) == 2


def test_run_pipeline_empty_input(spark, tmp_path):
    """An empty events table must still complete the run and emit the
    run_summary.json artifact (zero counts), not crash on layer
    read-back or NULL aggregates."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    empty = pd.DataFrame(
        {
            "event_id": pd.Series(dtype="int64"),
            "user_id": pd.Series(dtype="int64"),
            "ts": pd.Series(dtype="datetime64[us]"),
            "event_type": pd.Series(dtype=pd.StringDtype()),
            "value": pd.Series(dtype="float64"),
            "props": pd.Series(dtype=pd.StringDtype()),
        }
    )
    empty.to_parquet(src / "events.parquet")

    out = str(tmp_path / "out")
    summary = run_pipeline(spark, str(src), out, run_id="empty")
    assert summary["rows_total"] == 0
    assert summary["rows_valid"] == 0
    assert summary["n_trades"] == 0
    assert os.path.exists(os.path.join(out, "run_summary.json"))


def test_walkforward_resume_manifest(spark, tmp_path):
    """Interrupted walk-forward resumes: completed splits are skipped
    (manifest marks skipped_existing, parquet untouched), only missing
    splits compute; a changed config gets a fresh signature dir; the
    per-split stats equal the oracle-certified m21 batch query."""
    from pipeline_mf_etl_spark.queries import all_queries
    from pipeline_mf_etl_spark.walkforward import run_walkforward

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "wf")
    dates = ["2024-01-10", "2024-01-15", "2024-01-20"]

    # "crashed" first run: only 2 of 3 splits complete
    m1 = run_walkforward(spark, sf, root, dates, max_splits=2)
    assert [r["train_end"] for r in m1["splits"]] == dates[:2]
    assert all(r["status"] == "SUCCESS" for r in m1["splits"])
    assert all(not r["skipped_existing"] for r in m1["splits"])
    mtime_before = os.path.getmtime(
        os.path.join(m1["splits"][0]["stats_path"], "_SUCCESS")
    )

    # resume: the completed 2 skip, the 3rd computes
    m2 = run_walkforward(spark, sf, root, dates)
    by_end = {r["train_end"]: r for r in m2["splits"]}
    assert by_end[dates[0]]["skipped_existing"]
    assert by_end[dates[1]]["skipped_existing"]
    assert not by_end[dates[2]]["skipped_existing"]
    assert by_end[dates[2]]["status"] == "SUCCESS"
    assert os.path.getmtime(
        os.path.join(by_end[dates[0]]["stats_path"], "_SUCCESS")
    ) == mtime_before, "resume recomputed a completed split"

    # force recomputes a named split
    m3 = run_walkforward(spark, sf, root, dates, force_splits=[dates[0]])
    by_end = {r["train_end"]: r for r in m3["splits"]}
    assert not by_end[dates[0]]["skipped_existing"]
    assert by_end[dates[1]]["skipped_existing"]

    # a different config signature lands in a fresh dir
    m4 = run_walkforward(spark, sf, root, dates[:1])
    assert m4["wf_run_id"] != m2["wf_run_id"]

    # value parity with the batch m21 query (same split semantics)
    m21 = all_queries()["m21_walkforward"].spark(spark, sf)
    want = {
        (str(r["split_date"]), r["event_type"]): (
            r["train_n"], r["train_mean_fwd"], r["test_n"], r["test_mean_fwd"], r["drift"]
        )
        for r in m21.collect()
    }
    got_df = spark.read.parquet(by_end[dates[1]]["stats_path"])
    for r in got_df.collect():
        assert want[(dates[1], r["event_type"])] == (
            r["train_n"], r["train_mean_fwd"], r["test_n"], r["test_mean_fwd"], r["drift"]
        )


def test_backtest_report_matches_layer(spark, tmp_path):
    """The report twins must restate the WRITTEN trades layer: totals
    recomputed from trades.parquet equal backtest_report.json, and the
    md twin carries the same headline numbers."""
    from pipeline_mf_etl_spark.pipeline import run_backtest

    out = str(tmp_path / "bt")
    summary = run_backtest(spark, "/root/testdata/sf0.001", out)

    with open(os.path.join(out, "backtest_report.json")) as fh:
        report = json.load(fh)
    assert summary["n_trades"] == report["n_trades"]

    tr = spark.read.parquet(os.path.join(out, "trades")).toPandas()
    assert report["n_trades"] == len(tr)
    assert report["n_trades"] > 0, "fixture must produce trades"
    assert report["expectancy"] == round(float(tr["net_return"].mean()), 6)
    wins = tr.loc[tr["net_return"] > 0, "net_return"].sum()
    losses = tr.loc[tr["net_return"] < 0, "net_return"].sum()
    assert report["profit_factor"] == round(abs(wins / losses), 6)
    by_exit = {r["exit_reason"]: r["n"] for r in report["by_exit_reason"]}
    assert by_exit == tr["exit_reason"].value_counts().to_dict()
    assert report["max_drawdown"] is None or report["max_drawdown"] <= 0
    # suppression diagnostics present with the fixed-precedence reasons
    assert {r["reason"] for r in report["suppression_by_reason"]} <= {
        "PRICE_FLOOR", "WARMUP", "DOLLAR_VOL"
    }

    with open(os.path.join(out, "backtest_report.md")) as fh:
        md = fh.read()
    assert f"trades: {report['n_trades']}" in md
    assert "Suppressed signals by reason" in md


def test_stage_cli_subcommands(tmp_path, capsys):
    """bronze/research/backtest stage entry points write their layer +
    summary artifact through the CLI (reference exposes every stage as
    a command; the engine's CLI must too)."""
    from pipeline_mf_etl_spark.__main__ import main

    sf = "/root/testdata/sf0.001"
    for stage, artifact in (
        ("bronze", "bronze_summary.json"),
        ("research", "research_summary.json"),
        ("backtest", "backtest_report.json"),
    ):
        out = str(tmp_path / stage)
        assert main([stage, "--sf-dir", sf, "--output", out]) == 0
        assert os.path.exists(os.path.join(out, artifact)), stage
        payload = json.loads(capsys.readouterr().out)
        assert payload.get("stage") == stage

    # walkforward CLI: run 1 split, then resume with 2 — first skips
    wf_out = str(tmp_path / "wf")
    assert main([
        "walkforward", "--sf-dir", sf, "--output", wf_out,
        "--train-ends", "2024-01-10,2024-01-15", "--max-splits", "1",
    ]) == 0
    capsys.readouterr()
    assert main([
        "walkforward", "--sf-dir", sf, "--output", wf_out,
        "--train-ends", "2024-01-10,2024-01-15",
    ]) == 0
    manifest = json.loads(capsys.readouterr().out)
    by_end = {r["train_end"]: r for r in manifest["splits"]}
    assert by_end["2024-01-10"]["skipped_existing"]
    assert not by_end["2024-01-15"]["skipped_existing"]


def test_sensitivity_and_calibration_reports(spark, tmp_path, capsys):
    """The report packs must restate their oracle-certified grid queries:
    sensitivity's best combo is the max-robustness row; calibration's
    recommendation is the sweep row closest to the target eligibility."""
    from pipeline_mf_etl_spark.__main__ import main
    from pipeline_mf_etl_spark.reports import (
        run_calibration_report,
        run_sensitivity_report,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "rep")
    sens = run_sensitivity_report(spark, sf, out)
    assert sens["n_combos"] == len(sens["grid"]) > 0
    best = max(sens["grid"], key=lambda r: r["robustness_score"])
    assert sens["best_combo"]["robustness_score"] == best["robustness_score"]
    for artifact in ("sensitivity_report.json", "sensitivity_report.md"):
        assert os.path.exists(os.path.join(out, artifact))

    cal = run_calibration_report(spark, sf, out, target_eligibility=0.6)
    assert cal["n_combos"] == len(cal["sweep"]) > 0
    closest = min(abs(r["eligibility_rate"] - 0.6) for r in cal["sweep"])
    assert abs(cal["recommended"]["eligibility_rate"] - 0.6) == closest
    for artifact in ("calibration_report.json", "calibration_report.md"):
        assert os.path.exists(os.path.join(out, artifact))

    # CLI twin
    cli_out = str(tmp_path / "cli_rep")
    assert main(["report", "sensitivity", "--sf-dir", sf, "--output", cli_out]) == 0
    payload = json.loads(capsys.readouterr().out)
    assert payload["n_combos"] == sens["n_combos"]
    assert os.path.exists(os.path.join(cli_out, "sensitivity_report.json"))


def test_walkforward_rejects_malformed_dates_and_honors_zero_splits(spark, tmp_path):
    """A malformed/empty cut date must fail loudly (it would cast to
    NULL and write an empty-but-SUCCESS split); --max-splits 0 means
    ZERO splits (dry run), not 'no limit'."""
    import pytest as _pytest

    from pipeline_mf_etl_spark.walkforward import run_walkforward

    root = str(tmp_path / "wf")
    with _pytest.raises(ValueError, match="ISO dates"):
        run_walkforward(spark, "/root/testdata/sf0.001", root, ["2024-01-10", ""])
    with _pytest.raises(ValueError, match="ISO dates"):
        run_walkforward(spark, "/root/testdata/sf0.001", root, ["01/10/2024"])
    m = run_walkforward(
        spark, "/root/testdata/sf0.001", root, ["2024-01-10"], max_splits=0
    )
    assert m["splits"] == []


def test_compact_cli(spark, tmp_path, capsys):
    """`compact` CLI rewrites a small-files dir and prints the ops
    summary JSON."""
    import json

    from pipeline_mf_etl_spark.__main__ import main

    src = str(tmp_path / "small")
    spark.range(5_000).selectExpr("id", "id % 13 AS k").repartition(16).write.parquet(src)
    rc = main(["compact", src, str(tmp_path / "out"), "--target-mb", "256",
               "--sort-cols", "id"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    assert spark.read.parquet(str(tmp_path / "out")).count() == 5_000


def _rules_defined(tree) -> set[str]:
    """The medallion domain rules whose Spark definition ``tree`` holds."""
    import ast

    def const(node):
        return node.value if isinstance(node, ast.Constant) else None

    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Tuple) and [const(e) for e in node.elts] == ["purchase", 1, True]:
            found.add("state_map")
        elif isinstance(node, ast.Dict) and {"q_nonpositive_value", "q_gap_in_series"} & {
            const(k) for k in node.keys
        }:
            found.add("quality_flags")
        elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitAnd):
            for side in (node.left, node.right):
                if (
                    isinstance(side, ast.Call)
                    and isinstance(side.func, ast.Attribute)
                    and side.func.attr == "col"
                    and [const(a) for a in side.args] == ["eligible"]
                ):
                    found.add("entry_signal")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "when" and "PRICE_FLOOR" in [const(a) for a in node.args]:
                found.add("realism_gates")
            if node.func.attr == "otherwise":
                codes = [const(node.args[0])]
                cur = node.func.value
                while (
                    isinstance(cur, ast.Call)
                    and isinstance(cur.func, ast.Attribute)
                    and cur.func.attr == "when"
                ):
                    codes.append(const(cur.args[1]))
                    cur = cur.func.value
                if codes[::-1] == [0, 1, 2, 4, 3]:
                    found.add("flow_states")
    return found


def test_medallion_rules_have_one_home():
    """Drift guard: the S0-S4 flow-state chain, the B5 entry signal,
    the B4 gate chain, the B2 state-map tuple and the P2 event quality
    flags are each defined in one operators module, which both the
    ``run`` pipeline and the oracle-certified queries call; ``pipeline.py`` imports no query
    module (importing one registers queries and loads settings)."""
    import ast
    from pathlib import Path

    import pipeline_mf_etl_spark

    root = Path(pipeline_mf_etl_spark.__file__).parent
    homes: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        for rule in _rules_defined(ast.parse(path.read_text(encoding="utf-8"))):
            homes.setdefault(rule, []).append(path.relative_to(root).as_posix())
    assert homes == {
        "entry_signal": ["operators/backtest.py"],
        "flow_states": ["operators/windows.py"],
        "quality_flags": ["operators/windows.py"],
        "realism_gates": ["operators/backtest.py"],
        "state_map": ["operators/backtest.py"],
    }
    tree = ast.parse((root / "pipeline.py").read_text(encoding="utf-8"))
    imported = [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    imported += [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    assert not [m for m in imported if m.startswith("pipeline_mf_etl_spark.queries")], imported
