"""Registry contract tests: eager flag + export run-marker freshness."""

from __future__ import annotations

import pytest

from pipeline_mf_etl_spark.queries import all_queries


def test_eager_flag_covers_export_backed_oracles():
    """Every query whose oracle reads the persisted-export tree must be
    flagged eager (its builder writes that export at build time), and
    the flag set matches the documented families (ml/bootstrap/IVF/
    sketch)."""
    specs = all_queries()
    eager = {n for n, s in specs.items() if s.eager}
    export_backed = {
        n for n, s in specs.items() if s.oracle and ".artifacts/ml_export" in s.oracle
    }
    assert export_backed <= eager, export_backed - eager
    # a17 probes a collected sketch at build time: eager without an oracle
    assert "a17_heavy_hitters" in eager
    # spot-check lazy builders stay lazy
    for lazy in ("a1_grouped_stats", "w2_rolling_stats", "d2_minhash_lsh"):
        assert lazy in specs and not specs[lazy].eager


def test_entrypoint_surfaces_eager_set():
    import __spark_entry__ as entry

    eager = entry.eager_queries()
    assert "m4_kmeans_profile" in eager
    assert "a1_grouped_stats" not in eager
    assert eager <= set(entry.queries())


def test_assert_exports_fresh_rejects_stale(tmp_path, monkeypatch):
    """An oracle referencing an export this process never wrote must be
    refused loudly (ADVICE r3: stale-export coupling)."""
    from pipeline_mf_etl_spark.queries import export as ex

    sql = f"SELECT * FROM read_parquet('{ex._EXPORT_ROOT}/sf9.99/nonesuch/*.parquet')"
    with pytest.raises(RuntimeError, match="never wrote"):
        ex.assert_exports_fresh(sql)
    # non-export oracles pass through untouched
    ex.assert_exports_fresh("SELECT 1")


def test_missing_query_module_raises(monkeypatch):
    """A listed module that fails to import must fail the registry,
    not drop its queries from the driver surface and the parity
    parametrization without a word."""
    from pipeline_mf_etl_spark.queries import registry

    monkeypatch.setattr(
        registry,
        "_QUERY_MODULES",
        registry._QUERY_MODULES + ("pipeline_mf_etl_spark.queries._absent",),
    )
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()


def test_no_query_escapes_certification_window():
    """The backlog invariant as code (r8 verdict task 7: g3 slipped past
    the r8 window because it registered after the pin): every registered
    query must either sit in the current _PRIORITY window (certified
    this round) or carry a CORRECTNESS row from some prior round. A new
    query without window placement fails HERE, not at judge time."""
    import glob
    import json
    import os

    from pipeline_mf_etl_spark.queries import all_queries
    from pipeline_mf_etl_spark.queries.registry import _PRIORITY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    certified: set[str] = set()
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(f, encoding="utf-8") as fh:
            certified.update(json.load(fh))

    registered = set(all_queries())
    window = set(_PRIORITY)
    # the window itself must name only real queries (a typo in
    # _PRIORITY silently shrinks the certification slots)
    assert window <= registered, sorted(window - registered)
    uncovered = registered - window - certified
    assert not uncovered, (
        f"queries registered but neither in the current _PRIORITY window "
        f"nor ever driver-certified: {sorted(uncovered)} — add them to "
        f"_PRIORITY in queries/registry.py"
    )


def test_no_certification_older_than_four_rounds():
    """r12 verdict task 9 + r13 verdict task 2: certification freshness
    as code. Every driver-visible query whose latest driver-green round
    is more than 4 rounds behind the CURRENT round (max CORRECTNESS
    round + 1) must sit inside the current 50-slot window — i.e. the
    rotation can never let a row drift past 4 rounds without
    re-certification. Boundary tolerance (r13 task 2): the moment the
    driver drops this round's artifact, the NEXT round's stale cohort
    becomes overdue before the next rotation commit exists; rows that
    are exactly at the 5-round boundary AND listed in _PRIORITY's
    post-window tail (the documented next-round rotation head) pass —
    a genuinely skipped rotation (6+ rounds stale, or stale rows the
    tail never names) still fails."""
    import glob
    import json
    import os

    import __spark_entry__ as entry
    from pipeline_mf_etl_spark.queries.registry import _PRIORITY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_green: dict[str, int] = {}
    rounds = []
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        rounds.append(rnd)
        with open(f, encoding="utf-8") as fh:
            for q, row in json.load(fh).items():
                ok = (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match") is not False
                )
                if ok:
                    latest_green[q] = max(latest_green.get(q, 0), rnd)
    if not rounds:
        return  # fresh clone without driver artifacts
    current = max(rounds) + 1
    window = set(list(entry.queries())[:50])
    # the documented next-round rotation head: _PRIORITY names past the
    # 50-slot window (kept small by construction — assert that, so the
    # tolerance can't be defeated by dumping the whole backlog there)
    tail = set(_PRIORITY) - window
    assert len(tail) <= 25, (
        f"_PRIORITY's post-window tail holds {len(tail)} names — that is "
        f"a backlog dump, not a next-round head; trim it"
    )
    overdue = sorted(
        q
        for q, rnd in latest_green.items()
        if q in entry.queries()
        and current - rnd > 4
        and q not in window
        and not (current - rnd == 5 and q in tail)
    )
    assert not overdue, (
        f"queries whose latest green is >4 rounds stale, NOT in the "
        f"current window, and not boundary-tolerated (exactly 5 rounds "
        f"stale + named in _PRIORITY's next-round tail): {overdue} — "
        f"rotate them into _PRIORITY"
    )
