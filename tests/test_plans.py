"""Physical-plan shape regression tests — the scale contract.

Correctness tests prove the queries return the right rows at sf0.01;
these prove the PLANS are the ones that survive a 100 TB / 1000-executor
scale-up: filters and projections reach the parquet scan, dimension
joins broadcast instead of shuffling the fact side, per-series window
stacks share ONE shuffle, multi-consumer intermediates are reused from
cache, and nothing degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest

from pipeline_mf_etl_spark.queries import all_queries
from tests.conftest import SF_ORACLE

_QUERIES = all_queries()


def _plan(spark, name: str) -> str:
    df = _QUERIES[name].spark(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_s3_scan_pushdown_and_pruning(spark):
    """Filter + projection must reach the FileScan (predicate pushdown,
    column pruning) — at 100 TB this is the difference between reading
    3 columns of a few row groups and reading the whole table."""
    plan = _plan(spark, "s3_pushdown_scan")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, plan
    scan = scan_lines[0]
    assert "PushedFilters: [" in scan and "PushedFilters: []" not in scan, scan
    # projection pruned to exactly the referenced columns
    assert "l_quantity" in scan and "l_returnflag" in scan and "l_shipdate" in scan
    assert "l_extendedprice" not in scan, scan


@pytest.mark.parametrize("name", ["a7_region_rollup", "j2_broadcast_enrich", "j5_state_mapping"])
def test_dim_joins_broadcast(spark, name):
    """Dimension joins must be broadcast hash joins — a sort-merge join
    here would shuffle the fact table on every lookup key."""
    plan = _plan(spark, name)
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_window_stack_single_shuffle(spark):
    """All rolling stats over one series key share a single hash
    exchange — each extra exchange is a full re-shuffle of the fact
    table at scale."""
    plan = _plan(spark, "w2_rolling_stats")
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize(
    "name",
    [
        "d2_minhash_lsh",
        "d4_ngram_jaccard",
        "d8_substring_dedup",
        "d11_containment",
        "t8_contamination",
        "t9_trigram_lm",
        "t13_perplexity_buckets",
        "w22_funnel_steps",
        "m17_frobenius_stability",
        "r1_bm25_topk",
    ],
)
def test_minhash_reuses_cached_shingles(spark, name):
    """Every lazy builder that pins a multi-consumer frame must read it
    from cache (InMemoryTableScan), not re-derive it per consumer. For
    d2 the shingle arrays feed signatures, sizes and exact verification
    (4x corpus scans at 100 TB without the pin)."""
    plan = _plan(spark, name)
    assert "InMemoryTableScan" in plan, plan
    if name == "d2_minhash_lsh":
        assert plan.count("InMemoryTableScan") >= 3, plan
        assert "Cartesian" not in plan, plan


def test_grouped_agg_partial_before_shuffle(spark):
    """Aggregations must run map-side partial + final (two HashAggregate
    levels) so the shuffle carries group states, not raw rows."""
    plan = _plan(spark, "a1_grouped_stats")
    assert plan.count("HashAggregate") >= 2, plan


@pytest.mark.parametrize(
    "name",
    [
        "a1_grouped_stats",
        "j6_overlay_coverage",
        "w6_run_length",
        "m2_per_group_scaler",
        "b10_sensitivity_grid",
        "b14_calibration_sweep",
        "e2_ann_bucketed",
        "e3_embedding_neardup",
    ],
)
def test_no_cartesian_products(spark, name):
    """No headline plan may contain an unbounded cartesian product.

    (b10/b14 broadcast a tiny literal parameter grid — that must show as
    BroadcastNestedLoopJoin over a broadcast side, never CartesianProduct.)
    """
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan


def test_asof_join_single_shuffle(spark):
    """The sort-based as-of join must shuffle ONCE on the series key —
    a theta-join formulation would show BroadcastNestedLoop/Cartesian
    and blow up quadratically per key at scale."""
    plan = _plan(spark, "j11_asof_join")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # union sides feed one window shuffle


def test_salted_agg_two_stages(spark):
    """Salted aggregation must show two groupBy levels: partials on
    (key, salt), merge on key — four HashAggregate operators total
    (partial+final per level)."""
    plan = _plan(spark, "a14_salted_skew_agg")
    assert plan.count("HashAggregate") >= 4, plan
    assert "__salt" in plan, plan


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed on the join key must join with NO hash
    exchange — the bucketing layout replaces the nightly 100 TB
    shuffle. Either shuffle-join strategy is acceptable (with
    preferSortMergeJoin=false the planner picks shuffled-hash when the
    small side fits, sort-merge otherwise — both consume the bucketed
    distribution exchange-free); broadcast is disabled so the plan
    can't cheat."""
    from pipeline_mf_etl_spark.sources.readers import load_table
    from pipeline_mf_etl_spark.sources.writers import write_bucketed

    ev = load_table(spark, SF_ORACLE, "events")
    write_bucketed(ev.select("event_id", "user_id", "value"), "ev_bkt", ["user_id"], 8)
    write_bucketed(
        ev.groupBy("user_id").count(), "usr_bkt", ["user_id"], 8
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("ev_bkt").join(spark.table("usr_bkt"), "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ev_bkt")
        spark.sql("DROP TABLE IF EXISTS usr_bkt")


def test_ivf_assignment_map_only(spark):
    """IVF centroid assignment (ivf_assign_cells) must be a genuinely
    map-only Arrow-batch stage: the centroid matrix rides in the task
    closure, so the assignment plan may contain NO Exchange, no join of
    any kind, and exactly one Python map stage — the shape that lets
    assignment scale as a map-only pass over 100 TB of vectors (the old
    crossJoin+window shape shuffled corpus×n_centroids rows just to
    take an argmax).

    Asserted on the OPERATOR's lazy plan: the certified e4 query
    persists the assignments mid-query (for its oracle), so its final
    plan is rooted at the export parquet and no longer shows the
    assignment stage."""
    import pyspark.sql.functions as F

    from pipeline_mf_etl_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_assign_cells,
        ivf_topk,
    )
    from pipeline_mf_etl_spark.queries.similarity import _vectors

    v = _vectors(spark, SF_ORACLE)
    centroids = fit_ivf_centroids(v, n_centroids=8, iters=5)
    cells = ivf_assign_cells(v, centroids, 1)
    aplan = cells._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in aplan, aplan
    assert "Join" not in aplan and "Cartesian" not in aplan, aplan
    assert "MapInPandas" in aplan, aplan
    # the full rerank plan shuffles only for dedupe + per-query rank
    df = ivf_topk(v.filter(F.col("vec_id") < 8), v, centroids, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the certified query (persisted assignments) must stay cartesian-free
    plan2 = _plan(spark, "e4_ann_ivf")
    assert "Cartesian" not in plan2, plan2


def test_lsh_neardup_equi_join_only(spark):
    """e3 must generate candidates via banded equi-joins — neither a
    CartesianProduct nor a BroadcastNestedLoopJoin may appear anywhere:
    the N² pair space must never be enumerated, only band-hash buckets."""
    plan = _plan(spark, "e3_embedding_neardup")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_heavy_hitter_candidates_no_full_aggregation(spark):
    """a17's candidate pass must be a per-partition partial top-k: the
    only thing crossing the exchange is the mapInPandas output (≤50 rows
    per partition), never a full exact aggregation of the raw key column
    — the plan must show MapInPandas feeding the aggregation, and no
    aggregation may sit directly on the scan."""
    from pipeline_mf_etl_spark.queries.corpus import partial_topk_candidates
    from pipeline_mf_etl_spark.sources.readers import load_table
    import pyspark.sql.functions as F

    ev = load_table(spark, SF_ORACLE, "events")
    cand = (
        partial_topk_candidates(ev, "user_id")
        .groupBy("user_id")
        .agg(F.sum("partial_count").alias("total"))
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    # the aggregate consumes the truncated candidate rows, so the plan
    # orders as scan -> MapInPandas -> partial agg -> exchange -> agg.
    # The tree prints root-first, so EVERY aggregate (rindex = the
    # deepest one) must still print above MapInPandas; an exact
    # aggregation inserted directly on the scan would print below it.
    assert plan.rindex("HashAggregate") < plan.index("MapInPandas"), plan


def test_viewer_panel_one_island_pass(spark):
    """The v1 panel computes four RMAs plus every sequential column in
    exactly ONE mapInPandas island behind exactly ONE exchange. A
    JVM window stage after the island would force a SECOND full
    shuffle (mapInPandas re-keys attribute ids, so Catalyst cannot
    reuse the island's hash partitioning) — the regression this test
    pins out."""
    plan = _plan(spark, "v1_tmf_tti_panel")
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan


def test_viewer_markers_broadcasts_dims(spark):
    """v2 joins the per-bar fact to the overlay classification and the
    realism gates; the overlay dim must broadcast — shuffling the fact
    side for a 150-row dimension is the classic 100 TB plan bug."""
    plan = _plan(spark, "v2_viewer_markers")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_reading_labels_single_island(spark):
    """v3 must NOT re-execute the EWM-island lineage per label side — a
    filtered self-union would show two MapInPandas; the explode-of-sides
    form pays one island and one series shuffle chain."""
    plan = _plan(spark, "v3_reading_labels")
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_wav_decode_map_only(spark):
    """mm4 is synth + decode over the same rows — the plan must stay a
    map-only pipeline: zero shuffles end to end."""
    plan = _plan(spark, "mm4_wav_decode")
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_trigram_lm_jvm_broadcast_shape(spark):
    """t9 stays entirely JVM-side (MEASURED decision, r5: a mapInPandas
    scoring rework was 5.5× slower — see the t9 docstring): the vocab
    and total ride broadcast joins, scoring never shuffle-joins the
    trigram stream, and no Python stage appears anywhere."""
    plan = _plan(spark, "t9_trigram_lm")
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_quality_shuffle_free(spark):
    """t7 is ONE map-only projection: the top-bigram share comes from a
    run-length HOF over the sorted per-doc bigram array, so the plan
    contains no per-key shuffle and no join at all (the r4 shape
    exchanged the corpus-sized bigram stream three times). The only
    allowed exchange is fan_out's small-input RoundRobin split (r14 —
    absent at production split counts)."""
    plan = _plan(spark, "t7_repetition_quality")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_canonical_docs_no_cartesian(spark):
    """d6's quality scoring joins the corpus to the clustered-doc set on
    doc_id — no cartesian product anywhere in the plan."""
    plan = _plan(spark, "d6_canonical_docs")
    assert "CartesianProduct" not in plan, plan


def test_pq_scoring_broadcast_no_cartesian(spark):
    """e5's ADC scoring joins the encoded corpus against the tiny LUT
    table — the plan must broadcast the LUT side (no CartesianProduct,
    no SortMergeJoin). The encode's MapInPandas ran at build time; the
    certified plan reads the persisted codes export, so it contains no
    Python stage at all."""
    plan = _plan(spark, "e5_ann_pq")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("MapInPandas") == 0, plan


def test_ivfpq_probed_equi_join_only(spark):
    """e6's scoring must reach candidates ONLY through the centroid_id
    equi-join with the LUT side broadcast — no cartesian, no shuffle
    join. (The encode's MapInPandas ran at build time; the certified
    plan reads the persisted codes export, so a hash join is the whole
    candidate path.)"""
    plan = _plan(spark, "e6_ann_ivfpq")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_image_decode_map_only(spark):
    """mm5 is synth + decode over the same rows — the plan must stay a
    map-only pipeline: zero shuffles end to end (mirror of mm4)."""
    plan = _plan(spark, "mm5_image_decode")
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_gopher_rules_shuffle_free(spark):
    """t11 is ONE map-only projection: every rule derives from the
    per-doc token array (top-token share via the sorted-run HOF), so
    the plan has no per-key shuffle and no join — the whole battery
    scales like a scan. The only allowed exchange is fan_out's
    small-input RoundRobin split (r14 — absent at production split
    counts)."""
    plan = _plan(spark, "t11_gopher_rules")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_chunk_windows_shuffle_free(spark):
    """o14 chunking is tokenize + sequence/slice + ONE generator
    (posexplode) — no Exchange, no join; chunk output rows are produced
    where the document bytes already live."""
    plan = _plan(spark, "o14_chunk_windows")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan


def test_semantic_dedup_equi_join_only(spark):
    """e7's within-cell verify is equi-join shaped on centroid_id —
    never a cartesian product; the assignment itself ran map-only at
    build time (same kernel contract as test_ivf_assignment_map_only)."""
    plan = _plan(spark, "e7_semantic_dedup")
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["g1_pagerank_neardup", "g2_pagerank_weighted"])
def test_pagerank_rank_no_single_partition_window(spark, name):
    """The global importance rank must use the distributed total-order
    idiom (range repartition + partitioned window + broadcast offsets)
    — an unpartitioned Window.orderBy compiles to `Exchange
    SinglePartition`, moving the whole node set to ONE task (the
    `WindowExec: No Partition Defined` cliff this guard exists to keep
    out)."""
    plan = _plan(spark, name)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # offsets joined broadcast


def test_scd2_and_ohlc_single_shuffle(spark):
    """w21's run-length windows + run groupBy + lead window, and w23's
    rank windows + bar groupBy, must ride ONE hashpartitioning exchange
    — HashPartitioning(user_id[, week]) satisfies every downstream
    ClusteredDistribution whose keys include it, so a second exchange
    would be a full fact-table reshuffle the plan doesn't need."""
    for name in ("w21_scd2_intervals", "w23_ohlc_resample"):
        plan = _plan(spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_funnel_skew_immune_partial_agg(spark):
    """w22 (r9 default) must contain NO Window operator: every funnel
    stage is a groupBy MIN whose map-side partial combine collapses a
    hot user to one row per input partition BEFORE the exchange, and
    stage joins are AQE-skew-splittable SMJ/BHJ — unlike
    partitionBy(user_id) windows, which pin every hot-user row onto one
    unsplittable task (SCALE.md's 50%-hot straggler). The window twin
    stays available unregistered for the measured contrast."""
    plan = _plan(spark, "w22_funnel_steps")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # partial-mode aggregation precedes every exchange feeding a final
    # aggregate: assert the plan carries partial_min (AQE prints
    # HashAggregate(keys=[user_id...], functions=[partial_min(...)])
    assert "partial_min" in plan, plan


def test_ohlc_minby_variant_partial_agg(spark):
    """The UNREGISTERED w23 min_by variant is ONE groupBy with
    partial_min_by/partial_max_by map-side combine and no Window
    operator — shipped as the alternative for skewed BAR keys, but NOT
    the default: the 50%-hot 64x probe measured it 2.4x slower than
    the rank-window form (per-row struct construction + sort-based
    partial aggregation; w23's composite key already diffuses user
    skew). Measure, don't guess."""
    from pipeline_mf_etl_spark.queries.windows import w23_ohlc_resample_minby
    from tests.conftest import SF_ORACLE

    df = w23_ohlc_resample_minby(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_min_by" in plan and "partial_max_by" in plan, plan


def test_record_linkage_equi_join_only(spark):
    """d10's masked-position blocking must compare within blocks via ONE
    shuffled equi-self-join on (pos, masked) — never a cartesian or a
    nested-loop over customers, and never more than the one join the
    single-pass design promises (the replaced fragment-pair scheme had
    three)."""
    plan = _plan(spark, "d10_record_linkage")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = [l for l in plan.splitlines() if "Join" in l and "pos" in l]
    assert len(joins) == 1, plan


def test_mp4_demux_map_only(spark):
    """mm14's synth + demux must be one Arrow pipeline with zero
    data-dependent exchanges — container demux is offset slicing, not a
    shuffle. The one permitted round-robin exchange is the small-input
    fan-out (readers.fan_out — a no-op at production split counts)."""
    plan = _plan(spark, "mm14_mp4_demux")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("Exchange roundrobinpartitioning") <= 1, plan


def test_boilerplate_lines_broadcast_frequent_set(spark):
    """t14's frequent-line set must come back as a BROADCAST join (it is
    tiny by definition); the corpus-sized side shuffles only for the
    line-frequency groupBy and the per-doc rollup, and nothing
    degenerates into a nested loop."""
    plan = _plan(spark, "t14_boilerplate_lines")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bz2_dump_lookup_map_only(spark):
    """c12's LOOKUP half must be one Arrow map pass over the index scan
    — per-stream range reads are executor-local file IO, never a
    shuffle (the dump-index promise: any stream to any task with no
    coordination). The build half's single exchange is the writer's
    repartition-by-shard, which has already run by the time the
    returned plan exists."""
    plan = _plan(spark, "c12_bz2_dump_lookup")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan


def test_tfrecord_lookup_map_only(spark):
    """c13's LOOKUP half must be one Arrow map pass over the index scan
    — per-record range reads are executor-local file IO, never a
    shuffle (same contract as the c12 dump index: any record to any
    task with no coordination). The build half's single exchange is the
    writer's repartition-by-shard, already run by the time the returned
    plan exists."""
    plan = _plan(spark, "c13_tfrecord_lookup")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan


def test_weighted_reservoir_no_shuffle(spark):
    """o20's A-ES sample must be a map pass + TakeOrderedAndProject
    (per-partition top-K, driver merge of K·P rows) — a global sort or
    hash exchange here would shuffle the full corpus to sample 200
    docs."""
    plan = _plan(spark, "o20_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_arrow_lookup_map_only(spark):
    """c14's LOOKUP half must be one Arrow map pass over the index scan
    — footer probes and block range reads are executor-local file IO,
    never a shuffle (same contract as c12/c13)."""
    plan = _plan(spark, "c14_arrow_lookup")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan


def test_safetensors_lookup_map_only(spark):
    """c15's LOOKUP half must be one Arrow map pass over the index scan
    — row lookups are offset arithmetic + bounded reads, never a
    shuffle (same contract as c12/c13/c14); the posexplode is a
    map-side generator, not an exchange."""
    plan = _plan(spark, "c15_safetensors_lookup")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan
    assert "Generate" in plan, plan  # posexplode stays map-side


def test_npz_lookup_map_only(spark):
    """c16's LOOKUP half must be one Arrow map pass over the index scan
    — member offset arithmetic is executor-local IO, never a shuffle
    (same contract as c15)."""
    plan = _plan(spark, "c16_npz_lookup")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan
