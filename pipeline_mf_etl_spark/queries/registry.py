"""Central query registry.

Each query is a pair: a Spark callable ``(spark, sf_dir) -> DataFrame``
and (where SQL-expressible) an equivalent ANSI-SQL oracle string run by
DuckDB over the same parquet tables. Column names are aligned on both
sides (the comparison sorts columns by name before hashing values), and
every computed double is rounded to a fixed precision on BOTH sides so
accumulation-order ulp drift cannot flip the hash.

Contract note: builders are lazy (return an unexecuted plan) EXCEPT the
model-fit and sketch-probe families (ml.py, a17), which necessarily run
driver actions at build time — a model must be fit / a sketch blob read
before the result frame exists. Those are flagged in their docstrings;
callers that need strict laziness should treat them as materializing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules that register queries on import. Order matters: the driver's
# correctness harness certifies the first 50 registered queries; the
# _PRIORITY tuple below pins the current certification window exactly
# and is the single source of truth for the rotation, so no prose
# restates the list. Every listed module must import: a failed import
# raises instead of silently dropping that module's queries.
# NOTE: viewer's v2 oracle imports queries.backtest at decoration time,
# so keep backtest ahead of viewer in this list (otherwise backtest's
# queries register mid-viewer-import and the fill order shifts).
_QUERY_MODULES = (
    "pipeline_mf_etl_spark.queries.validation",
    "pipeline_mf_etl_spark.queries.backtest",
    "pipeline_mf_etl_spark.queries.dedup",
    "pipeline_mf_etl_spark.queries.flow",
    "pipeline_mf_etl_spark.queries.text",
    "pipeline_mf_etl_spark.queries.similarity",
    "pipeline_mf_etl_spark.queries.streaming",
    "pipeline_mf_etl_spark.queries.multimodal",
    # corpus ingestion (c1-c4, t15, wd1) right after multimodal, whose
    # probe queries it composes with
    "pipeline_mf_etl_spark.queries.corpus_ingest",
    # URL-layer curation (t16/d12)
    "pipeline_mf_etl_spark.queries.urls",
    "pipeline_mf_etl_spark.queries.viewer",
    "pipeline_mf_etl_spark.queries.corpus",
    "pipeline_mf_etl_spark.queries.ml",
    "pipeline_mf_etl_spark.queries.quality",
    "pipeline_mf_etl_spark.queries.windows",
    "pipeline_mf_etl_spark.queries.relational",
    "pipeline_mf_etl_spark.queries.stats",
    # imports SQL fragments from dedup + text, so it loads after both
    "pipeline_mf_etl_spark.queries.curation",
    # BM25/hybrid retrieval and the near-dup graph analytics
    "pipeline_mf_etl_spark.queries.retrieval",
    "pipeline_mf_etl_spark.queries.graph",
)

# ROUND-15 WINDOW (r14 verdict task 10 + the staleness guard): first
# the two r14 registrations never driver-checked (o20, c16), then the
# r15 optimization-round rewrites so every restructured chain is
# re-hashed by the driver THIS round — the MinHash array chain (d2; d5
# shares connected components, d7 the waterfall + CC, g1 the pagerank
# + total-order rewrites, r1 the BM25 two-pass shape, mm25 the
# vectorized rice writer) plus the r14 §13-§17 rewrites the verdict
# asked sampled (d8, t13, w22, d4, m17, g3, o11) — then the 17
# remaining r10-green rows (5 rounds stale at r15: the guard's
# boundary-tolerated set, promised as this window in r14), then 18 of
# the r11 cohort. Names past slot 50 are the DOCUMENTED r16 rotation
# head (the 25 remaining r11 rows); the staleness guard treats that
# tail as the planned next window, so the suite stays green across the
# driver's end-of-round artifact drop and still fails if the r16
# rotation is skipped. The r15 rewrites NOT in the window (d6, d9, g2,
# r2, t8) are certified through the same shared operators the sampled
# set exercises (d2's chain + pair export, g1's pagerank, r1's
# bm25_topk) and stay locally parity-green.
# Rotated out (green r13-r14, code untouched): the r14 window.
# The permanently-red no-oracle variants (a16/a17/a18/o4) are
# driver_visible=False — certified via their exact twins + property
# tests — so no window can contain a red-by-design row.
_PRIORITY = (
    # --- (1) first driver exposure (registered r14, never sampled) ---
    "o20_weighted_reservoir",
    "c16_npz_lookup",
    # --- (2) r15 rewrites + the r14 §13-§17 rewrite set (task 10) ---
    "d2_minhash_lsh",
    "d5_neardup_groups",
    "d7_curation_waterfall",
    "g1_pagerank_neardup",
    "r1_bm25_topk",
    "mm25_flac_decode",
    "d8_substring_dedup",
    "t13_perplexity_buckets",
    "w22_funnel_steps",
    "d4_ngram_jaccard",
    "m17_frobenius_stability",
    "g3_triangle_count",
    "o11_split_leakage",
    # --- (3) the 17 remaining r10-green rows (the r14 tail, 5 rounds
    # stale — the staleness guard's mandatory set) ---
    "m7b_silhouette_sampled",
    "m10_hmm_states",
    "m16_event_study",
    "m20_ari_vs_truth",
    "m21_walkforward",
    "v4_hmm_ribbon",
    "w3_ewm_wilder",
    "mm21_h264_probe",
    "mm22_avc1_route",
    "mm23_aac_route",
    "mm24_hevc_route",
    "o9_stratified_sample",
    "o10_token_budget_mix",
    "o12_sequence_packing",
    "o13_temperature_mix",
    "w21_scd2_intervals_segmented",
    "w23_ohlc_resample_minby",
    # --- (4) r11-cohort fill (oldest remaining; r2/t11/t12 also carry
    # r15-adjacent code: r2 shares the BM25 rewrite, t12 the shared
    # shingle-cache discipline) ---
    "r2_hybrid_rrf",
    "t11_gopher_rules",
    "t12_bpe_tokenize",
    "e7_semantic_dedup",
    "st9_attribution_join",
    "st10_last_click",
    "st11_lsh_admission_batch",
    "st12_daily_rollup_batch",
    "mm8_audio_segments",
    "mm9_image_resize",
    "mm10_audio_downsample",
    "mm11_video_resize",
    "mm27_tiff_probe",
    "mm27b_tiff_decode",
    "mm28_webp_probe",
    "mm28b_webp_lossless_decode",
    "mm29_webm_probe",
    "c1_warc_extract",
    # --- names below slot 50: the 25 remaining r11-green rows — the
    # documented r16 rotation head (the staleness guard accepts these
    # as "planned next window" at the r15->r16 boundary and fails if
    # they are still here after the r16 rotation should have run) ---
    "c2_zip_extract",
    "c3_pdf_extract",
    "c5_lz4_extract",
    "c6_snappy_extract",
    "t15_html_extract",
    "t16_url_canonicalize",
    "a16b_exact_quantiles",
    "a17b_exact_heavy_hitters",
    "a18b_exact_distinct",
    "o14_chunk_windows",
    "o15_shard_shuffle",
    "o16_per_group_sample",
    "o17_weighted_sample",
    "o19_purged_split",
    "w1_lag_lead",
    "w2_rolling_stats",
    "w19_time_decay_score",
    "w20_rolling_autocorr",
    "w21_scd2_intervals",
    "w23_ohlc_resample",
    "s3_pushdown_scan",
    "i2_manifest_classify",
    "a14_salted_skew_agg",
    "a15_rollup",
    "o18_zorder_layout",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""
    #: True when the builder executes driver-side actions at BUILD time
    #: (model fit, sketch probe, persisted export) instead of returning a
    #: purely lazy plan. Callers that build-without-executing should
    #: expect side effects (parquet exports under .artifacts/) from these.
    eager: bool = False
    #: False for the sketch / native-RNG variants whose outputs are
    #: engine-specific by design (GK/CMS/HLL estimates, Spark's sample
    #: RNG). Each has a hash-certified exact twin on the driver surface
    #: (a16b/a17b/a18b/o4b) and error-bound property tests in pytest
    #: (tests/test_sketches.py); exposing the variant itself to the
    #: driver would yield a permanently-red rows-only row, so
    #: __spark_entry__.queries() filters these out.
    driver_visible: bool = True


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    eager: bool = False,
    driver_visible: bool = True,
):
    """Decorator registering a Spark query (and optional DuckDB oracle).

    ``eager=True`` marks builders that materialize at build time (the
    model-fit / sketch families) — see ``QuerySpec.eager``.
    ``driver_visible=False`` keeps a query in the internal registry (lib
    tests, bench) but off the driver contract — see ``QuerySpec.driver_visible``.
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QuerySpec(
            name, fn, oracle, doc or (fn.__doc__ or "").strip(), eager, driver_visible
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    ordered: dict[str, QuerySpec] = {}
    # Module order already front-loads the least-certified families; within
    # that, _PRIORITY pulls named stragglers to the very front.
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        ordered.setdefault(name, spec)
    return ordered
