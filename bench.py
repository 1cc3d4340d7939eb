#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: min sec}, "queries_median": ..., "queries_max": ..., "exports_sec":
{export: sec}, "sf": ...}.

Each query is forced to full execution by hash-aggregating every output
column — a bare count() would let Catalyst prune the plan to a scan.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

from pyspark.sql import functions as F

from pipeline_mf_etl_spark.queries import all_queries
from pipeline_mf_etl_spark.session import default_parallelism, get_spark

# One headline query per operator family (SURVEY.md §2 groups). The
# first 14 are the original set: ``comparable_14_total`` sums them, so
# the number stays comparable as the tuple grows.
HEADLINE = (
    "a1_grouped_stats",       # grouped aggregation core
    "j6_overlay_coverage",    # join + coverage rollup
    "s3_pushdown_scan",       # scan with pushed filters/pruning
    "w2_rolling_stats",       # per-key ordered windows
    "w6_run_length",          # two-window run-length idiom
    "w14_forward_labels",     # lead windows + guarded stddev
    "p2_p3_quality_flags",    # validation flag stack
    "m2_per_group_scaler",    # grouped-stats + join normalize
    "d2_minhash_lsh",         # MinHash+LSH near-dup
    "t2_quality_score",       # text quality scoring
    "e1_ann_bruteforce",      # brute-force cosine top-k
    "w3_ewm_wilder",          # in-plan EWM series fold
    "b6_trade_sim",           # sequential per-series simulation
    "st1_tumbling_daily",     # event-time tumbling windows
    "v1_tmf_tti_panel",       # viewer panel: 4 RMAs in one island pass
    "e6_ann_ivfpq",           # production ANN: IVF-PQ encode+ADC search
    "d7_curation_waterfall",  # end-to-end 5-stage corpus curation
    "t9_trigram_lm",          # corpus-trained trigram LM quality score
    "v4_hmm_ribbon",          # HMM decode ribbon (persisted-fit family)
    "r1_bm25_topk",           # BM25: inverted postings + broadcast scoring
    "t12_bpe_tokenize",       # BPE train (word-count reduce) + encode
    "g1_pagerank_neardup",    # PageRank rounds over the pair graph
    "mm13_jpeg_decode",       # baseline JPEG entropy decode + IDCT pass
    "d10_record_linkage",     # masked-position blocked entity resolution
    "mm13b_jpeg_color",       # 4:2:0 interleaved color JPEG decode
    "mm15_mjpeg_decode",      # MP4 demux composed with per-frame JPEG decode
    "mm12b_png_color",        # color/palette/Adam7 PNG decode
    "mm21_h264_probe",        # H.264 NAL walk + SPS parse routing probe
    "mm22_avc1_route",        # avc1-in-MP4 demux + avcC/stss routing
    "mm23_aac_route",         # mp4a/AAC-in-MP4 esds audio routing
    "mm24_hevc_route",        # hvc1/HEVC-in-MP4 hvcC routing
    "c1_warc_extract",        # WARC gzip-member split + HTTP/HTML extract
    "c2_zip_extract",         # ZIP central-directory walk + DEFLATE
    "c3_pdf_extract",         # PDF xref/object walk + content-stream text
    "c4_avro_extract",        # Avro object-container zigzag-varint decode
    "t15_html_extract",       # pure-JVM HTML boilerplate strip
    "wd1_webdataset_roundtrip",  # tar shard build + loader round-trip
    "mm25_flac_decode",       # FLAC rice/predictor decode + CRC/MD5
    "mm26_mp3_probe",         # MP3 frame walk + ID3v2 skip
    "mm27_tiff_probe",        # TIFF/EXIF IFD chain walk
    "mm28_webp_probe",        # WebP VP8/VP8L/VP8X header routing
    "mm29_webm_probe",        # WebM/Matroska EBML walk
    "mm27b_tiff_decode",      # baseline-TIFF strip pixel decode
    "mm28b_webp_lossless_decode",  # full VP8L bitstream decode
    "t16_url_canonicalize",   # pure-JVM URL canonicalization
    "d12_url_domain_rollup",  # per-domain canonical-URL dedup rollup
    "c5_lz4_extract",         # LZ4 frame decode + xxh32 verification
    "c6_snappy_extract",      # framed Snappy decode + CRC-32C verification
    "c7_zstd_extract",        # zstd FSE+Huffman frame decode + xxh64
    "c8_seekable_extract",    # seekable-zstd range reads (partial decode)
    "c9_bzip2_extract",       # multistream bzip2 decode + CRC verification
    "c11_xz_extract",         # xz/LZMA2 range-coder decode (liblzma synth)
    "c12_bz2_dump_lookup",    # bzip2 dump-index write + per-stream lookups
    "c13_tfrecord_lookup",    # TFRecord shard write + per-record lookups
    "c14_arrow_lookup",       # Arrow IPC shard write + footer block lookups
    "c15_safetensors_lookup", # safetensors shard write + row range lookups
    "c16_npz_lookup",         # npz shard write + member offset row lookups
)

# Codec queries conflate SYNTHESIS (encoding the test payload) with the
# phase a production corpus actually pays — DECODE. For each, bench the
# two phases separately: encode = forcing the synthesis plan alone;
# decode = forcing the feature pass over payloads PERSISTED once under
# .artifacts/bench_payloads (so the decode number contains zero
# synthesis). The headline rows keep the combined time so totals stay
# comparable across runs; "codec_phases" carries the split.
CODEC_PHASES = (
    "mm13_jpeg_decode",
    "mm13b_jpeg_color",
    "mm15_mjpeg_decode",
    "mm12b_png_color",
    "c7_zstd_extract",
    "c9_bzip2_extract",
)


def _codec_phase_specs():
    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_jpeg_color_features,
        decode_jpeg_features,
        decode_mp4_mjpeg_features,
        decode_png_color_features,
        with_jpeg_color_payload,
        with_jpeg_payload,
        with_mjpeg_mp4_payload,
        with_png_color_payload,
    )
    from pipeline_mf_etl_spark.sources.readers import fan_out, load_table

    def docs(spark, sf_dir):
        # same small-input fan-out the registered queries use: without
        # it both phases (and the persisted payload parquet the decode
        # phase reads back) inherit the test table's single row group
        # and run on one core
        return fan_out(load_table(spark, sf_dir, "documents"))

    return {
        "mm13_jpeg_decode": (
            lambda s, d: with_jpeg_payload(docs(s, d)),
            decode_jpeg_features,
        ),
        "mm13b_jpeg_color": (
            lambda s, d: with_jpeg_color_payload(docs(s, d)),
            decode_jpeg_color_features,
        ),
        "mm15_mjpeg_decode": (
            lambda s, d: with_mjpeg_mp4_payload(docs(s, d)),
            decode_mp4_mjpeg_features,
        ),
        "mm12b_png_color": (
            lambda s, d: with_png_color_payload(docs(s, d)),
            decode_png_color_features,
        ),
        "c7_zstd_extract": (
            lambda s, d: _with_zstd(docs(s, d)),
            _extract_zstd,
        ),
        "c9_bzip2_extract": (
            lambda s, d: _with_bz2(docs(s, d)),
            _extract_bz2,
        ),
    }


def _with_zstd(df):
    from pipeline_mf_etl_spark.sources.zstdframe import with_zstd_payload

    return with_zstd_payload(df)


def _extract_zstd(df):
    from pipeline_mf_etl_spark.sources.zstdframe import extract_zstd_documents

    return extract_zstd_documents(df)


def _with_bz2(df):
    from pipeline_mf_etl_spark.sources.bzip2 import with_bzip2_payload

    return with_bzip2_payload(df)


def _extract_bz2(df):
    from pipeline_mf_etl_spark.sources.bzip2 import extract_bzip2_documents

    return extract_bzip2_documents(df)


def _force(df) -> int:
    """Fully execute the plan: aggregate a hash of every column so no
    column/row can be pruned away, then count."""
    hashed = df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"))
    row = hashed.agg(F.count("h"), F.expr("bit_xor(h)")).collect()[0]
    return int(row[0])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    specs = all_queries()
    timings: dict[str, float] = {}

    # Warm the JVM/session on the smallest data so one-time startup costs
    # (JIT, parquet-footer caching, the higher-order-function folds)
    # don't pollute the first measured number of whichever query happens
    # to run first.
    _force(specs["a1_grouped_stats"].spark(spark, "/root/testdata/sf0.001"))
    _force(specs["w3_ewm_wilder"].spark(spark, "/root/testdata/sf0.001"))
    _force(specs["d2_minhash_lsh"].spark(spark, "/root/testdata/sf0.001"))
    # higher-order-function codegen (zip_with/aggregate cosine) is its own
    # JIT surface — warm it so e1 measures the scoring plan, not codegen
    _force(specs["e1_ann_bruteforce"].spark(spark, "/root/testdata/sf0.001"))

    # The once-per-(process, sf) exports: the MinHash verified pairs
    # (consumed by d7/g1 in HEADLINE, plus d6/d9/o11/g2/g3) and the HMM
    # decode (v4 in HEADLINE, plus m10). Inside the timed loop, min-of-N
    # would drop the run that paid for them, so each is built once HERE,
    # timed, and published in "exports_sec" ("export_build_sec" keeps
    # the MinHash one); every sample times the consumer's own plan. Both
    # are computed fresh from the parquet inputs by THIS process —
    # nothing crosses invocations.
    from pipeline_mf_etl_spark.queries.dedup import verified_pairs_export
    from pipeline_mf_etl_spark.queries.ml import hmm_decoded_export

    exports_sec: dict[str, float] = {}
    for label, build in (
        ("verified_pairs", verified_pairs_export),
        ("hmm_decoded", hmm_decoded_export),
    ):
        t0 = time.perf_counter()
        build(spark, sf_dir)
        exports_sec[label] = round(time.perf_counter() - t0, 3)
    export_build_sec = exports_sec["verified_pairs"]

    # Three timed executions per query, keep the MIN (timeit-style): on
    # a shared box single-shot numbers swing ±30% with unrelated load;
    # the min is the cleanest estimate of the plan's actual cost.
    # Disclosed in the output ("runs"/"agg") so rounds are compared
    # knowingly.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # INTERLEAVED rounds (all queries once per round, then repeat):
    # back-to-back repetitions of one query sit inside the same
    # noise window on a shared host, so a multi-minute neighbor burst
    # poisons all of a query's samples at once; spreading each query's
    # samples across the full run makes min-of-N actually robust.
    samples: dict[str, list[float]] = {}
    for _ in range(runs):
        for name in HEADLINE:
            spec = specs.get(name)
            if spec is None:
                continue
            t0 = time.perf_counter()
            _force(spec.spark(spark, sf_dir))
            samples.setdefault(name, []).append(time.perf_counter() - t0)
    total = 0.0
    medians: dict[str, float] = {}
    maxima: dict[str, float] = {}
    for name in HEADLINE:
        if name in samples:
            timings[name] = round(min(samples[name]), 3)
            medians[name] = round(statistics.median(samples[name]), 3)
            maxima[name] = round(max(samples[name]), 3)
            total += min(samples[name])

    # Codec encode/decode phase split: persist each codec query's
    # payloads once, then time decode ALONE — the number a production
    # corpus (which arrives already encoded) actually pays.
    # The mm16 header probe runs on mm13b's persisted payloads too, so
    # "probe is near-free vs decode" becomes a same-payload measurement.
    from pipeline_mf_etl_spark.sources.readers import fan_out as _fo

    def _fan_out_read(spark, path):
        return _fo(spark.read.parquet(path))

    phase_specs = _codec_phase_specs()
    codec_phases: dict[str, dict[str, float]] = {}
    payload_dirs: dict[str, str] = {}
    for name in CODEC_PHASES:
        synth, decode = phase_specs[name]
        best_e = None
        for _ in range(runs):
            t0 = time.perf_counter()
            _force(synth(spark, sf_dir).select("doc_id", "payload"))
            dt = time.perf_counter() - t0
            best_e = dt if best_e is None else min(best_e, dt)
        pay = f".artifacts/bench_payloads/{name}/sf{sf}"
        synth(spark, sf_dir).select("doc_id", "payload").write.mode(
            "overwrite"
        ).parquet(pay)
        payload_dirs[name] = pay
        best_d = None
        for _ in range(runs):
            t0 = time.perf_counter()
            _force(decode(_fan_out_read(spark, pay)))
            dt = time.perf_counter() - t0
            best_d = dt if best_d is None else min(best_d, dt)
        codec_phases[name] = {
            "encode_sec": round(best_e, 3),
            "decode_sec": round(best_d, 3),
        }
    from pipeline_mf_etl_spark.operators.multimodal import probe_jpeg_features

    best_p = None
    for _ in range(runs):
        t0 = time.perf_counter()
        _force(
            probe_jpeg_features(
                _fan_out_read(spark, payload_dirs["mm13b_jpeg_color"]),
                null_width=128,
                null_components=3,
            )
        )
        dt = time.perf_counter() - t0
        best_p = dt if best_p is None else min(best_p, dt)
    codec_phases["mm16_probe_on_mm13b_payloads"] = {"decode_sec": round(best_p, 3)}

    comparable_14 = [n for n in HEADLINE[:14] if n in timings]
    comparable_14_total = round(sum(timings[n] for n in comparable_14), 3)
    shared_prev = None
    import glob

    # Compare against the newest BENCH_r*.json recorded at this run's sf
    # and core count that holds parsed per-query timings; with none, the
    # field is null. Files of one round (BENCH_rNN.json, BENCH_rNN_c8.json)
    # order by name.
    cpus = default_parallelism()
    prev_files = sorted(
        glob.glob("BENCH_r*.json"),
        key=lambda p: (int(re.search(r"r(\d+)", p).group(1)), p),
    )
    for prev_path in reversed(prev_files):
        with open(prev_path, encoding="utf-8") as fh:
            record = json.load(fh)
        prev = record.get("parsed", record) or {}
        same_setup = record.get("sf") == sf and record.get("cpus") == cpus
        if not same_setup or not prev.get("queries"):
            continue
        inter = [n for n in timings if n in prev["queries"]]
        shared_prev = {
            "prev_file": os.path.basename(prev_path),
            "n_queries": len(inter),
            "this_total": round(sum(timings[n] for n in inter), 3),
            "prev_total": round(sum(prev["queries"][n] for n in inter), 3),
        }
        break

    # The codec phase split goes to a detail file + an EARLIER stdout
    # line; the FINAL line stays compact so a reader that keeps only
    # the tail of the output still parses it.
    detail = {"codec_phases": codec_phases}
    os.makedirs(".artifacts", exist_ok=True)
    with open(".artifacts/bench_detail.json", "w", encoding="utf-8") as fh:
        json.dump(detail, fh)
    print(json.dumps({"bench_detail": detail}))

    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": runs,
        "agg": "min",
        # the spread of the same samples: a min alone hides a query
        # whose runs swing
        "queries_median": medians,
        "queries_max": maxima,
        # once-per-(process, sf) MinHash pair-export chain, built before
        # the timed loop — the cost d7/g1's min-of-3 amortizes away
        "export_build_sec": export_build_sec,
        "exports_sec": exports_sec,
        "comparable_14_total": comparable_14_total,
        "shared_prev_round_total": shared_prev,
    }))


if __name__ == "__main__":
    main()
