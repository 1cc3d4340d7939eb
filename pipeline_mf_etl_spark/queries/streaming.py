"""Streaming-window queries (SURVEY.md §2.11) — batch entry points.

Each query runs the shared transform from ``streaming/transforms.py``
on the batch-loaded events table; tests/test_streaming.py runs the SAME
transforms through ``readStream`` (availableNow) and asserts identical
results, so the oracle below certifies both paths.

Window alignment note: Spark aligns tumbling/sliding windows to the
unix epoch, which under a UTC session timezone coincides with
``date_trunc('day', ts)`` — the oracle relies on that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.streaming import daily_rollup, session_rollup, sliding_rollup


@query(
    "st1_tumbling_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st1_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type (+watermark)."""
    return daily_rollup(load_table(spark, sf_dir, "events"))


@query(
    "st2_sliding_windows",
    oracle="""
    SELECT CAST(ws AS DATE) AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM (
        SELECT date_trunc('day', ts) AS ws, event_type, value FROM events
        UNION ALL
        SELECT date_trunc('day', ts) - INTERVAL 1 DAY AS ws, event_type, value FROM events
    )
    GROUP BY 1, 2
    """,
)
def st2_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-day windows sliding 1 day; the oracle materializes the two
    window assignments of each event as a UNION ALL."""
    return sliding_rollup(load_table(spark, sf_dir, "events"))


@query(
    "st3_session_windows",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS ({SERIES_WINDOW_SQL})
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def st3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap); the oracle is the classic
    lag + cumulative-sum gap-island rewrite."""
    return session_rollup(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ST4: custom stateful streaming operator driven END-TO-END through the
# state store (applyInPandasWithState, availableNow trigger, memory sink)
# — not the batch twin. Final running totals per user must equal the
# plain batch groupBy, which is exactly what the oracle checks.
# ---------------------------------------------------------------------------
@query(
    "st4_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(value) AS n_events,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def st4_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via the state store; returns final totals (ST4)."""
    import uuid

    from pyspark.sql import Window

    from pipeline_mf_etl_spark.streaming import read_events_stream
    from pipeline_mf_etl_spark.streaming.stateful import running_user_stats

    name = f"st4_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_stats(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # update mode emits one row per (user, micro-batch); keep the final
    # (largest n_events) row per user in case the source split batches.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
            F.round("max_value", 6).alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# st5: streaming exact dedupe with watermark-bounded state — the
# streaming half of the dedup family (operators/dedupe.py covers batch).
# The shipped events tables are duplicate-free, so the query runs over
# the at-least-once REPLAY augmentation (every 10th event redelivered
# verbatim, identically on both engines) — the dedupe path is actually
# exercised (n_replayed > 0 for every user), not certified vacuously.
# The streaming path (dropDuplicatesWithinWatermark,
# tests/test_streaming.py) keeps the same key set across micro-batches.
# ---------------------------------------------------------------------------
@query(
    "st5_stream_dedupe",
    oracle="""
    WITH feed AS (
        SELECT user_id, event_id FROM events
        UNION ALL
        SELECT user_id, event_id FROM events WHERE event_id % 10 = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_received,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_replayed
    FROM feed GROUP BY user_id
    """,
)
def st5_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dedupe summary of the replayed (at-least-once) event
    feed: rows received, distinct events kept, replays removed."""
    from pipeline_mf_etl_spark.streaming import replayed_events

    feed = replayed_events(load_table(spark, sf_dir, "events"))
    return feed.groupBy("user_id").agg(
        F.count("*").alias("n_received"),
        F.countDistinct("event_id").alias("n_kept"),
        (F.count("*") - F.countDistinct("event_id")).alias("n_replayed"),
    )


# ---------------------------------------------------------------------------
# st6: stream-static enrichment — broadcast-join the static B2 state
# map onto the event stream, then tumbling 1-day rollups per mapped
# trade side (the streaming twin of j2/b2's broadcast joins; no stream
# state needed for the join itself).
# ---------------------------------------------------------------------------
def _st6_oracle() -> str:
    from pipeline_mf_etl_spark.operators.backtest import STATE_MAP_SQL

    return f"""
    SELECT CAST(date_trunc('day', e.ts) AS DATE) AS window_day,
           COALESCE(m.side, 0) AS side,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 6) AS sum_value
    FROM events e LEFT JOIN {STATE_MAP_SQL} USING (event_type)
    GROUP BY 1, 2
    """


@query("st6_stream_enrich", oracle=_st6_oracle())
def st6_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment + tumbling day windows per
    trade side; tests/test_streaming.py drives the same transform
    through readStream(availableNow) and asserts identical results."""
    from pipeline_mf_etl_spark.operators.backtest import state_map_frame
    from pipeline_mf_etl_spark.streaming import enriched_side_rollup

    return enriched_side_rollup(
        load_table(spark, sf_dir, "events"), state_map_frame(spark)
    )


def _st7_oracle() -> str:
    from pipeline_mf_etl_spark.config import load_settings
    from pipeline_mf_etl_spark.queries.dedup import _D2_CHAIN, capped_bands_cte

    # only the bands CTE of the shared chain is referenced — the
    # candidate pair definition is d2's, restated as DIRECTED pairs
    # (each incoming doc lists its corpus matches). The index side is
    # capped to the streaming.lsh_max_bucket smallest doc_ids per
    # bucket — the SAME deterministic duplicate-flood guard the
    # production admission path applies, so the certification covers
    # the cap semantics too.
    idx, capped_cte = capped_bands_cte(load_settings().streaming.lsh_max_bucket)
    return f"""
    WITH {_D2_CHAIN}{capped_cte}
    SELECT DISTINCT l.doc_id AS doc_id, r.doc_id AS matched_doc_id
    FROM bands l
    JOIN {idx} r ON l.band = r.band AND l.band_hash = r.band_hash
                AND l.doc_id <> r.doc_id
    """


@query("st7_stream_neardup", oracle=_st7_oracle())
def st7_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online near-dup admission check: incoming documents are MinHash-
    banded PER-ROW (array HOFs, no aggregation — the stream plan is
    fully stateless) and looked up against the static corpus LSH bucket
    index, capped per-bucket by streaming.lsh_max_bucket (the
    duplicate-flood guard; the oracle expresses the identical cap);
    output is the directed (doc_id, matched_doc_id) candidate pairs.
    The stream transform emits one hit per colliding band; the
    distinct here is the batch-side dedupe the downstream verifier
    applies either way. Batch entry runs the corpus against its own
    index; tests/test_streaming.py drives the identical transform
    through readStream(availableNow) and asserts the same pair set.
    The rowwise banding is asserted bit-identical to the oracle's
    ``bands`` CTE in tests/test_operators.py."""
    from pipeline_mf_etl_spark.config import load_settings
    from pipeline_mf_etl_spark.operators.dedupe import minhash_band_buckets_rowwise
    from pipeline_mf_etl_spark.streaming import neardup_candidates_against_index

    docs = load_table(spark, sf_dir, "documents")
    index = minhash_band_buckets_rowwise(docs, "doc_id", "text")
    cap = load_settings().streaming.lsh_max_bucket
    return neardup_candidates_against_index(docs, index, max_bucket=cap).distinct()


# ---------------------------------------------------------------------------
# st9: STREAM-STREAM interval join — click→purchase attribution. Both
# sides buffer state; the interval condition + watermark bound it to
# O(rate × attr_window) regardless of stream length (a click is evicted
# once the purchase watermark passes click_ts + window). The batch entry
# runs the identical join on the static events table; the streaming
# test drives two readStream sources through the same transform.
# ---------------------------------------------------------------------------
@query(
    "st9_attribution_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           c.event_id AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts < p.ts
     AND c.ts >= p.ts - INTERVAL 2 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def st9_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase matched to the same user's clicks in the preceding
    2 hours, with the exact microsecond gap — the canonical stream-stream
    interval join (streaming/transforms.py:attribution_join). Batch and
    streaming run the SAME transform; tests/test_streaming.py certifies
    the stream path against this batch result."""
    from pipeline_mf_etl_spark.streaming import attribution_join

    events = load_table(spark, sf_dir, "events")
    return attribution_join(events, events)


def _st8_oracle() -> str:
    from pipeline_mf_etl_spark.operators.text import QUALITY_ADMIT_MIN
    from pipeline_mf_etl_spark.queries.text import T2_SQL

    return f"""
    WITH q AS ({T2_SQL})
    SELECT d.doc_id, d.source, q.quality,
           CASE WHEN q.quality >= {QUALITY_ADMIT_MIN!r} THEN 'admit'
                ELSE 'reject' END AS route
    FROM documents d JOIN q USING (doc_id)
    """


@query("st8_stream_quality_route", oracle=_st8_oracle())
def st8_stream_quality_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time quality routing: per-document t2 composite score +
    admit/reject route as a pure projection — no aggregation, no state,
    so the identical transform runs append-mode on the document stream
    (tests/test_streaming.py drives it through readStream and asserts
    the same row set). This is the gate a streaming corpus ingest
    applies before dedup/embedding ever see a rejected doc; the oracle
    composes the certified t2 SELECT with the same threshold CASE."""
    from pipeline_mf_etl_spark.streaming import quality_route

    return quality_route(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# st10: LAST-CLICK attribution — the business query on top of st9's
# match set: for every purchase, the single closest preceding click
# (min gap; click_id tie-break). Pure batch arg-max over the join
# output — exactly the post-processing a streaming sink's consumer
# runs, certified end-to-end against the SQL replay.
# ---------------------------------------------------------------------------
@query(
    "st10_last_click",
    oracle="""
    WITH matches AS (
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               c.event_id AS click_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.ts < p.ts
         AND c.ts >= p.ts - INTERVAL 2 HOUR
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY purchase_id ORDER BY gap_us ASC, click_id ASC) AS rn
        FROM matches
    )
    SELECT purchase_id, user_id, click_id, gap_us
    FROM ranked WHERE rn = 1
    """,
)
def st10_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest preceding click per purchase (2-hour window): min-gap
    arg-max over the st9 attribution match set, click_id tie-break."""
    from pyspark.sql import Window

    from pipeline_mf_etl_spark.streaming import attribution_join

    events = load_table(spark, sf_dir, "events")
    matches = attribution_join(events, events)
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("gap_us").asc(), F.col("click_id").asc()
    )
    return (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "user_id", "click_id", "gap_us")
    )


# ---------------------------------------------------------------------------
# st11: the growing-LSH foreachBatch ingest promoted from library op to
# registered query — the REAL streaming machinery runs end-to-end
# (readStream → foreachBatch admission → batch_id-partitioned parquet
# sinks), and the returned frame is the admitted doc set read back from
# the sink. The driver's documents table is a single parquet file, so
# availableNow delivers exactly one micro-batch and the admission
# policy reduces to its intra-batch leg: a doc is rejected iff it
# band-collides with a smaller-id doc within the CAPPED bucket
# membership (streaming.lsh_max_bucket) — which is precisely what the
# oracle's ROW_NUMBER sub-select expresses. Multi-batch admission and
# partial-failure replay are certified by tests/test_streaming.py.
# ---------------------------------------------------------------------------
def _st11_oracle() -> str:
    from pipeline_mf_etl_spark.config import load_settings
    from pipeline_mf_etl_spark.queries.dedup import _D2_CHAIN, capped_bands_cte

    peer, capped_cte = capped_bands_cte(load_settings().streaming.lsh_max_bucket)
    return f"""
    WITH {_D2_CHAIN}{capped_cte},
    rejected AS (
        SELECT DISTINCT l.doc_id
        FROM bands l
        JOIN {peer} r ON l.band = r.band AND l.band_hash = r.band_hash
                     AND r.doc_id < l.doc_id
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM rejected)
    """


@query("st11_lsh_admission_batch", eager=True, oracle=_st11_oracle())
def st11_lsh_admission_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admitted docs of the growing-LSH streaming corpus ingest
    (streaming/transforms.py:ingest_with_growing_lsh_index), driven
    end-to-end through readStream + foreachBatch into fresh sink dirs.
    EAGER: the streaming query runs at build time; the result is the
    admitted set read back from the batch_id-partitioned sink
    (explicit column select drops the partition column)."""
    import tempfile

    from pipeline_mf_etl_spark.streaming import (
        ingest_with_growing_lsh_index,
        read_documents_stream,
    )

    root = tempfile.mkdtemp(prefix="st11_")
    q = ingest_with_growing_lsh_index(
        read_documents_stream(spark, sf_dir),
        index_dir=f"{root}/index",
        admitted_dir=f"{root}/admitted",
        checkpoint_dir=f"{root}/ckpt",
    )
    q.awaitTermination(600)
    return spark.read.parquet(f"{root}/admitted").select("doc_id", "source")


# ---------------------------------------------------------------------------
# st12: the continuous daily rollup (materialized continuous aggregate)
# promoted from library op to registered query — update-mode streaming
# aggregation maintained in a day/type-partitioned parquet table via
# dynamic-partition-overwrite foreachBatch upserts; the result is the
# materialization read back as a plain partitioned table. Oracle = the
# same daily rollup SQL that certifies st1 (the materialized table must
# equal the from-scratch aggregate — the invariant of an incrementally
# maintained rollup).
# ---------------------------------------------------------------------------
@query(
    "st12_daily_rollup_batch",
    eager=True,
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st12_daily_rollup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized continuous daily rollup read back from its
    partitioned parquet table after the incremental-refresh streaming
    query drains (streaming/transforms.py:continuous_daily_rollup).
    EAGER: runs the streaming query at build time."""
    import tempfile

    from pipeline_mf_etl_spark.streaming import (
        continuous_daily_rollup,
        read_events_stream,
    )

    root = tempfile.mkdtemp(prefix="st12_")
    q = continuous_daily_rollup(
        read_events_stream(spark, sf_dir),
        out_dir=f"{root}/rollup",
        checkpoint_dir=f"{root}/ckpt",
    )
    q.awaitTermination(600)
    return spark.read.parquet(f"{root}/rollup").select(
        F.col("window_day").cast("date").alias("window_day"),
        "event_type",
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# st13: the four-codec compressed-JSONL drop zone promoted from library
# op to registered query (r12 verdict task 3) — public corpora are
# distributed as .jsonl.{gz,lz4,sz,zst} shards, and this certifies the
# full ingest path end to end: deterministic shard synthesis through
# the repo's own verified encoders, checkpointed binaryFile readStream
# per codec, frame decode + line parse with the rejects side-channel
# (one corrupt shard, one bad JSON line — both become reason-tagged
# rows the oracle replays, never a wedged stream), foreachBatch into a
# codec/batch_id-partitioned sink, result = the table read back.
# Reference analog: the ingest layer's file-grain decompression
# (ingest/read_txt.py:97-186), here at shard grain with four codecs.
# ---------------------------------------------------------------------------
_ST13_ORACLE = """
    WITH assigned AS (
        SELECT doc_id, text, lang, source,
               CAST(doc_id % 4 AS INT) AS ci,
               CASE WHEN doc_id % 8 < 4 THEN 0 ELSE 1 END AS si
        FROM documents
    ), numbered AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY ci, si ORDER BY doc_id) - 1
                   AS line_no
        FROM assigned
    )
    SELECT 'docs-' || ci || '-' || si || '.jsonl.' ||
           CASE ci WHEN 0 THEN 'gz' WHEN 1 THEN 'lz4'
                   WHEN 2 THEN 'sz' ELSE 'zst' END AS shard,
           CAST(line_no AS BIGINT) AS line_no,
           doc_id, text, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(NULL AS VARCHAR) AS reject_reason
    FROM numbered
    UNION ALL
    SELECT 'docs-0-0.jsonl.gz',
           (SELECT COUNT(*) FROM documents
            WHERE doc_id % 4 = 0 AND doc_id % 8 < 4),
           NULL, 'not json {', NULL, NULL, NULL, 'BAD_JSON'
    UNION ALL
    SELECT 'corrupt-z.jsonl.zst', NULL, NULL, NULL, NULL, NULL, NULL,
           'BAD_FRAME'
"""


@query("st13_dropzone_ingest", eager=True, oracle=_ST13_ORACLE)
def st13_dropzone_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-codec drop-zone ingest, end to end. EAGER: synthesizes the
    shard files and drains the four streaming queries at build time.

    Shard assignment is pure doc_id arithmetic so the oracle can replay
    it: codec = doc_id % 4 (gz/lz4/sz/zst), sub-shard = doc_id % 8 < 4,
    lines sorted by doc_id. One trailing non-JSON line in the first
    gzip shard and one bad-magic zstd shard exercise the rejects path;
    reject_reason is normalized to its class (the BAD_FRAME detail
    carries the decoder's exception text, which SQL cannot replay)."""
    import gzip
    import json
    import os
    import tempfile

    from pipeline_mf_etl_spark.sources.lz4frame import encode_lz4_frame
    from pipeline_mf_etl_spark.sources.snappyframe import encode_snappy_frame
    from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_frame
    from pipeline_mf_etl_spark.streaming import ingest_dropzone_jsonl

    root = tempfile.mkdtemp(prefix="st13_")
    zone = os.path.join(root, "zone")
    os.makedirs(zone)

    # fixture synthesis: the corpus is small by contract (drop-zone
    # shards are built once, driver-side, through the verified
    # encoders). Guard the contract EXPLICITLY (r13 verdict task 6):
    # fail loudly before an sf-scaled corpus turns this eager collect
    # OOM-shaped — the production ingest path is ingest_dropzone_jsonl
    # itself (readStream, no driver materialization); only this
    # fixture build is driver-side.
    _ST13_MAX_DOCS = 200_000  # ~100 MB of JSONL at the test corpus shape
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    collected = src.limit(_ST13_MAX_DOCS + 1).collect()
    if len(collected) > _ST13_MAX_DOCS:
        raise ValueError(
            f"st13 fixture synthesis is driver-side by design and capped "
            f"at {_ST13_MAX_DOCS} documents; this corpus exceeds it — "
            f"certify st13 at a smaller sf or build shards executor-side "
            f"(sources/corpus_io.write_jsonl_zst_corpus)"
        )
    docs = sorted(
        (r["doc_id"], r["text"], r["lang"], r["source"]) for r in collected
    )
    shards: dict[tuple[int, int], list[str]] = {}
    for doc_id, text, lang, source in docs:
        key = (doc_id % 4, 0 if doc_id % 8 < 4 else 1)
        shards.setdefault(key, []).append(
            json.dumps(
                {
                    "doc_id": doc_id,
                    "text": text,
                    "lang": lang,
                    "source": source,
                    "n_chars": len(text) if text is not None else None,
                }
            )
        )
    encoders = {
        0: ("gz", lambda b: gzip.compress(b)),
        1: ("lz4", encode_lz4_frame),
        2: ("sz", encode_snappy_frame),
        3: ("zst", encode_zstd_frame),
    }
    for (ci, si), lines in sorted(shards.items()):
        ext, enc = encoders[ci]
        if (ci, si) == (0, 0):
            lines = lines + ["not json {"]  # the bad-line reject probe
        blob = enc("\n".join(lines).encode("utf-8"))
        with open(os.path.join(zone, f"docs-{ci}-{si}.jsonl.{ext}"), "wb") as fh:
            fh.write(blob)
    with open(os.path.join(zone, "corrupt-z.jsonl.zst"), "wb") as fh:
        fh.write(b"\x00" * 32)  # bad magic -> BAD_FRAME reject row

    for q in ingest_dropzone_jsonl(
        spark, zone, os.path.join(root, "out"), os.path.join(root, "ckpt")
    ):
        q.awaitTermination(600)

    out = spark.read.parquet(os.path.join(root, "out"))
    return out.select(
        F.regexp_extract("shard", "([^/]+)$", 1).alias("shard"),
        "line_no",
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.split("reject_reason", ":").getItem(0).alias("reject_reason"),
    )
