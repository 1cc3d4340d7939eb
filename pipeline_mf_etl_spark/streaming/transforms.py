"""Structured Streaming surface (SURVEY.md §2.11).

The reference has no streaming operators — its only incremental concept
is the manifest-driven file selection (ingest/manifest.py:155-199).
This module is the Spark-native replacement: the same file-backed event
feed consumed as a stream (``readStream`` + checkpoint replaces the
manifest ledger), with event-time tumbling/sliding/session windows and
a watermark for late data.

Every transform is written against a plain DataFrame so the SAME code
path serves batch (driver correctness gate, DuckDB oracle) and
streaming (availableNow trigger in tests) — the batch run IS the
semantic oracle for the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Bring ``ts`` to watermark-compatible TIMESTAMP regardless of how
    the source file encodes it: nanos-as-long → floor-divide to micros
    (matching DuckDB's nanos→micros truncation, sources/readers.py);
    TIMESTAMP_NTZ (micros file without timezone) → TIMESTAMP (values
    unchanged — the session timezone is UTC)."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet — the Structured
    Streaming replacement for the reference's NEW/CHANGED manifest scan
    (checkpointing tracks processed files instead of a fingerprint
    ledger).

    readStream needs an explicit schema; probe it from the parquet
    footer of the batch reader rather than hard-coding it — the source
    generation has shipped ``ts`` both as TIMESTAMP(NANOS) (surfaced as
    long under spark.sql.legacy.parquet.nanosAsLong) and as
    TIMESTAMP(MICROS) (surfaced as a native timestamp), and a schema
    that bakes in one generation silently corrupts the other (a
    micros-long divided by 1000 lands in 1970).

    Session-config dependency: a NANOS-generation file cannot be read
    at all without ``spark.sql.legacy.parquet.nanosAsLong=true``, and
    the flag must still be set when the STREAM executes its scans —
    so when (and only when) the probe fails without it, this function
    sets it for the session and leaves it set. The MICROS generation
    never touches session config."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    try:
        schema = spark.read.parquet(path).schema
    except Exception as exc:
        # NANOS generation: the flag is required for the probe AND for
        # every scan the returned stream runs later, so it must persist
        # for the session lifetime (see docstring). Only that specific
        # failure earns the config mutation — any other read error
        # (missing file, corrupt footer, permissions) re-raises
        # untouched instead of mutating session state and then failing
        # again with a misleading second error.
        msg = str(exc)
        if "TIMESTAMP(NANOS" not in msg and "Illegal Parquet type" not in msg:
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
    # Two on-disk layouts exist (same as read_documents_stream): the
    # testdata generator writes events.parquet as a single FILE (stream
    # the sf dir with a glob), while Spark-written tables (replication
    # scratch, curated outputs) are a DIRECTORY of part files (stream
    # the directory itself — the glob would match nothing inside it).
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_event_ts(raw)


def daily_rollup(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day event-time windows per event_type with a late-data
    watermark — the streaming twin of a groupBy(date) rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """2-day windows sliding by 1 day (each event lands in two windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_rollup(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day") -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap
    (``session_window`` is the stateful streaming-native form of the
    lag+cumsum gap-island idiom)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def enriched_side_rollup(
    events: DataFrame, dim: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Stream-static enrichment + tumbling rollup: broadcast-join a
    static dimension (the B2 state map) onto the event stream, then
    aggregate 1-day event-time windows per mapped trade side.

    Stream-static inner/left joins need no state on the stream side —
    the dim is broadcast to every task per micro-batch — so this is THE
    scale-safe way to enrich a firehose with reference data (the
    streaming twin of j2/b2's broadcast joins)."""
    joined = normalize_event_ts(events).join(F.broadcast(dim), "event_type", "left")
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.coalesce("side", F.lit(0)).alias("side"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_day"),
            "side",
            "n_events",
            "sum_value",
        )
    )


def stream_bronze_ingest(
    spark: SparkSession, sf_dir: str, output_path: str, checkpoint: str
) -> None:
    """Streaming ingestion feeding the BRONZE contract (SURVEY §7.3 step
    9): readStream file source → the same bronze normalization the batch
    pipeline uses → append parquet sink, with the checkpoint providing
    exactly-once file tracking (the Spark-native replacement for the
    reference's I1-I3 manifest ledger: re-running with the same
    checkpoint ingests nothing twice, new files ingest incrementally).

    availableNow drains everything currently present and stops — the
    batch-friendly trigger; a production deployment runs the identical
    code with a processing-time trigger.
    """
    from pipeline_mf_etl_spark.pipeline import bronze_layer

    bronze = bronze_layer(read_events_stream(spark, sf_dir))
    q = (
        bronze.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_year")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def replayed_events(events: DataFrame, every: int = 10) -> DataFrame:
    """Simulated at-least-once delivery: every ``every``-th event is
    redelivered verbatim (same event_id, same payload) — the duplicate
    profile a streaming ingest actually faces (source retries /
    checkpoint replays), and the reason the event feed needs exact
    dedupe at all. The shipped events tables are duplicate-free, so
    WITHOUT this augmentation any dedupe test/certification would pass
    vacuously on an identity transform."""
    return events.unionAll(events.filter(F.col("event_id") % every == 0))


def dedupe_events_batch(events: DataFrame) -> DataFrame:
    """Exact dedupe on event_id — the batch twin of
    :func:`dedupe_events_stream`. Replayed rows are verbatim copies, so
    any survivor is identical and ``dropDuplicates`` is deterministic
    in VALUE (not just in key)."""
    return events.dropDuplicates(["event_id"])


def dedupe_events_stream(events: DataFrame, within: str = "1 day") -> DataFrame:
    """Streaming exact dedupe on event_id with watermark-bounded state:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and EVICTS key state once the watermark passes ``within`` — the
    property that makes streaming dedupe of an unbounded feed feasible
    (a plain dropDuplicates would grow state forever). The trade is
    explicit: a replay arriving LATER than ``within`` past the original
    re-emits its key (state already evicted), so the batch twin is the
    exact oracle only for replays inside the horizon — size ``within``
    to the source's maximum redelivery lag."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def read_jsonl_corpus_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of ``sources/corpus_io.read_jsonl_corpus``: tail a
    directory of JSONL files (the drop-zone of a corpus ingest — new
    .jsonl/.jsonl.gz shards land, Spark's file source picks each up
    once, checkpoint-tracked) with the SAME explicit documents schema
    and the SAME corrupt-record column.

    Returns the RAW parsed stream including ``_corrupt_record``: a
    stream can't be cached and forked like the batch reader's two
    return legs, so production routes it with ``foreachBatch`` (where
    the batch-side filter split applies verbatim) or two filtered
    sinks. Rows with a non-null ``_corrupt_record`` carry the raw bytes
    of the malformed line; everything else parses under the explicit
    schema — never inferred, a second full pass over the corpus is not
    a thing a 100 TB stream can do."""
    from pipeline_mf_etl_spark.sources.corpus_io import _CORRUPT, DOCUMENTS_SCHEMA
    from pyspark.sql.types import StringType, StructField, StructType

    read_schema = StructType(
        list(DOCUMENTS_SCHEMA.fields) + [StructField(_CORRUPT, StringType(), True)]
    )
    return (
        spark.readStream.schema(read_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the incoming-doc
    firehose of a corpus-ingest pipeline (same checkpointed file
    tracking as :func:`read_events_stream`)."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    # Two on-disk layouts exist: the testdata generator writes
    # documents.parquet as a single FILE, while curate_corpus writes it
    # as a Spark DIRECTORY of part files. Spark's file stream source
    # requires a directory basePath, so stream the directory itself when
    # the table is one, and fall back to globbing the parent for the
    # single-file layout (where the old glob is correct).
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)


def neardup_candidates_against_index(
    docs: DataFrame, index: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Stream-static LSH lookup: every incoming document is MinHash-
    banded PER-ROW (``minhash_band_buckets_rowwise`` — array HOFs only,
    no per-doc aggregation, so the expression is append-mode legal) and
    equi-joined against a STATIC corpus bucket index; output is the
    (doc_id, matched_doc_id) near-dup candidate hits, one row per
    COLLIDING BAND (a pair agreeing in several bands appears up to
    ``bands`` times — the downstream batch verifier dedupes, same place
    exact Jaccard runs, so the stream plan itself is fully STATELESS:
    documents carry no event time to watermark on, and an in-stream
    dropDuplicates would grow its state store with every distinct pair
    forever).

    This is the online admission check of a training-corpus pipeline:
    "is this new document a near-duplicate of anything we already
    hold?". The index join is a plain equi-join — Spark broadcasts the
    static side when it fits and shuffle-joins otherwise; forcing a
    broadcast would ship an O(corpus) bucket table (4 rows/doc) to
    every task at 100 TB scale.

    ``max_bucket`` bounds per-bucket index membership consulted by the
    join (``cap_band_buckets``) — the duplicate-flood guard for the
    online path; None = uncapped, below 1 raises. The cap applies to
    the STATIC side only (a window on the stream side would be illegal
    in append mode anyway); it is deterministic and therefore
    certifiable by the same SQL oracle with a ROW_NUMBER sub-select.
    """
    from pipeline_mf_etl_spark.operators.dedupe import (
        cap_band_buckets,
        minhash_band_buckets_rowwise,
    )

    b = minhash_band_buckets_rowwise(docs, "doc_id", "text")
    idx = cap_band_buckets(index, "doc_id", max_bucket).select(
        F.col("doc_id").alias("matched_doc_id"), "band", "band_hash"
    )
    return (
        b.join(idx, ["band", "band_hash"])
        .filter(F.col("doc_id") != F.col("matched_doc_id"))
        .select("doc_id", "matched_doc_id")
    )


def quality_route(docs: DataFrame, quality_min: float | None = None) -> DataFrame:
    """Ingest-time quality routing: every incoming document gets its t2
    composite quality score and an admit/reject route — a pure per-row
    projection (tokenize + arithmetic, no aggregation, no state), so
    the identical expression runs append-mode on a document stream.
    This is the gate a streaming corpus ingest applies BEFORE expensive
    downstream work (dedup, embedding) ever sees a rejected doc."""
    from pipeline_mf_etl_spark.operators.dedupe import tokens
    from pipeline_mf_etl_spark.operators.text import QUALITY_ADMIT_MIN, rounded_quality

    if quality_min is None:
        quality_min = QUALITY_ADMIT_MIN
    t = docs.select("doc_id", "source", "text", tokens(F.col("text")).alias("toks"))
    q = rounded_quality(F.col("text"), F.col("toks"))
    return t.select(
        "doc_id",
        "source",
        q.alias("quality"),
        F.when(q >= quality_min, "admit").otherwise("reject").alias("route"),
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    attr_window: str = "2 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """STREAM-STREAM interval join — the attribution query: every
    purchase matched to the same user's click events in the preceding
    ``attr_window``. This is the hardest streaming op class (both sides
    buffer state); the interval condition + watermarks bound that state:
    a buffered click can only ever match purchases at most
    ``attr_window`` ahead, so once the purchase-side watermark passes
    ``click_ts + attr_window`` the click is evicted — state is
    O(rate × window), independent of stream length. The SAME join runs
    unchanged on batch frames (watermarks are streaming-only and added
    here only when the inputs stream).

    Inputs are the raw event frames (batch or streaming); output is one
    row per (purchase, preceding click) pair with the exact microsecond
    gap. Picking the LATEST click per purchase is a downstream batch
    concern (arg-max over gap) — the join itself emits the match set,
    which is what a streaming sink can append incrementally."""
    c = normalize_event_ts(clicks).filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    p = normalize_event_ts(purchases).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("click_user") == F.col("user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attr_window}"))
    )
    return c.join(p, cond).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "gap_us"
        ),
    )


def ingest_with_growing_lsh_index(
    docs_stream: DataFrame,
    index_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    max_bucket: int | None = None,
):
    """Streaming corpus admission against an INCREMENTALLY GROWN LSH
    index — the production form of st7's static lookup: each
    micro-batch is MinHash-banded per-row, checked against the
    persisted band index (equi-join), and the ADMITTED docs' bands are
    appended to that same index, so a near-dup of a doc admitted three
    batches ago is caught even though no static index ever existed.

    foreachBatch is the right tool: the index is stream-side state that
    must outlive the query and be queryable by OTHER jobs (batch d2,
    st7, ops), which the state store cannot offer. foreachBatch itself
    is only at-least-once, so the sink makes redelivery IDEMPOTENT
    explicitly: each batch writes to ``batch_id=<N>`` subdirectories
    (mode=overwrite), a fully committed batch (``_SUCCESS`` in BOTH
    subdirs) is skipped on replay, and a partially committed one is
    deterministically recomputed and overwritten — the file source
    redelivers the same rows for the same batch_id, and the index the
    recompute consults is exactly the committed earlier batches (the
    current batch's own partial output is excluded), so the rewrite is
    byte-equivalent. Readers see only committed subdirectories plus at
    most one in-flight overwrite of the failed batch — never
    duplicated admitted docs or index bands.

    Intra-batch policy (deterministic, single-pass): a doc is rejected
    if it band-collides with ANY batch doc of smaller doc_id —
    regardless of that doc's own admission fate — or with any indexed
    doc. No iteration, no order dependence on partitioning.

    ``max_bucket`` is the duplicate-flood guard (default: the
    ``streaming.lsh_max_bucket`` setting): both the persisted-index
    side and the intra-batch peer side are capped to the
    ``max_bucket`` smallest doc_ids per (band, bucket) before the
    equi-joins, bounding join fan-out at C(cap, 2) per bucket even
    when an adversarial near-exact flood lands mid-ingest (this path
    has no d1-first ordering to absorb one). Deterministic, so
    replays recompute identically. A cap below 1 raises
    (``cap_band_buckets``) and fails the query instead of admitting
    every duplicate.

    Layout/schema note for EXTERNAL consumers: ``admitted_dir`` and
    ``index_dir`` are ``batch_id=<N>`` partitioned directories —
    reading the root with partition discovery surfaces an extra
    ``batch_id`` column; select explicit columns (as the in-repo
    readers do) or drop it.

    Returns the StreamingQuery (availableNow trigger; caller awaits)."""
    import os
    import re

    from pipeline_mf_etl_spark.config import load_settings
    from pipeline_mf_etl_spark.operators.dedupe import (
        cap_band_buckets,
        minhash_band_buckets_rowwise,
    )

    if max_bucket is None:
        max_bucket = load_settings().streaming.lsh_max_bucket

    def _committed(d: str) -> bool:
        return os.path.isfile(os.path.join(d, "_SUCCESS"))

    def _process(batch: DataFrame, batch_id: int) -> None:
        if len(batch.take(1)) == 0:
            return
        sub_adm = os.path.join(admitted_dir, f"batch_id={batch_id}")
        sub_idx = os.path.join(index_dir, f"batch_id={batch_id}")
        if _committed(sub_adm) and _committed(sub_idx):
            return  # replayed batch, fully committed — idempotent skip
        sp = batch.sparkSession
        bands = minhash_band_buckets_rowwise(batch, "doc_id", "text").persist()
        try:
            # vs the grown index: committed EARLIER batches only (N <
            # batch_id). Excluding just the current id is not enough
            # under a fresh-checkpoint full replay, where a damaged
            # non-last batch would otherwise be recomputed against
            # LATER batches' indexes and admit a different set.
            idx_parts = []
            if os.path.isdir(index_dir):
                for name in sorted(os.listdir(index_dir)):
                    p = os.path.join(index_dir, name)
                    m = re.fullmatch(r"batch_id=(\d+)", name)
                    if m and int(m.group(1)) < batch_id and _committed(p):
                        idx_parts.append(p)
            if idx_parts:
                idx = cap_band_buckets(
                    sp.read.parquet(*idx_parts).select(
                        "doc_id", "band", "band_hash"
                    ),
                    "doc_id",
                    max_bucket,
                ).withColumnRenamed("doc_id", "matched_doc_id")
                index_hits = (
                    bands.join(idx, ["band", "band_hash"])
                    .filter(F.col("doc_id") != F.col("matched_doc_id"))
                    .select("doc_id")
                )
            else:
                index_hits = bands.select("doc_id").limit(0)
            # vs smaller-id docs of the same batch; peer side capped to
            # the same per-bucket bound (smallest ids kept ⇒ every doc
            # that has ANY smaller peer in the bucket still sees one
            # unless the bucket's first `cap` ids are all larger — i.e.
            # rejection decisions change only for docs ranked past the
            # cap, the accepted recall trade)
            peer = cap_band_buckets(
                bands.select("doc_id", "band", "band_hash"), "doc_id", max_bucket
            ).select(F.col("doc_id").alias("peer_id"), "band", "band_hash")
            batch_hits = (
                bands.join(peer, ["band", "band_hash"])
                .filter(F.col("peer_id") < F.col("doc_id"))
                .select("doc_id")
            )
            rejected = index_hits.union(batch_hits).distinct()
            admitted = batch.join(rejected, "doc_id", "left_anti")
            admitted.write.mode("overwrite").parquet(sub_adm)
            bands.join(rejected, "doc_id", "left_anti").write.mode(
                "overwrite"
            ).parquet(sub_idx)
        finally:
            bands.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def continuous_daily_rollup(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
):
    """MATERIALIZED continuous aggregate (the hypertable-rollup
    pattern): the tumbling daily rollup maintained incrementally in a
    day/type-partitioned parquet table as new event files land.

    Update-mode streaming aggregation emits one row per CHANGED
    (window_day, event_type) key per micro-batch, each carrying the
    key's FULL new aggregate from the state store — so refreshing the
    materialization is a dynamic-partition overwrite of exactly the
    touched partitions (an idempotent upsert: re-delivering a batch
    rewrites the same partitions with the same totals). Untouched days
    are never read or rewritten; a 100-TB history costs nothing per
    refresh. Readers see the rollup as a plain partitioned parquet
    table (partition pruning applies), independent of this query's
    lifetime.

    Returns the StreamingQuery (availableNow; caller awaits)."""
    agg = daily_rollup(events_stream, watermark=watermark)

    def _upsert(batch: DataFrame, batch_id: int) -> None:
        if len(batch.take(1)) == 0:
            return
        sp = batch.sparkSession
        prev = sp.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            batch.write.mode("overwrite").partitionBy(
                "window_day", "event_type"
            ).parquet(out_dir)
        finally:
            sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _binary_dropzone(
    spark: SparkSession, path: str, glob: str, max_files: int, extract, schema
) -> DataFrame:
    """A drop zone tailed by Spark's binaryFile source: each file under
    ``path`` matching ``glob`` is picked up exactly once
    (checkpoint-tracked), at most ``max_files`` per micro-batch — which
    bounds micro-batch memory — and ``extract`` maps the (path, content)
    Arrow batches to ``schema`` rows. ``extract`` must turn a bad file
    into reject rows, never an exception: the checkpointed source would
    replay a failing file forever and wedge the stream."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    # the binaryFile source's fixed schema, stated explicitly (the
    # streaming source refuses to infer)
    binary_schema = StructType(
        [
            StructField("path", StringType(), False),
            StructField("modificationTime", TimestampType(), False),
            StructField("length", LongType(), False),
            StructField("content", BinaryType(), True),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )
    return raw.select("path", "content").mapInPandas(extract, schema)


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of the batch WARC ingestion (sources/warc.py):
    tail a drop-zone of ``.warc.gz`` captures with Spark's binaryFile
    source (each archive picked up exactly once, checkpoint-tracked),
    then run the SAME extraction pass — gzip member split, ISO 28500
    record walk, HTTP parse — as one Arrow map over each micro-batch.

    One file = one row into the extractor (Common Crawl ships ~1 GB
    archives; maxFilesPerTrigger bounds micro-batch memory). The
    emitted schema is the batch extractor's WARC_DOC_SCHEMA with
    ``doc_id`` replaced by the archive ``path`` — a stream has no
    corpus ids until assignment downstream."""
    from pipeline_mf_etl_spark.sources.warc import (
        parse_http_response,
        parse_warc,
        split_gzip_members,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("archive", StringType(), False),
            StructField("url", StringType(), True),
            StructField("warc_date", StringType(), True),
            StructField("http_status", LongType(), True),
            StructField("content_type", StringType(), True),
            StructField("n_records", LongType(), False),
            StructField("html", StringType(), True),
            StructField("body_bytes", LongType(), True),
        ]
    )

    def decode_body(body: bytes, content_type) -> str:
        # A real drop-zone carries pages in arbitrary (and mislabeled)
        # encodings. A strict decode here would fail the micro-batch,
        # and the checkpointed binaryFile source would replay the same
        # files and fail forever — wedging the stream. Use the declared
        # charset when it resolves, utf-8 otherwise, and ALWAYS
        # errors="replace" so no byte sequence can raise.
        enc = "utf-8"
        if content_type and "charset=" in content_type:
            cand = content_type.split("charset=", 1)[1].split(";")[0].strip()
            try:
                import codecs

                codecs.lookup(cand)
                enc = cand
            except LookupError:
                pass
        return body.decode(enc, errors="replace")

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for apath, blob in zip(pdf["path"], pdf["content"]):
                members = split_gzip_members(bytes(blob))
                records = [r for m in members for r in parse_warc(m)]
                n = len(records)
                for rec in records:
                    if rec["type"] != "response":
                        continue
                    lower = {k.lower(): v for k, v in rec["headers"].items()}
                    http = parse_http_response(rec["payload"])
                    rows.append(
                        (
                            apath,
                            lower.get("warc-target-uri"),
                            lower.get("warc-date"),
                            http["status"],
                            http["content_type"],
                            n,
                            decode_body(http["body"], http["content_type"]),
                            len(http["body"]),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return _binary_dropzone(spark, path, "*.warc.gz", 4, extract, schema)


def read_compressed_jsonl_stream(
    spark: SparkSession, path: str, codec: str = "lz4"
) -> DataFrame:
    """Streaming drop-zone reader for compressed JSONL corpus shards
    (``*.jsonl.lz4`` LZ4-framed / ``*.jsonl.sz`` framed Snappy /
    ``*.jsonl.zst`` zstd) — the interchange layouts public corpora are
    actually distributed in. Each shard is picked up exactly once
    (checkpoint-tracked binaryFile source), frame-decoded through the
    fully verified walk (sources/lz4frame.py / sources/snappyframe.py /
    sources/zstdframe.py) and parsed line by line against the
    DOCUMENTS_SCHEMA contract with a rejects side-channel, all in one
    Arrow map per micro-batch.

    Failure containment (the read_warc_stream lesson): a corrupt shard
    (bad magic/CRC/size) or an undecodable line becomes REJECT ROWS
    (reason-tagged), never an exception — the checkpointed source would
    replay a failing file forever and wedge the stream.
    """
    if codec == "lz4":
        from pipeline_mf_etl_spark.sources.lz4frame import decode_lz4_frame

        decode, glob = decode_lz4_frame, "*.jsonl.lz4"
    elif codec == "snappy":
        from pipeline_mf_etl_spark.sources.snappyframe import (
            decode_snappy_frame,
        )

        decode, glob = decode_snappy_frame, "*.jsonl.sz"
    elif codec == "zstd":
        # stream decoder: real .zst shards are concatenated frames with
        # optional skippable frames (seekable seek tables, padding)
        from pipeline_mf_etl_spark.sources.zstdframe import decode_zstd_stream

        decode, glob = decode_zstd_stream, "*.jsonl.zst"
    elif codec == "gzip":
        # the most common shard format of all; multi-member per the
        # Common-Crawl convention (sources/warc.py splitter), contents
        # concatenate — the fully verified stdlib-zlib walk
        from pipeline_mf_etl_spark.sources.warc import split_gzip_members

        def _gz(blob: bytes) -> dict:
            return {"content": b"".join(split_gzip_members(blob))}

        decode, glob = _gz, "*.jsonl.gz"
    elif codec == "bzip2":
        # Wikipedia-dump convention: multistream .bz2 shards — the
        # fully verified RLE1/BWT/Huffman walk (sources/bzip2.py)
        from pipeline_mf_etl_spark.sources.bzip2 import decode_bzip2_stream

        decode, glob = decode_bzip2_stream, "*.jsonl.bz2"
    elif codec == "xz":
        # OSCAR-style .xz shards — the full container walk with block
        # checks + index/footer validation (sources/xz.py)
        from pipeline_mf_etl_spark.sources.xz import decode_xz_stream

        decode, glob = decode_xz_stream, "*.jsonl.xz"
    else:
        raise ValueError(
            f"unsupported stream codec {codec!r} "
            "(lz4|snappy|zstd|gzip|bzip2|xz)"
        )

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("shard", StringType(), False),
            StructField("line_no", LongType(), True),
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("reject_reason", StringType(), True),
        ]
    )

    def extract(batches):
        import json as _json

        import pandas as pd

        for pdf in batches:
            rows = []
            for spath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    content = decode(bytes(blob))["content"]
                except Exception as e:  # corrupt shard -> ONE reject row
                    rows.append(
                        (spath, None, None, None, None, None, None,
                         f"BAD_FRAME: {e}")
                    )
                    continue
                text = content.decode("utf-8", errors="replace")
                for ln, line in enumerate(text.splitlines()):
                    if not line.strip():
                        continue
                    try:
                        obj = _json.loads(line)
                        if not isinstance(obj, dict):
                            raise ValueError("line is not a JSON object")
                    except Exception:
                        rows.append(
                            (spath, ln, None, line, None, None, None,
                             "BAD_JSON")
                        )
                        continue
                    def _long(v):
                        # ints only: JSON true/1.7 must surface as NULL,
                        # not coerce to 1 (bool is an int subclass)
                        return (
                            int(v)
                            if isinstance(v, int) and not isinstance(v, bool)
                            else None
                        )

                    rows.append(
                        (
                            spath,
                            ln,
                            _long(obj.get("doc_id")),
                            obj.get("text") if isinstance(obj.get("text"), str) else None,
                            obj.get("lang") if isinstance(obj.get("lang"), str) else None,
                            obj.get("source") if isinstance(obj.get("source"), str) else None,
                            _long(obj.get("n_chars")),
                            None,
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return _binary_dropzone(spark, path, glob, 8, extract, schema)


def ingest_dropzone_jsonl(
    spark: SparkSession,
    zone_dir: str,
    out_dir: str,
    checkpoint_root: str,
    codecs: tuple[str, ...] = ("gzip", "lz4", "snappy", "zstd"),
):
    """Drive the four-codec compressed-JSONL drop zone end to end: one
    checkpointed readStream per codec (each picks up only its own
    ``*.jsonl.<ext>`` shards) -> foreachBatch -> a
    ``codec=<c>/batch_id=<N>`` partitioned parquet table. Reject rows
    (corrupt frame, undecodable line) ride the same table inline via
    ``reject_reason`` — the side channel a curation pipeline audits.

    Idempotence follows the ingest_with_growing_lsh_index convention:
    a batch subdir with ``_SUCCESS`` is skipped on replay; a partial
    one is recomputed and overwritten (the file source redelivers the
    same shard set for the same batch_id, and shard parsing is pure).

    Returns the started StreamingQuery list (availableNow trigger;
    caller awaits each).
    """
    import os

    queries = []
    for codec in codecs:
        parsed = read_compressed_jsonl_stream(spark, zone_dir, codec=codec)

        def _process(batch: DataFrame, batch_id: int, _codec=codec) -> None:
            if len(batch.take(1)) == 0:
                return
            sub = os.path.join(out_dir, f"codec={_codec}", f"batch_id={batch_id}")
            if os.path.isfile(os.path.join(sub, "_SUCCESS")):
                return  # replayed fully-committed batch
            batch.write.mode("overwrite").parquet(sub)

        queries.append(
            parsed.writeStream.foreachBatch(_process)
            .option(
                "checkpointLocation", os.path.join(checkpoint_root, codec)
            )
            .trigger(availableNow=True)
            .start()
        )
    return queries


def read_tfrecord_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming drop-zone reader for TFRecord corpus shards
    (``*.tfrecord``, one tf.Example per record — the container a TF
    training pipeline emits and consumes). Same contract as
    read_compressed_jsonl_stream: each shard is picked up exactly once
    (checkpoint-tracked binaryFile source) and decoded in one Arrow map
    per micro-batch, with failure containment — a corrupt record stops
    the walk at the first CRC/framing error (salvaging every record
    before it, the TFRecord resync story: framing has no sync marker)
    and files ONE reason-tagged BAD_FRAME reject; a record whose
    tf.Example doesn't fit the documents contract becomes a per-record
    reject row. Never an exception: the checkpointed source would
    replay a failing file forever and wedge the stream."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pipeline_mf_etl_spark.sources.corpus_io import (
        DOCUMENTS_SCHEMA,
        _example_to_row,
        _tfrecord_field_plan,
        _utf8_columns,
    )
    from pipeline_mf_etl_spark.sources.tfrecord import iter_tfrecord

    plan = _tfrecord_field_plan(DOCUMENTS_SCHEMA)
    utf8 = _utf8_columns(DOCUMENTS_SCHEMA)

    schema = StructType(
        [
            StructField("shard", StringType(), False),
            StructField("record_no", LongType(), True),
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("reject_reason", StringType(), True),
        ]
    )

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for spath, blob in zip(pdf["path"], pdf["content"]):
                no = 0
                try:
                    for _, _, payload in iter_tfrecord(bytes(blob)):
                        try:
                            doc = _example_to_row(payload, plan, utf8)
                            rows.append((spath, no, *doc, None))
                        except Exception as e:  # bad Example -> reject row
                            rows.append(
                                (spath, no, None, None, None, None, None,
                                 f"BAD_EXAMPLE: {e}")
                            )
                        no += 1
                except Exception as e:  # corrupt framing -> ONE reject row
                    rows.append(
                        (spath, no, None, None, None, None, None,
                         f"BAD_FRAME: {e}")
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return _binary_dropzone(spark, path, "*.tfrecord", 8, extract, schema)


def read_arrow_stream_dropzone(spark: SparkSession, path: str) -> DataFrame:
    """Streaming drop-zone reader for Arrow IPC shards (``*.arrow``
    Feather-V2 files — the HuggingFace-datasets interchange). Same
    contract as read_tfrecord_stream: checkpoint-tracked binaryFile
    source, one Arrow map per micro-batch, failure containment — a
    shard whose container/metadata/buffers fail the strict walk files
    ONE reason-tagged BAD_FRAME reject (Arrow metadata is positional,
    so unlike TFRecord there is no mid-file salvage grain: the footer
    is all-or-nothing); a decoded row that violates the documents
    contract becomes a per-row BAD_ROW reject."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pipeline_mf_etl_spark.sources.arrowipc import decode_arrow_file
    from pipeline_mf_etl_spark.sources.corpus_io import DOCUMENTS_SCHEMA

    want = [
        (f.name, "int" if f.dataType.typeName() == "long" else "str")
        for f in DOCUMENTS_SCHEMA.fields
    ]

    schema = StructType(
        [
            StructField("shard", StringType(), False),
            StructField("row_no", LongType(), True),
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("reject_reason", StringType(), True),
        ]
    )

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for spath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    out = decode_arrow_file(bytes(blob))
                    by_name = dict(
                        zip((f.name for f in out["fields"]), out["columns"])
                    )
                    n = len(out["columns"][0]) if out["columns"] else 0
                except Exception as e:  # corrupt shard -> ONE reject row
                    rows.append(
                        (spath, None, None, None, None, None, None,
                         f"BAD_FRAME: {e}")
                    )
                    continue
                for i in range(n):
                    vals = []
                    bad = None
                    for name, kind in want:
                        v = by_name.get(name, [None] * n)[i]
                        if v is not None and (
                            (kind == "int" and not isinstance(v, int))
                            or (kind == "str" and not isinstance(v, str))
                        ):
                            bad = f"BAD_ROW: {name} is {type(v).__name__}"
                            v = None
                        vals.append(v)
                    rows.append((spath, i, *vals, bad))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return _binary_dropzone(spark, path, "*.arrow", 8, extract, schema)
