"""Stream-vs-batch equivalence: the shared transforms must produce the
same result through readStream (availableNow, memory sink) as through
the batch loader — the batch result is the semantic oracle for the
streaming path (SURVEY.md §2.11)."""

from __future__ import annotations

import uuid

import pytest

from pipeline_mf_etl_spark.sources.readers import load_table
from pipeline_mf_etl_spark.streaming import (
    daily_rollup,
    read_events_stream,
    session_rollup,
    sliding_rollup,
)
from tests.conftest import SF_SMOKE


def _run_stream(spark, transform):
    stream = read_events_stream(spark, SF_SMOKE)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.mark.parametrize("transform", [daily_rollup, sliding_rollup, session_rollup])
def test_stream_matches_batch(spark, transform):
    streamed = sorted(map(tuple, _run_stream(spark, transform).collect()))
    batch = sorted(
        map(tuple, transform(load_table(spark, SF_SMOKE, "events")).collect())
    )
    assert streamed == batch
    assert len(batch) > 0


def test_stateful_running_stats_matches_batch(spark):
    """applyInPandasWithState running totals: the LAST update emitted per
    user must equal the batch groupBy aggregate."""
    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.streaming.stateful import running_user_stats

    stream = read_events_stream(spark, SF_SMOKE)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode appends one row per (user, micro-batch); with a single
    # events file there is one batch, so rows are already final totals
    streamed = {
        r["user_id"]: (r["n_events"], r["sum_value"], round(r["max_value"], 6))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 6), round(r["m"], 6))
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("value").alias("n"), F.sum("value").alias("s"), F.max("value").alias("m"))
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_bronze_ingest_matches_batch_and_is_incremental(spark, tmp_path):
    """Streamed bronze must equal the batch bronze layer row-for-row, and
    a second run with the same checkpoint must ingest NOTHING new —
    checkpoint file-tracking is the manifest-ledger replacement."""
    from pipeline_mf_etl_spark.pipeline import bronze_layer
    from pipeline_mf_etl_spark.sources.readers import load_table
    from pipeline_mf_etl_spark.streaming.transforms import stream_bronze_ingest

    sf = "/root/testdata/sf0.001"
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")

    stream_bronze_ingest(spark, sf, out, ckpt)
    streamed = spark.read.parquet(out)
    batch = bronze_layer(load_table(spark, sf, "events"))
    assert streamed.count() == batch.count()
    cols = sorted(batch.columns)
    s_rows = sorted(map(tuple, streamed.select(*cols).collect()))
    b_rows = sorted(map(tuple, batch.select(*cols).collect()))
    assert s_rows == b_rows

    # idempotent re-run: checkpoint remembers the processed file
    stream_bronze_ingest(spark, sf, out, ckpt)
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_dedupe_removes_cross_batch_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop replayed events ACROSS
    micro-batches: the feed is two files (originals, then verbatim
    replays of every 10th event) processed one per trigger, and the
    deduped stream must equal the batch dedupe of the union — every
    replay removed, no key emitted twice. The shipped events table is
    duplicate-free, so without the injected replay file this test would
    pass on a broken (identity) dedupe. Horizon spans the whole data
    range so no state evicts mid-test (beyond-horizon re-emission is a
    documented trade, not a bug)."""
    import pyspark.sql.functions as F

    from pipeline_mf_etl_spark.streaming import (
        dedupe_events_batch,
        dedupe_events_stream,
        normalize_event_ts,
        replayed_events,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    replays = ev.filter(F.col("event_id") % 10 == 0)
    assert replays.count() > 0, "replay injection produced no duplicates"
    feed_dir = str(tmp_path / "feed")
    # single FILES at the dir top level (a Spark .write would create
    # subdirectories the file-stream source does not list)
    import os

    os.makedirs(feed_dir)
    ev.toPandas().to_parquet(f"{feed_dir}/batch1.parquet")
    replays.toPandas().to_parquet(f"{feed_dir}/batch2.parquet")

    schema = spark.read.parquet(feed_dir).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        dedupe_events_stream(stream, within="3650 days")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    s_ids = sorted(r["event_id"] for r in spark.sql(f"SELECT event_id FROM {name}").collect())

    batch = dedupe_events_batch(replayed_events(ev))
    b_ids = sorted(r["event_id"] for r in batch.select("event_id").collect())
    assert len(s_ids) == len(set(s_ids)), "stream emitted a replayed event twice"
    assert s_ids == b_ids and len(b_ids) > 0
    # the dedupe actually removed something: fewer rows out than fed in
    assert len(s_ids) < ev.count() + replays.count()


def test_stream_static_enrich_matches_batch(spark):
    """st6: the stream-static broadcast join + windowed rollup must be
    identical through readStream and the batch loader."""
    from pipeline_mf_etl_spark.queries.backtest import _state_map_df
    from pipeline_mf_etl_spark.streaming import enriched_side_rollup

    dim = _state_map_df(spark)
    streamed = sorted(
        map(tuple, _run_stream(spark, lambda ev: enriched_side_rollup(ev, dim)).collect())
    )
    batch = sorted(
        map(
            tuple,
            enriched_side_rollup(load_table(spark, SF_SMOKE, "events"), dim).collect(),
        )
    )
    assert streamed == batch
    assert len(batch) > 0
    # every mapped side appears (the dim actually enriched the stream)
    sides = {r[1] for r in batch}
    assert {-1, 0, 1} <= sides


def test_stream_neardup_matches_batch(spark):
    """st7: the per-row LSH lookup against the static corpus index must
    emit the identical candidate-pair set through readStream (append
    mode — the stream plan is STATELESS: no aggregation, no in-stream
    distinct) and batch. Per-band duplicate hits are part of the
    contract, so the comparison is on the distinct pair set."""
    import uuid

    from pipeline_mf_etl_spark.operators.dedupe import minhash_band_buckets_rowwise
    from pipeline_mf_etl_spark.streaming import (
        neardup_candidates_against_index,
        read_documents_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    index = minhash_band_buckets_rowwise(docs, "doc_id", "text")

    stream = read_documents_stream(spark, SF_SMOKE)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        neardup_candidates_against_index(stream, index)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = set(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    batch = set(
        map(tuple, neardup_candidates_against_index(docs, index).collect())
    )
    assert streamed == batch
    assert len(batch) > 0
    # directed pairs: every (a, b) has its (b, a) mirror
    assert all((b, a) in streamed for a, b in streamed)


def test_stream_quality_route_matches_batch(spark):
    """st8: the quality router is a stateless projection — identical
    row set through readStream (append, no state) and batch. Every
    shipped doc scores >= 0.6, so the default floor admits everything
    — the stream run therefore RAISES the floor to 0.9 so the reject
    branch is actually exercised (a broken otherwise() would pass an
    admit-only comparison vacuously)."""
    import uuid

    from pipeline_mf_etl_spark.streaming import quality_route, read_documents_stream

    stream = read_documents_stream(spark, SF_SMOKE)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        quality_route(stream, quality_min=0.9)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    batch = sorted(
        map(
            tuple,
            quality_route(
                load_table(spark, SF_SMOKE, "documents"), quality_min=0.9
            ).collect(),
        )
    )
    assert streamed == batch
    assert len(batch) > 0
    routes = {r[-1] for r in batch}
    assert routes == {"admit", "reject"}, routes


def test_read_documents_stream_directory_layout(spark, tmp_path):
    """read_documents_stream must also work when documents.parquet is a
    Spark DIRECTORY of part files — the layout curate_corpus writes —
    not just the testdata generator's single-file layout (ADVICE r4:
    the old parent-dir glob silently read zero rows from a curated
    corpus directory)."""
    import uuid

    from pipeline_mf_etl_spark.sources.readers import load_table
    from pipeline_mf_etl_spark.streaming import read_documents_stream

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "curated")
    docs.repartition(3).write.parquet(f"{out}/documents.parquet")

    stream = read_documents_stream(spark, out)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql(f"SELECT COUNT(*) FROM {name}").collect()[0][0]
    assert n == docs.count() > 0


def test_streaming_pack_matches_batch_single_batch(spark, tmp_path):
    """Online packing over one micro-batch (whole corpus, doc_id order)
    must be bit-identical to the batch next-fit operator — INCLUDING
    when a bucket's rows arrive as several Arrow chunks (tiny
    maxRecordsPerBatch forces the multi-chunk path: a per-chunk sort
    instead of a whole-group sort would scramble doc_id order)."""
    import uuid as _uuid

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.operators.packing import (
        PACK_BUDGET,
        pack_bucket,
        pack_next_fit,
    )
    from pipeline_mf_etl_spark.streaming.stateful import streaming_pack_next_fit

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(300, dtype=np.int64),
            "n_tokens": rng.integers(0, 300, size=300).astype(np.int64),
        }
    )
    src = tmp_path / "docs"
    src.mkdir()
    pdf.to_parquet(src / "part-0.parquet")

    batch_df = spark.createDataFrame(pdf)
    expect = {
        (r["doc_id"]): (r["bucket"], r["seq_id"])
        for r in pack_next_fit(batch_df).collect()
    }

    schema = "doc_id long, n_tokens long"
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .withColumn("bucket", pack_bucket(F.col("doc_id")))
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        name = f"pack_{_uuid.uuid4().hex[:8]}"
        q = (
            streaming_pack_next_fit(stream, PACK_BUDGET)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        r["doc_id"]: (r["bucket"], r["seq_id"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == expect


def test_streaming_pack_state_continues_across_batches(spark, tmp_path):
    """With one file per trigger, the packing cursor must persist: every
    doc is assigned exactly once, per-(bucket, seq) fills respect the
    budget except lone oversize docs, and a bucket's seq ids stay dense
    starting at 1 even when its docs span micro-batches."""
    import uuid as _uuid

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.operators.packing import PACK_BUDGET, pack_bucket
    from pipeline_mf_etl_spark.streaming.stateful import streaming_pack_next_fit

    rng = np.random.default_rng(9)
    src = tmp_path / "docs"
    src.mkdir()
    n_per, n_files = 150, 3
    for f in range(n_files):
        pd.DataFrame(
            {
                "doc_id": np.arange(f * n_per, (f + 1) * n_per, dtype=np.int64),
                "n_tokens": rng.integers(0, 300, size=n_per).astype(np.int64),
            }
        ).to_parquet(src / f"part-{f}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("bucket", pack_bucket(F.col("doc_id")))
    )
    name = f"packm_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_pack_next_fit(stream, PACK_BUDGET)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(f"select * from {name}").collect()
    assert len(rows) == n_per * n_files
    assert len({r["doc_id"] for r in rows}) == n_per * n_files  # exactly once

    seqs: dict[tuple, list] = {}
    buckets: dict[int, set] = {}
    for r in rows:
        seqs.setdefault((r["bucket"], r["seq_id"]), []).append(r["n_tokens"])
        buckets.setdefault(r["bucket"], set()).add(r["seq_id"])
    for (b, s), toks in seqs.items():
        if sum(toks) > PACK_BUDGET:
            assert len(toks) == 1 and toks[0] > PACK_BUDGET, (b, s, toks)
    for b, ids in buckets.items():
        assert ids == set(range(1, max(ids) + 1)), (b, ids)


def test_stream_stream_attribution_matches_batch(spark):
    """st9: the stream-stream interval join (click→purchase attribution)
    must emit the identical pair set through TWO readStream sources with
    watermarks (append mode) as through the batch loader. Inner
    stream-stream joins emit on match; the watermark only bounds buffered
    state, so one availableNow pass yields the full set."""
    import uuid

    from pipeline_mf_etl_spark.streaming import attribution_join, read_events_stream

    clicks = read_events_stream(spark, SF_SMOKE)
    purchases = read_events_stream(spark, SF_SMOKE)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        attribution_join(clicks, purchases)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = set(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))

    ev = load_table(spark, SF_SMOKE, "events")
    batch = set(map(tuple, attribution_join(ev, ev).collect()))
    assert streamed == batch
    assert len(batch) > 0
    # the interval bound actually constrains: every gap is in (0, 2h]
    assert all(0 < t[3] <= 2 * 3600 * 1_000_000 for t in batch)


def test_growing_lsh_index_catches_cross_batch_neardups(spark, tmp_path):
    """The foreachBatch ingest gate must reject a doc that near-dups a
    doc ADMITTED IN AN EARLIER BATCH (the index grew), reject
    smaller-id intra-batch collisions, and admit everything unique."""
    import json

    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.streaming import (
        ingest_with_growing_lsh_index,
        read_jsonl_corpus_stream,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    uniq = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "spark engines shuffle partitions across the cluster ring buffer",
        3: "completely different text about marmalade recipes and citrus peel",
        4: "orthogonal content covering tide tables and lunar phase charts",
    }
    dup_text = "identical payload text that appears in both stream batches verbatim"
    # file A: two unique docs + doc 10 (first copy of the dup) + an
    # intra-batch dup pair (20 admits, 21 rejects)
    intra = "intra batch duplicated sentence shared by twenty and twentyone"
    a = [
        {"doc_id": 1, "text": uniq[1]},
        {"doc_id": 10, "text": dup_text},
        {"doc_id": 20, "text": intra},
        {"doc_id": 21, "text": intra},
        {"doc_id": 2, "text": uniq[2]},
    ]
    # file B: two unique docs + doc 30 (second copy of the dup)
    b = [
        {"doc_id": 3, "text": uniq[3]},
        {"doc_id": 30, "text": dup_text},
        {"doc_id": 4, "text": uniq[4]},
    ]
    for name, rows in (("a.jsonl", a), ("b.jsonl", b)):
        with open(drop / name, "w") as fh:
            for r in rows:
                base = {"lang": "en", "source": "s", "n_chars": len(r["text"])}
                fh.write(json.dumps({**r, **base}) + "\n")

    stream = read_jsonl_corpus_stream(spark, str(drop)).filter(
        F.col("_corrupt_record").isNull()
    ).drop("_corrupt_record")
    q = ingest_with_growing_lsh_index(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "admitted"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    admitted = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    # uniques always admitted; intra-batch: 20 in, 21 out
    assert {1, 2, 3, 4} <= admitted
    assert 20 in admitted and 21 not in admitted
    # exactly ONE of the cross-batch dup pair survived (whichever batch
    # ran first admitted its copy; the grown index rejected the other)
    assert len({10, 30} & admitted) == 1
    # the index holds bands for every admitted doc and no rejected one
    idx_ids = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "index")).collect()
    }
    assert idx_ids == admitted

    # --- redelivery idempotency (foreachBatch is at-least-once) ---
    # Snapshot, then replay the whole stream: (a) clean replay of fully
    # committed batches must be a no-op; (b) a PARTIALLY committed batch
    # (failure between the admitted write and the index write) must be
    # deterministically recomputed, not duplicated.
    import shutil

    adm_rows_before = spark.read.parquet(str(tmp_path / "admitted")).count()
    idx_rows_before = spark.read.parquet(str(tmp_path / "index")).count()
    # simulate the partial failure on the LAST batch: its index subdir
    # never committed
    idx_subdirs = sorted(
        p for p in (tmp_path / "index").iterdir() if p.name.startswith("batch_id=")
    )
    assert len(idx_subdirs) >= 2  # one per non-empty micro-batch
    shutil.rmtree(idx_subdirs[-1])
    # replay from scratch (fresh checkpoint => same files, same batch
    # split under maxFilesPerTrigger=1)
    q2 = ingest_with_growing_lsh_index(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "admitted"),
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(str(tmp_path / "admitted")).count() == adm_rows_before
    assert spark.read.parquet(str(tmp_path / "index")).count() == idx_rows_before
    admitted2 = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    idx_ids2 = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "index")).collect()
    }
    assert admitted2 == admitted and idx_ids2 == admitted


def test_continuous_rollup_materializes_incrementally(spark, tmp_path):
    """The materialized continuous aggregate must equal the batch
    rollup after two micro-batches, with only touched (day, type)
    partitions rewritten per refresh (update-mode rows carry full
    aggregates from the state store)."""
    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.streaming import (
        continuous_daily_rollup,
        daily_rollup,
        normalize_event_ts,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    feed = tmp_path / "feed"
    # two files -> two micro-batches (maxFilesPerTrigger=1); overlapping
    # days across the halves exercise the upsert path
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(feed / "h0"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(feed / "h1"))

    schema = spark.read.parquet(str(feed / "h0")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(feed))
    )
    q = continuous_daily_rollup(
        stream, str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = sorted(
        (str(r["window_day"]), r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(tmp_path / "rollup")).collect()
    )
    want = sorted(
        (str(r["window_day"]), r["event_type"], r["n_events"], r["sum_value"])
        for r in daily_rollup(ev).collect()
    )
    assert got == want and len(want) > 0


_FLOOD_TEXT = (
    "identical boilerplate sentence repeated across the entire flood "
    "of near exact duplicate submissions hitting the ingest gate"
)


def _flooded_index_and_probe(spark, n_flood):
    """A static LSH index holding ``n_flood`` copies of one text, and
    one more copy to look up against it."""
    from pipeline_mf_etl_spark.operators.dedupe import minhash_band_buckets_rowwise

    flood = spark.createDataFrame(
        [(i, _FLOOD_TEXT) for i in range(n_flood)], "doc_id int, text string"
    )
    index = minhash_band_buckets_rowwise(flood, "doc_id", "text")
    probe = spark.createDataFrame([(10_000, _FLOOD_TEXT)], "doc_id int, text string")
    return index, probe


def test_lsh_admission_flood_is_bounded_by_bucket_cap(spark, tmp_path):
    """Adversarial near-exact duplicate flood against the streaming
    admission paths: with streaming.lsh_max_bucket the static-index
    lookup's join fan-out is bounded by the cap (not the flood size),
    and the growing-LSH ingest still admits exactly one copy of the
    flood while its peer/index joins consult capped buckets only."""
    import json

    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.streaming import (
        ingest_with_growing_lsh_index,
        neardup_candidates_against_index,
        read_jsonl_corpus_stream,
    )

    n_flood, cap = 200, 4

    # --- static lookup (st7's path): one incoming doc vs a flooded index
    index, probe = _flooded_index_and_probe(spark, n_flood)
    uncapped = neardup_candidates_against_index(probe, index).count()
    capped = neardup_candidates_against_index(probe, index, max_bucket=cap).count()
    bands = 4
    assert uncapped == n_flood * bands  # the blow-up the cap exists for
    assert capped == cap * bands  # bounded by the cap, not the flood
    # determinism: the kept bucket members are the cap smallest ids
    kept = {
        r["matched_doc_id"]
        for r in neardup_candidates_against_index(
            probe, index, max_bucket=cap
        ).collect()
    }
    assert kept == set(range(cap))

    # --- growing-LSH ingest: a flood batch admits exactly one copy
    drop = tmp_path / "drop"
    drop.mkdir()
    with open(drop / "flood.jsonl", "w") as fh:
        for i in range(n_flood):
            fh.write(
                json.dumps(
                    {
                        "doc_id": i,
                        "text": _FLOOD_TEXT,
                        "lang": "en",
                        "source": "s",
                        "n_chars": len(_FLOOD_TEXT),
                    }
                )
                + "\n"
            )
    stream = (
        read_jsonl_corpus_stream(spark, str(drop))
        .filter(F.col("_corrupt_record").isNull())
        .drop("_corrupt_record")
    )
    q = ingest_with_growing_lsh_index(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "admitted"),
        str(tmp_path / "ckpt"),
        max_bucket=cap,
    )
    q.awaitTermination(180)
    admitted = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    assert admitted == {0}  # smallest id survives; the flood is rejected
    idx_ids = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "index")).collect()
    }
    assert idx_ids == {0}  # rejected docs never pollute the grown index


@pytest.mark.parametrize("cap", [0, -1])
def test_lsh_admission_rejects_nonpositive_bucket_cap(spark, cap):
    """A cap below 1 would empty every bucket of the index, so the
    lookup would report no near-dups and admission would let every
    duplicate through without an error; it must raise instead."""
    from pipeline_mf_etl_spark.streaming import neardup_candidates_against_index

    index, probe = _flooded_index_and_probe(spark, 200)
    with pytest.raises(ValueError, match="cap below 1"):
        neardup_candidates_against_index(probe, index, max_bucket=cap)


def test_tws_running_stats_matches_batch_or_gates_loudly(spark):
    """running_user_stats_tws (the transformWithState API) either runs
    and matches the batch groupBy totals, or — in environments without
    the protobuf package Spark's streaming runner needs — raises the
    documented NotImplementedError up front instead of crashing the
    query mid-run."""
    import pytest

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline_mf_etl_spark.streaming import read_events_stream
    from pipeline_mf_etl_spark.streaming.stateful import running_user_stats_tws
    from tests.conftest import SF_SMOKE

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_user_stats_tws(read_events_stream(spark, SF_SMOKE))
        return

    import uuid

    name = f"tws_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_stats_tws(read_events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        (r["user_id"], r["n_events"])
        for r in spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    from pipeline_mf_etl_spark.sources.readers import load_table

    want = {
        (r["user_id"], r["n"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("value").alias("n"))
        .collect()
    }
    assert got == want


class TestGzipDropZone:
    def test_jsonl_gz_stream_with_corrupt_shard(self, spark, tmp_path):
        """The .jsonl.gz drop-zone leg: multi-member shards concatenate,
        bad lines and a corrupt member become reject rows."""
        import json

        from pipeline_mf_etl_spark.sources.warc import gzip_member
        from pipeline_mf_etl_spark.streaming.transforms import (
            read_compressed_jsonl_stream,
        )

        zone = tmp_path / "gzzone"
        zone.mkdir()
        lines = [
            json.dumps({"doc_id": 1, "text": "alpha", "lang": "en",
                        "source": "web", "n_chars": 5}),
            "not json at all {",
        ]
        # two members in one shard: contents concatenate
        (zone / "shard-0.jsonl.gz").write_bytes(
            gzip_member(("\n".join(lines) + "\n").encode())
            + gzip_member(b'{"doc_id": 2, "text": "beta"}\n')
        )
        good = gzip_member(b'{"doc_id": 3, "text": "gamma"}\n')
        (zone / "shard-1.jsonl.gz").write_bytes(good)
        (zone / "shard-2.jsonl.gz").write_bytes(good[:-4])  # truncated
        (zone / "ignored.jsonl").write_text("{}")

        q = (
            read_compressed_jsonl_stream(spark, str(zone), codec="gzip")
            .writeStream.format("memory")
            .queryName("gz_ingest")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from gz_ingest").collect()
        docs = {r["doc_id"]: r for r in rows if r["reject_reason"] is None}
        rejects = [r for r in rows if r["reject_reason"] is not None]
        assert set(docs) == {1, 2, 3}
        assert docs[2]["text"] == "beta"  # second member's line arrived
        reasons = sorted(r["reject_reason"].split(":")[0] for r in rejects)
        assert reasons == ["BAD_FRAME", "BAD_JSON"]


class TestSt13DropzoneIngest:
    def test_st13_matches_oracle(self, spark, duck):
        """The registered four-codec drop-zone ingest: synthesized
        shards -> per-codec checkpointed streams -> foreachBatch sink
        -> read-back equals the doc_id-arithmetic SQL replay, reject
        rows (one corrupt shard, one bad line) included."""
        from tests.conftest import SF_ORACLE, canonical_rows

        from pipeline_mf_etl_spark.queries import all_queries

        spec = all_queries()["st13_dropzone_ingest"]
        sdf = spec.spark(spark, SF_ORACLE)
        srows = [tuple(r) for r in sdf.collect()]
        cur = duck.execute(spec.oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        assert sorted(sdf.columns) == sorted(dcols)
        assert len(srows) == len(drows)
        assert canonical_rows(srows, sdf.columns) == canonical_rows(drows, dcols)
        # the rejects side-channel carries hash signal: exactly one
        # BAD_FRAME (the corrupt zstd shard) and one BAD_JSON row
        reasons = sorted(
            r[sdf.columns.index("reject_reason")]
            for r in srows
            if r[sdf.columns.index("reject_reason")] is not None
        )
        assert reasons == ["BAD_FRAME", "BAD_JSON"]

    def test_ingest_dropzone_six_codecs(self, spark, tmp_path):
        """r13 verdict task 8: the drop zone ingests all six public-dump
        codecs — the original four plus .jsonl.bz2 (Wikipedia-dump
        convention, sources/bzip2.py) and .jsonl.xz (OSCAR convention,
        sources/xz.py) — with one corrupt bz2 shard riding the rejects
        side-channel."""
        import bz2 as stdlib_bz2
        import gzip
        import json
        import lzma

        from pipeline_mf_etl_spark.sources.lz4frame import encode_lz4_frame
        from pipeline_mf_etl_spark.sources.snappyframe import encode_snappy_frame
        from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_frame
        from pipeline_mf_etl_spark.streaming import ingest_dropzone_jsonl

        encoders = {
            "gz": gzip.compress,
            "lz4": encode_lz4_frame,
            "sz": encode_snappy_frame,
            "zst": encode_zstd_frame,
            "bz2": stdlib_bz2.compress,
            "xz": lzma.compress,
        }
        zone = tmp_path / "zone"
        zone.mkdir()
        for i, (ext, enc) in enumerate(sorted(encoders.items())):
            line = json.dumps({"doc_id": i, "text": f"doc via {ext}"})
            (zone / f"docs-{ext}.jsonl.{ext}").write_bytes(
                enc(line.encode("utf-8"))
            )
        (zone / "corrupt.jsonl.bz2").write_bytes(b"BZh9\x00bad")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        codecs = ("gzip", "lz4", "snappy", "zstd", "bzip2", "xz")
        for q in ingest_dropzone_jsonl(spark, str(zone), out, ckpt, codecs):
            q.awaitTermination(300)
        rows = spark.read.parquet(out).collect()
        good = sorted(r["text"] for r in rows if r["reject_reason"] is None)
        assert good == sorted(f"doc via {e}" for e in encoders)
        rejects = [r for r in rows if r["reject_reason"] is not None]
        assert len(rejects) == 1
        assert rejects[0]["reject_reason"].startswith("BAD_FRAME")
        assert "corrupt.jsonl.bz2" in rejects[0]["shard"]

    def test_ingest_dropzone_replay_is_idempotent(self, spark, tmp_path):
        """A committed batch subdir is skipped on re-run from a fresh
        checkpoint only when _SUCCESS is present; the sink never
        duplicates rows for a replayed batch."""
        import gzip
        import json

        from pipeline_mf_etl_spark.streaming import ingest_dropzone_jsonl

        zone = tmp_path / "zone"
        zone.mkdir()
        (zone / "a.jsonl.gz").write_bytes(
            gzip.compress(json.dumps({"doc_id": 7, "text": "x"}).encode())
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck1")
        for q in ingest_dropzone_jsonl(spark, str(zone), out, ckpt, ("gzip",)):
            q.awaitTermination(120)
        first = spark.read.parquet(out).collect()
        # replay with a FRESH checkpoint: batch_id=0 redelivers the same
        # shard; the committed subdir short-circuits the rewrite
        for q in ingest_dropzone_jsonl(
            spark, str(zone), out, str(tmp_path / "ck2"), ("gzip",)
        ):
            q.awaitTermination(120)
        second = spark.read.parquet(out).collect()
        assert len(first) == len(second) == 1
        assert second[0]["doc_id"] == 7


class TestTFRecordDropZone:
    def test_tfrecord_stream_salvage_and_rejects(self, spark, tmp_path):
        """The .tfrecord drop-zone leg (round 14): records decode in
        order; a mid-shard CRC flip salvages every earlier record and
        files one BAD_FRAME; a record whose tf.Example violates the
        documents contract becomes a BAD_EXAMPLE reject row."""
        from pipeline_mf_etl_spark.sources.tfrecord import (
            encode_example,
            write_tfrecord,
        )
        from pipeline_mf_etl_spark.streaming.transforms import (
            read_tfrecord_stream,
        )

        def doc(i, text):
            return encode_example(
                {
                    "doc_id": ("int64", [i]),
                    "text": ("bytes", [text.encode()]),
                    "lang": ("bytes", [b"en"]),
                    "source": ("bytes", [b"web"]),
                    "n_chars": ("int64", [len(text)]),
                }
            )

        zone = tmp_path / "tfzone"
        zone.mkdir()
        # shard 0: two good records, then a corrupted third — the walk
        # must salvage 1 and 2 and file one BAD_FRAME
        blob = write_tfrecord([doc(1, "alpha"), doc(2, "beta"), doc(3, "gamma")])
        bad = bytearray(blob)
        bad[-3] ^= 0xFF  # inside the last record's payload/CRC tail
        (zone / "shard-0.tfrecord").write_bytes(bytes(bad))
        # shard 1: a good record + a contract violation (text as int64)
        violating = encode_example(
            {"doc_id": ("int64", [4]), "text": ("int64", [99])}
        )
        (zone / "shard-1.tfrecord").write_bytes(
            write_tfrecord([doc(5, "delta"), violating])
        )
        (zone / "ignored.jsonl").write_text("{}")

        q = (
            read_tfrecord_stream(spark, str(zone))
            .writeStream.format("memory")
            .queryName("tf_ingest")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from tf_ingest").collect()
        docs = {r["doc_id"]: r for r in rows if r["reject_reason"] is None}
        rejects = sorted(
            r["reject_reason"].split(":")[0]
            for r in rows
            if r["reject_reason"] is not None
        )
        assert set(docs) == {1, 2, 5}
        assert docs[2]["text"] == "beta" and docs[2]["n_chars"] == 4
        assert rejects == ["BAD_EXAMPLE", "BAD_FRAME"]


class TestArrowDropZone:
    def test_arrow_stream_rejects_and_rows(self, spark, tmp_path):
        """The .arrow drop-zone leg (round 14): good shards decode row
        by row; a corrupt footer files one BAD_FRAME; a type-violating
        cell becomes a BAD_ROW reject with the cell nulled."""
        from pipeline_mf_etl_spark.sources.arrowipc import (
            ArrowField,
            encode_arrow_file,
        )
        from pipeline_mf_etl_spark.streaming.transforms import (
            read_arrow_stream_dropzone,
        )

        fields = [
            ArrowField("doc_id", True, "int", bits=64),
            ArrowField("text", True, "utf8", bits=32),
            ArrowField("lang", True, "utf8", bits=32),
            ArrowField("source", True, "utf8", bits=32),
            ArrowField("n_chars", True, "int", bits=64),
        ]
        zone = tmp_path / "arrowzone"
        zone.mkdir()
        good = encode_arrow_file(
            fields,
            [[1, 2], ["alpha", "beta"], ["en", "en"], ["web", "web"], [5, 4]],
        )
        (zone / "shard-0.arrow").write_bytes(good)
        bad = bytearray(good)
        bad[-1] ^= 0xFF  # trailer magic
        (zone / "shard-1.arrow").write_bytes(bytes(bad))
        # a shard whose n_chars arrives as utf8 -> BAD_ROW per row
        odd = encode_arrow_file(
            [*fields[:4], ArrowField("n_chars", True, "utf8", bits=32)],
            [[3], ["gamma"], ["en"], ["web"], ["five"]],
        )
        (zone / "shard-2.arrow").write_bytes(odd)

        q = (
            read_arrow_stream_dropzone(spark, str(zone))
            .writeStream.format("memory")
            .queryName("arrow_ingest")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from arrow_ingest").collect()
        docs = {r["doc_id"]: r for r in rows if r["reject_reason"] is None}
        rejects = sorted(
            r["reject_reason"].split(":")[0]
            for r in rows
            if r["reject_reason"] is not None
        )
        assert set(docs) == {1, 2}
        assert docs[2]["text"] == "beta" and docs[2]["n_chars"] == 4
        assert rejects == ["BAD_FRAME", "BAD_ROW"]
        bad_row = [r for r in rows if r["reject_reason"] and "BAD_ROW" in r["reject_reason"]][0]
        assert bad_row["doc_id"] == 3 and bad_row["n_chars"] is None
