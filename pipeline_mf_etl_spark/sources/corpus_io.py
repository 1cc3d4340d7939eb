"""JSONL corpus source/sink — the LLM-training-data interchange format.

Large public corpora (C4, Dolma, RedPajama, FineWeb) ship as
newline-delimited JSON, usually gzip-compressed, one document object per
line. This module is the engine's boundary for that format:

- **Writes** are Spark-native ``df.write.json`` — one file per
  partition, splittable re-read when uncompressed, atomic via the
  standard ``_temporary`` commit protocol.
- **Reads take an EXPLICIT schema.** Schema inference on JSON is a full
  extra pass over the data — at 100 TB that is a second 100 TB scan
  before the first real one, so ``read_jsonl_corpus`` defaults to the
  documents-table contract and never infers unless the caller passes
  ``schema=None`` explicitly at their own (small-data) risk.
- **Malformed lines go to a rejects side-channel**, mirroring the S2
  delimited-text pattern (``ingest.read_txt_with_rejects``): PERMISSIVE
  mode + ``columnNameOfCorruptRecord`` keeps the raw bytes of every bad
  line instead of silently dropping (FAILFAST would kill a 100 TB job on
  one bad shard; DROPMALFORMED would hide curation-accounting rows).

Reference parity: the reference ingests delimited text only
(ingest/read_txt.py); JSONL is an engine ADDITION for the corpus
pipeline surface (documents table in/out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.pin import pin

#: The documents-table contract (TESTDATA.md): explicit so a 100 TB read
#: never pays an inference pass and type drift fails loudly at analysis
#: time instead of producing nullable-string soup.
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

_CORRUPT = "_corrupt_record"


def write_jsonl_corpus(
    df: DataFrame, path: str, compression: str | None = "gzip"
) -> None:
    """Write a corpus as JSONL (one JSON object per line, one file per
    partition). ``compression=None`` keeps the output splittable — the
    right choice when the same cluster re-reads it; gzip (default)
    matches how public corpora are distributed."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType | None = DOCUMENTS_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL corpus with an explicit schema and a rejects
    side-channel. Returns ``(valid, rejects)``; rejects carry the raw
    line bytes and a reason, exactly like the S2 delimited reader, so
    curation accounting can attribute every dropped document.

    A line parses as a reject when it is not valid JSON **or** when a
    typed field conflicts with the schema (Spark nulls the row and files
    the raw text under ``_corrupt_record``). Lines that are valid JSON
    but MISS fields are valid rows with nulls — JSONL corpora are
    schema-sparse by convention and missing keys are data, not errors.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", _CORRUPT
    )
    if schema is not None:
        # the corrupt-record column must be part of the declared schema
        read_schema = StructType(
            list(schema.fields) + [StructField(_CORRUPT, StringType(), True)]
        )
        df = reader.schema(read_schema).json(path)
    else:  # small-data convenience: pay the inference pass knowingly
        df = reader.json(path)
        if _CORRUPT not in df.columns:  # corpus had no bad lines at all
            df = df.withColumn(_CORRUPT, F.lit(None).cast("string"))
    # Spark requires caching/materialization barriers around referencing
    # only the corrupt column (SPARK-21610: a plan selecting JUST
    # _corrupt_record is disallowed) — keeping both legs off one pinned
    # frame also means the input is parsed once, not twice.
    df = pin("jsonl_parse", df)
    rejects = df.filter(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line"),
        F.lit("BAD_JSON").alias("reason"),
    )
    valid = df.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    return valid, rejects


# ---------------------------------------------------------------------------
# seekable-zstd shard layout (r12 verdict task 6): the .jsonl.zst
# sibling of compact_parquet_dir. One seekable archive per shard plus a
# doc-level byte-range index — the layout that lets a 100 TB corpus
# serve POINT lookups with three range GETs per doc (17-byte footer
# probe, seek table, covering frames) instead of a full-shard
# decompress. c8_seekable_extract certifies the frame math per-doc;
# this is the same primitive at shard grain.
# ---------------------------------------------------------------------------

ZST_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
    ]
)


def write_jsonl_zst_corpus(
    df: DataFrame,
    path: str,
    n_shards: int = 4,
    frame_content_size: int = 65536,
) -> DataFrame:
    """Write a documents corpus as ``shard-<N>.jsonl.zst`` seekable-zstd
    archives plus a ``_index`` parquet of (doc_id, shard, offset,
    length) byte ranges. Docs are hash-assigned to shards and sorted by
    doc_id within each, so the layout is deterministic up to shard
    numbering; encoding runs shard-parallel in one Spark job (the index
    write is the action that drives it). Returns the index DataFrame
    read back from ``<path>/_index``."""
    import json
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_seekable

    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    spark = df.sparkSession
    fcs = frame_content_size

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"shard-{pid:05d}.jsonl.zst"
        blobs: list[bytes] = []
        idx: list[tuple] = []
        off = 0
        for r in rows:
            line = (
                json.dumps(
                    {c: _py(r.get(c)) for c in cols}, ensure_ascii=False
                ).encode("utf-8")
                + b"\n"
            )
            idx.append((_py(r.get("doc_id")), shard, off, len(line)))
            off += len(line)
            blobs.append(line)
        payload = encode_zstd_seekable(
            b"".join(blobs), frame_content_size=fcs
        )
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        yield pd.DataFrame(
            idx, columns=[f.name for f in ZST_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .repartition(n_shards, F.pmod(F.coalesce("doc_id", F.lit(0)), F.lit(n_shards)))
        .sortWithinPartitions("doc_id")
        .mapInPandas(write_shard, ZST_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


#: export_ordered_jsonl_zst's index rows: the byte-range index plus the
#: training-order position the line was written at
ZST_ORDERED_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
        StructField("pos", LongType(), False),
    ]
)


def export_ordered_jsonl_zst(
    df: DataFrame,
    order: DataFrame,
    path: str,
    n_shards: int,
    frame_content_size: int = 65536,
) -> DataFrame:
    """Ship a training-order assignment as the layout a 100-TB corpus
    actually trains from (r13 verdict task 7): ``order`` carries
    (shard, doc_id, pos) — exactly o15_shard_shuffle's output — and
    each assignment shard becomes one ``shard-<s>.jsonl.zst`` seekable
    archive with lines in ``pos`` order, plus a ``_index`` parquet of
    (doc_id, shard, offset, length, pos) byte ranges for point lookups
    (read_jsonl_zst_doc / read_jsonl_zst_docs).

    Unlike write_jsonl_zst_corpus (whose shard files are named by
    PARTITION id, deterministic only up to shard numbering), the file
    here is named by the assignment's shard VALUE: rows are hashed to
    tasks by that value, so a task may own several whole shards (or
    none) but a shard is never split — each archive is written whole,
    in order, by one task. One shuffle (the repartition); encoding runs
    shard-parallel; the index write is the driving action."""
    import json
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_seekable

    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    spark = df.sparkSession
    fcs = frame_content_size

    def write_shards(batches):
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        by_shard: dict[int, list[dict]] = {}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append(r)
        out: list[tuple] = []
        for s, rs in sorted(by_shard.items()):
            # sortWithinPartitions already ordered (shard, pos); the
            # in-memory sort is a cheap idempotence guard
            rs.sort(key=lambda r: int(r["pos"]))
            shard_name = f"shard-{s:05d}.jsonl.zst"
            blobs: list[bytes] = []
            off = 0
            for r in rs:
                line = (
                    json.dumps(
                        {c: _py(r.get(c)) for c in cols}, ensure_ascii=False
                    ).encode("utf-8")
                    + b"\n"
                )
                out.append(
                    (_py(r["doc_id"]), shard_name, off, len(line), int(r["pos"]))
                )
                off += len(line)
                blobs.append(line)
            payload = encode_zstd_seekable(
                b"".join(blobs), frame_content_size=fcs
            )
            tmp = os.path.join(path, f".{shard_name}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(path, shard_name))  # atomic publish
        yield pd.DataFrame(
            out, columns=[f.name for f in ZST_ORDERED_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .join(order.select("shard", "doc_id", "pos"), "doc_id")
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .mapInPandas(write_shards, ZST_ORDERED_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


#: write_jsonl_bz2_dump's index rows: one per document — the stream's
#: byte range within its shard plus the document's line number inside
#: the decoded stream (the Wikipedia dump-index shape: offset published
#: per stream, records addressed within it)
BZ2_DUMP_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
        StructField("line_no", LongType(), False),
    ]
)


def write_jsonl_bz2_dump(
    df: DataFrame,
    path: str,
    n_shards: int = 4,
    docs_per_stream: int = 16,
    level: int = 1,
) -> DataFrame:
    """Write a documents corpus in the Wikipedia-multistream layout
    (r13 verdict task 9): each shard is a concatenation of independent
    bzip2 STREAMS of ``docs_per_stream`` JSONL lines, byte-aligned so a
    reader can hand any single stream to any task — exactly what the
    published dump index enables. Returns the per-document index
    (doc_id, shard, offset, length, line_no) read back from
    ``<path>/_index``; ``decode_bzip2_at`` on the byte range at
    ``offset`` is the record-grain access primitive."""
    import json
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.bzip2 import encode_bzip2

    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    spark = df.sparkSession

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"dump-{pid:05d}.jsonl.bz2"
        payload = bytearray()
        idx: list[tuple] = []
        for i in range(0, len(rows), docs_per_stream):
            chunk = rows[i : i + docs_per_stream]
            lines = [
                json.dumps(
                    {c: _py(r.get(c)) for c in cols}, ensure_ascii=False
                ).encode("utf-8")
                + b"\n"
                for r in chunk
            ]
            enc = encode_bzip2(b"".join(lines), level=level)
            off = len(payload)
            for line_no, r in enumerate(chunk):
                idx.append(
                    (_py(r.get("doc_id")), shard, off, len(enc), line_no)
                )
            payload += enc
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(bytes(payload))
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        yield pd.DataFrame(
            idx, columns=[f.name for f in BZ2_DUMP_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .repartition(
            n_shards, F.pmod(F.coalesce("doc_id", F.lit(0)), F.lit(n_shards))
        )
        .sortWithinPartitions("doc_id")
        .mapInPandas(write_shard, BZ2_DUMP_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


def read_jsonl_bz2_docs(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed dump-index point-lookup: each index row resolves by
    range-reading ONLY its stream's bytes (seek + bounded read — the
    object-store range-GET pattern), decoding that one stream through
    the CRC-verified walk (sources/bzip2.decode_bzip2_at), and picking
    the document's line. Streams co-requested in a batch decode once
    (pandas groupby on the byte range). Returns DOCUMENTS_SCHEMA rows."""
    import json
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.bzip2 import decode_bzip2_at

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for (shard, off, ln), grp in pdf.groupby(
                ["shard", "offset", "length"], sort=False
            ):
                with open(os.path.join(corpus_dir, shard), "rb") as fh:
                    fh.seek(int(off))
                    data = fh.read(int(ln))
                res = decode_bzip2_at(data, 0)
                lines = res["content"].decode("utf-8").splitlines()
                for line_no in grp["line_no"]:
                    doc = json.loads(lines[int(line_no)])
                    rows.append(
                        tuple(doc.get(f.name) for f in DOCUMENTS_SCHEMA.fields)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in DOCUMENTS_SCHEMA.fields]
            )

    return index.select("shard", "offset", "length", "line_no").mapInPandas(
        fetch, DOCUMENTS_SCHEMA
    )


def _py(v):
    """numpy/pandas scalar -> plain Python (None for NaN/NA) so the
    JSONL bytes are engine-independent."""
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v) or v is pd.NA:
        return None
    if hasattr(v, "item"):
        return v.item()
    return v


def read_jsonl_zst_doc(shard_path: str, offset: int, length: int) -> dict:
    """Point lookup of ONE document from a seekable shard: reads the
    17-byte footer probe, the seek table, then ONLY the frames covering
    [offset, offset+length) — never the whole archive. This is the
    access pattern an object store serves with range GETs; per-frame
    xxh64 checksums are verified on every frame touched, so corruption
    OUTSIDE the covering frames cannot affect (or fail) the lookup."""
    import json
    import os

    from pipeline_mf_etl_spark.sources.zstdframe import (
        decode_zstd_frame,
        parse_zstd_seek_footer,
        xxh64,
        zstd_seek_footer_length,
    )

    with open(shard_path, "rb") as fh:
        size = fh.seek(0, os.SEEK_END)
        if size < 17:
            raise ValueError(f"{shard_path}: too short for a seekable archive")
        fh.seek(size - 17)
        need = zstd_seek_footer_length(fh.read(17))
        fh.seek(size - need)
        table = parse_zstd_seek_footer(fh.read(need), size)
        end = offset + length
        out = bytearray()
        for ent in table:
            f_end = ent["d_off"] + ent["d_size"]
            if f_end <= offset or ent["d_off"] >= end:
                continue  # untouched frame: not even read from disk
            fh.seek(ent["c_off"])
            data = decode_zstd_frame(fh.read(ent["c_size"]))["content"]
            if len(data) != ent["d_size"]:
                raise ValueError(
                    f"{shard_path}: frame size disagrees with the seek table"
                )
            if ent["checksum"] is not None and (
                xxh64(data) & 0xFFFFFFFF
            ) != ent["checksum"]:
                raise ValueError(f"{shard_path}: covering-frame checksum mismatch")
            out += data[
                max(offset - ent["d_off"], 0) : min(end - ent["d_off"], ent["d_size"])
            ]
    if len(out) != length:
        raise ValueError(
            f"{shard_path}: byte range [{offset}, {end}) outside the archive"
        )
    return json.loads(out.decode("utf-8"))


def read_jsonl_zst_docs(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed point-lookup: each index row (doc_id, shard, offset,
    length) resolves by decoding ONLY its covering frames, in one Arrow
    map pass — the retrieval half of the shard layout (e.g. serving an
    ANN hit list). Returns DOCUMENTS_SCHEMA rows.

    Bulk-fetch economics (r14): a naive per-row read_jsonl_zst_doc
    re-opens the shard, re-reads the seek table, and RE-DECODES the
    covering frame for every doc it contains — ~frame_size/doc_size
    redundant decode work (measured 26.8s for a full 5,000-doc fetch at
    sf0.1). Here each shard's footer is parsed once per batch group and
    lookups proceed in ascending offset order with a sliding frame
    cache, so every frame is read and checksum-verified AT MOST ONCE
    per task (2.0s for the same fetch). Single-doc semantics, integrity
    checks, and covering-frames-only IO are identical to
    read_jsonl_zst_doc, which remains the one-off primitive."""
    import bisect
    import json
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.zstdframe import (
        decode_zstd_frame,
        parse_zstd_seek_footer,
        xxh64,
        zstd_seek_footer_length,
    )

    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                path = os.path.join(corpus_dir, shard)
                with open(path, "rb") as fh:
                    size = fh.seek(0, os.SEEK_END)
                    if size < 17:
                        raise ValueError(
                            f"{path}: too short for a seekable archive"
                        )
                    fh.seek(size - 17)
                    need = zstd_seek_footer_length(fh.read(17))
                    fh.seek(size - need)
                    table = parse_zstd_seek_footer(fh.read(need), size)
                    d_offs = [e["d_off"] for e in table]
                    cache: dict[int, bytes] = {}
                    order = grp.sort_values("offset")
                    for off, ln in zip(order["offset"], order["length"]):
                        off, ln = int(off), int(ln)
                        end = off + ln
                        # offsets ascend: frames ending before this doc
                        # can never be needed again
                        for fi in [
                            k
                            for k in cache
                            if table[k]["d_off"] + table[k]["d_size"] <= off
                        ]:
                            del cache[fi]
                        out = bytearray()
                        fi = max(bisect.bisect_right(d_offs, off) - 1, 0)
                        while fi < len(table) and table[fi]["d_off"] < end:
                            ent = table[fi]
                            if ent["d_off"] + ent["d_size"] <= off:
                                fi += 1
                                continue
                            if fi not in cache:
                                fh.seek(ent["c_off"])
                                data = decode_zstd_frame(
                                    fh.read(ent["c_size"])
                                )["content"]
                                if len(data) != ent["d_size"]:
                                    raise ValueError(
                                        f"{path}: frame size disagrees "
                                        f"with the seek table"
                                    )
                                if ent["checksum"] is not None and (
                                    xxh64(data) & 0xFFFFFFFF
                                ) != ent["checksum"]:
                                    raise ValueError(
                                        f"{path}: covering-frame "
                                        f"checksum mismatch"
                                    )
                                cache[fi] = data
                            data = cache[fi]
                            out += data[
                                max(off - ent["d_off"], 0) : min(
                                    end - ent["d_off"], ent["d_size"]
                                )
                            ]
                            fi += 1
                        if len(out) != ln:
                            raise ValueError(
                                f"{path}: byte range [{off}, {end}) "
                                f"outside the archive"
                            )
                        doc = json.loads(out.decode("utf-8"))
                        rows.append(tuple(doc.get(c) for c in cols))
            yield pd.DataFrame(rows, columns=cols)

    return index.select("shard", "offset", "length").mapInPandas(
        fetch, DOCUMENTS_SCHEMA
    )


# ---------------------------------------------------------------------------
# TFRecord shard layout (round 14): the training-data container the TF
# ecosystem consumes directly. Same layout family as the seekable-zstd
# (c10) and bzip2-dump (c12) exports: one shard file per task + a
# doc-level byte-range index, because TFRecord framing is byte-aligned
# and length-prefixed — every record IS a range-readable unit with its
# own masked-CRC32C integrity, so a 100 TB corpus serves point lookups
# with one range GET per doc and full scans shard-parallel.
# ---------------------------------------------------------------------------

TFRECORD_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
    ]
)


def _tfrecord_field_plan(schema: StructType) -> list[tuple[str, str, bool]]:
    """Map a Spark schema onto tf.Example lists: ``(name, kind,
    is_array)`` per column. Integral columns ride Int64List, strings
    UTF-8 BytesList, binary raw BytesList, float32 FloatList (EXACT —
    tf.Example floats are float32; DoubleType is rejected rather than
    silently narrowed), and arrays of those ride the same list with
    their length preserved. SQL NULL is an ABSENT feature; an empty
    array is a PRESENT feature with an empty list — the round trip
    keeps the two distinct."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        FloatType,
        IntegerType,
        ShortType,
    )

    plan: list[tuple[str, str, bool]] = []
    for f in schema.fields:
        dt, is_array = f.dataType, False
        if isinstance(dt, ArrayType):
            dt, is_array = dt.elementType, True
        if isinstance(dt, (LongType, IntegerType, ShortType)):
            kind = "int64"
        elif isinstance(dt, (StringType, BinaryType)):
            kind = "bytes"
        elif isinstance(dt, FloatType):
            kind = "float"
        elif isinstance(dt, DoubleType):
            raise ValueError(
                f"tfrecord: column {f.name!r} is double — tf.Example "
                f"floats are float32; cast to float explicitly to "
                f"accept the narrowing"
            )
        else:
            raise ValueError(
                f"tfrecord: column {f.name!r} type {f.dataType} has no "
                f"tf.Example mapping"
            )
        plan.append((f.name, kind, is_array))
    return plan


def _row_to_example(
    row: dict, plan: list[tuple[str, str, bool]]
) -> bytes:
    from pipeline_mf_etl_spark.sources.tfrecord import encode_example

    feats: dict[str, tuple[str, list]] = {}
    for name, kind, is_array in plan:
        v = row.get(name)
        if is_array:
            # numpy array from Arrow: None check must not vectorize
            if v is None or (not hasattr(v, "__len__") and _py(v) is None):
                continue
            vals = [_py(x) for x in v]
        else:
            v = _py(v)
            if v is None:
                continue
            vals = [v]
        if kind == "bytes":
            vals = [
                x if isinstance(x, bytes) else str(x).encode("utf-8")
                for x in vals
            ]
        elif kind == "int64":
            vals = [int(x) for x in vals]
        feats[name] = (kind, vals)
    return encode_example(feats)


def _example_to_row(
    payload: bytes,
    plan: list[tuple[str, str, bool]],
    utf8: dict[str, bool],
) -> tuple:
    """Serialized tf.Example -> row tuple (None = absent feature)."""
    from pipeline_mf_etl_spark.sources.tfrecord import decode_example

    feats = decode_example(payload)
    out = []
    for name, kind, is_array in plan:
        got = feats.get(name)
        if got is None:
            out.append(None)
            continue
        gkind, values = got
        if gkind != kind or (not is_array and len(values) != 1):
            raise ValueError(
                f"tfrecord: feature {name!r} is {gkind}[{len(values)}], "
                f"expected {kind}" + ("" if is_array else "[1]")
            )
        if kind == "bytes" and utf8[name]:
            values = [v.decode("utf-8") for v in values]
        out.append(values if is_array else values[0])
    return tuple(out)


def write_tfrecord_corpus(
    df: DataFrame,
    path: str,
    n_shards: int = 4,
    compression: str | None = None,
    schema: StructType | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Write a documents corpus as ``shard-<N>.tfrecord`` files (one
    tf.Example record per doc) plus a ``_index`` parquet of (doc_id,
    shard, offset, length) byte ranges; shard-parallel in one Spark job,
    atomic per-shard publish. ``compression="gzip"`` writes
    ``.tfrecord.gz`` whole-file gzip members (how TF ships compressed
    TFRecords); index offsets always address the UNCOMPRESSED record
    stream, so lookups on gzip shards decode the member first while
    uncompressed shards serve pure range reads. Returns the index read
    back from ``<path>/_index``.

    ``schema`` defaults to the documents contract; any schema of
    integral / string / binary / float32 / array-of-those columns maps
    per ``_tfrecord_field_plan`` (e.g. the embeddings table's
    ``array<float>`` rides FloatList exactly). ``id_col`` names the
    column the index's ``doc_id`` carries."""
    import gzip
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.tfrecord import (
        frame_record,
        framed_length,
    )

    if compression not in (None, "gzip"):
        raise ValueError(f"tfrecord: unsupported compression {compression!r}")
    os.makedirs(path, exist_ok=True)
    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    cols = [f.name for f in schema.fields]
    if id_col not in cols:
        raise ValueError(f"tfrecord: id column {id_col!r} not in schema")
    spark = df.sparkSession
    ext = ".tfrecord.gz" if compression else ".tfrecord"

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"shard-{pid:05d}{ext}"
        blobs: list[bytes] = []
        idx: list[tuple] = []
        off = 0
        for r in rows:
            rec = frame_record(_row_to_example(r, plan))
            assert len(rec) == framed_length(len(rec) - 16)
            idx.append((_py(r.get(id_col)), shard, off, len(rec)))
            off += len(rec)
            blobs.append(rec)
        payload = b"".join(blobs)
        if compression:
            payload = gzip.compress(payload, compresslevel=6, mtime=0)
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        yield pd.DataFrame(
            idx, columns=[f.name for f in TFRECORD_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .repartition(
            n_shards, F.pmod(F.coalesce(id_col, F.lit(0)), F.lit(n_shards))
        )
        .sortWithinPartitions(id_col)
        .mapInPandas(write_shard, TFRECORD_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


def read_tfrecord_docs(
    index: DataFrame,
    corpus_dir: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Distributed point-lookup over a TFRecord shard corpus: each index
    row range-reads ONLY its record's bytes (seek + bounded read — the
    object-store range-GET pattern), verifies both masked CRCs, and
    decodes the one tf.Example. Gzip shards decompress once per task
    and slice the cached stream (offsets address uncompressed bytes).
    ``schema`` must match the one the corpus was written with
    (documents contract by default)."""
    import gzip
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.tfrecord import read_tfrecord_at

    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    utf8 = _utf8_columns(schema)

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                p = os.path.join(corpus_dir, str(shard))
                if str(shard).endswith(".gz"):
                    with open(p, "rb") as fh:
                        stream = gzip.decompress(fh.read())
                    for off, ln in zip(grp["offset"], grp["length"]):
                        rows.append(
                            _example_to_row(
                                read_tfrecord_at(
                                    stream[int(off) : int(off) + int(ln)]
                                ),
                                plan,
                                utf8,
                            )
                        )
                else:
                    order = grp.sort_values("offset")  # sequential seeks
                    with open(p, "rb") as fh:
                        for off, ln in zip(order["offset"], order["length"]):
                            fh.seek(int(off))
                            rows.append(
                                _example_to_row(
                                    read_tfrecord_at(fh.read(int(ln))),
                                    plan,
                                    utf8,
                                )
                            )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return index.select("shard", "offset", "length").mapInPandas(
        fetch, schema
    )


def _utf8_columns(schema: StructType) -> dict[str, bool]:
    """Which columns decode BytesList values back to str (StringType /
    array<string>) vs keep raw bytes (BinaryType / array<binary>)."""
    from pyspark.sql.types import ArrayType

    out = {}
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, ArrayType):
            dt = dt.elementType
        out[f.name] = isinstance(dt, StringType)
    return out


def read_tfrecord_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Full-scan read of a TFRecord shard corpus: shard-grain parallel
    (each task walks whole record streams with every CRC verified), the
    grain a 1000-executor cluster distributes on. Handles ``.tfrecord``
    and ``.tfrecord.gz`` shards together."""
    import gzip
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.tfrecord import iter_tfrecord

    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    utf8 = _utf8_columns(schema)
    shards = sorted(
        n
        for n in os.listdir(path)
        if n.endswith(".tfrecord") or n.endswith(".tfrecord.gz")
    )
    if not shards:
        raise ValueError(f"{path}: no .tfrecord shards found")

    def scan(batches):
        for pdf in batches:
            for name in pdf["shard"]:
                with open(os.path.join(path, str(name)), "rb") as fh:
                    data = fh.read()
                if str(name).endswith(".gz"):
                    data = gzip.decompress(data)
                rows = [
                    _example_to_row(payload, plan, utf8)
                    for _, _, payload in iter_tfrecord(data)
                ]
                yield pd.DataFrame(
                    rows, columns=[f.name for f in schema.fields]
                )

    files = spark.createDataFrame(
        [(s,) for s in shards], StructType([StructField("shard", StringType(), False)])
    ).repartition(len(shards), "shard")
    return files.mapInPandas(scan, schema)


#: export_ordered_tfrecord's index rows: the record byte-range index
#: plus the training-order position the record was written at
TFRECORD_ORDERED_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
        StructField("pos", LongType(), False),
    ]
)


def export_ordered_tfrecord(
    df: DataFrame,
    order: DataFrame,
    path: str,
    n_shards: int,
    schema: StructType | None = None,
) -> DataFrame:
    """Ship a training-order assignment as TFRecord shards — the layout
    a TF input pipeline trains from directly: ``order`` carries (shard,
    doc_id, pos) — exactly o15_shard_shuffle's output — and each
    assignment shard becomes one ``shard-<s>.tfrecord`` file with
    tf.Example records in ``pos`` order, plus a ``_index`` parquet of
    (doc_id, shard, offset, length, pos) for point lookups
    (read_tfrecord_docs). The TF-loader twin of
    export_ordered_jsonl_zst: shard files are named by the assignment's
    shard VALUE (a shard is never split across tasks), one shuffle (the
    repartition), record encoding shard-parallel, the index write is
    the driving action."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.tfrecord import frame_record

    os.makedirs(path, exist_ok=True)
    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    cols = [f.name for f in schema.fields]
    spark = df.sparkSession

    def write_shards(batches):
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        by_shard: dict[int, list[dict]] = {}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append(r)
        out: list[tuple] = []
        for s, rs in sorted(by_shard.items()):
            # sortWithinPartitions already ordered (shard, pos); the
            # in-memory sort is a cheap idempotence guard
            rs.sort(key=lambda r: int(r["pos"]))
            shard_name = f"shard-{s:05d}.tfrecord"
            blobs: list[bytes] = []
            off = 0
            for r in rs:
                rec = frame_record(_row_to_example(r, plan))
                out.append(
                    (_py(r["doc_id"]), shard_name, off, len(rec), int(r["pos"]))
                )
                off += len(rec)
                blobs.append(rec)
            tmp = os.path.join(path, f".{shard_name}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(b"".join(blobs))
            os.replace(tmp, os.path.join(path, shard_name))  # atomic publish
        yield pd.DataFrame(
            out, columns=[f.name for f in TFRECORD_ORDERED_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .join(order.select("shard", "doc_id", "pos"), "doc_id")
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .mapInPandas(write_shards, TFRECORD_ORDERED_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


# ---------------------------------------------------------------------------
# Arrow IPC shard layout (round 14): the HuggingFace-datasets
# interchange — each shard a Feather-V2 ``.arrow`` FILE whose footer
# makes record batches RANDOM-ACCESS, plus a doc-level (shard, batch,
# row) index. Point lookups are two range GETs (10-byte tail probe +
# footer, then the one covering block); full scans are shard-grain
# parallel. Codec: sources/arrowipc.py (dependency-free, pyarrow-
# cross-validated both directions).
# ---------------------------------------------------------------------------

ARROW_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("batch", LongType(), False),
        StructField("row", LongType(), False),
    ]
)


def _arrow_fields(schema: StructType) -> list:
    """Spark schema -> ArrowField list for the supported subset
    (integral -> int64/int32, string -> utf8, binary -> binary,
    float -> float32, double -> float64, arrays of those -> list)."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
    )

    from pipeline_mf_etl_spark.sources.arrowipc import ArrowField

    def leaf(name, dt):
        if isinstance(dt, LongType):
            return ArrowField(name, True, "int", bits=64)
        if isinstance(dt, IntegerType):
            return ArrowField(name, True, "int", bits=32)
        if isinstance(dt, StringType):
            return ArrowField(name, True, "utf8", bits=32)
        if isinstance(dt, BinaryType):
            return ArrowField(name, True, "binary", bits=32)
        if isinstance(dt, FloatType):
            return ArrowField(name, True, "float", bits=32)
        if isinstance(dt, DoubleType):
            return ArrowField(name, True, "float", bits=64)
        if isinstance(dt, BooleanType):
            return ArrowField(name, True, "bool")
        raise ValueError(f"arrow: column {name!r} type {dt} has no mapping")

    out = []
    for f in schema.fields:
        if isinstance(f.dataType, ArrayType):
            out.append(
                ArrowField(
                    f.name, True, "list",
                    child=leaf("item", f.dataType.elementType),
                )
            )
        else:
            out.append(leaf(f.name, f.dataType))
    return out


def _rows_to_arrow_columns(rows: list[dict], schema: StructType) -> list[list]:
    from pyspark.sql.types import ArrayType

    cols = []
    for f in schema.fields:
        vals = []
        for r in rows:
            v = r.get(f.name)
            if isinstance(f.dataType, ArrayType):
                if v is None or (not hasattr(v, "__len__") and _py(v) is None):
                    vals.append(None)
                else:
                    vals.append([_py(x) for x in v])
            else:
                vals.append(_py(v))
        cols.append(vals)
    return cols


def write_arrow_corpus(
    df: DataFrame,
    path: str,
    n_shards: int = 4,
    batch_rows: int = 64,
    schema: StructType | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Write a corpus as ``shard-<N>.arrow`` Feather-V2 files plus a
    ``_index`` parquet of (doc_id, shard, batch, row) coordinates —
    shard-parallel in one Spark job, atomic per-shard publish.
    ``batch_rows`` bounds record-batch size (the random-access grain).
    Returns the index read back from ``<path>/_index``."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.arrowipc import encode_arrow_file

    os.makedirs(path, exist_ok=True)
    schema = schema or DOCUMENTS_SCHEMA
    fields = _arrow_fields(schema)
    cols = [f.name for f in schema.fields]
    if id_col not in cols:
        raise ValueError(f"arrow: id column {id_col!r} not in schema")
    spark = df.sparkSession

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"shard-{pid:05d}.arrow"
        payload = encode_arrow_file(
            fields, _rows_to_arrow_columns(rows, schema), batch_rows=batch_rows
        )
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        idx = [
            (_py(r.get(id_col)), shard, i // batch_rows, i % batch_rows)
            for i, r in enumerate(rows)
        ]
        yield pd.DataFrame(
            idx, columns=[f.name for f in ARROW_INDEX_SCHEMA.fields]
        )

    index = (
        df.select(*cols)
        .repartition(
            n_shards, F.pmod(F.coalesce(id_col, F.lit(0)), F.lit(n_shards))
        )
        .sortWithinPartitions(id_col)
        .mapInPandas(write_shard, ARROW_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


def read_arrow_docs(
    index: DataFrame,
    corpus_dir: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Distributed point-lookup over an Arrow shard corpus: per shard,
    one 10-byte tail probe + the footer, then ONLY the covering blocks
    (each decoded at most once per task), never the whole file — the
    object-store range-GET pattern at batch grain."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.arrowipc import (
        arrow_footer_length,
        load_arrow_dictionaries,
        parse_footer_flatbuffer,
        read_arrow_batch_at,
    )

    schema = schema or DOCUMENTS_SCHEMA

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                p = os.path.join(corpus_dir, str(shard))
                with open(p, "rb") as fh:
                    size = fh.seek(0, os.SEEK_END)
                    fh.seek(size - 10)
                    flen = arrow_footer_length(fh.read(10))
                    fh.seek(size - 10 - flen)
                    meta = parse_footer_flatbuffer(fh.read(flen))
                    blocks = meta["blocks"]

                    def _range_read(off, n):
                        fh.seek(off)
                        return fh.read(n)

                    dicts = load_arrow_dictionaries(
                        b"", meta, read=_range_read
                    )
                    cache: dict[int, list[list]] = {}
                    order = grp.sort_values(["batch", "row"])
                    for b, rrow in zip(order["batch"], order["row"]):
                        b, rrow = int(b), int(rrow)
                        if b >= len(blocks):
                            raise ValueError(
                                f"{p}: batch {b} beyond footer blocks"
                            )
                        if b not in cache:
                            # ascending batch order: earlier batches are
                            # never needed again
                            cache.clear()
                            off, ml, bl = blocks[b]
                            fh.seek(off)
                            cache[b] = read_arrow_batch_at(
                                fh.read(ml + bl), 0, ml, bl,
                                meta["fields"], dicts,
                            )
                        cols = cache[b]
                        rows.append(tuple(c[rrow] for c in cols))
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return index.select("shard", "batch", "row").mapInPandas(fetch, schema)


def read_arrow_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Full-scan read of an Arrow shard corpus, shard-grain parallel."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.arrowipc import decode_arrow_file

    schema = schema or DOCUMENTS_SCHEMA
    shards = sorted(n for n in os.listdir(path) if n.endswith(".arrow"))
    if not shards:
        raise ValueError(f"{path}: no .arrow shards found")

    def scan(batches):
        for pdf in batches:
            for name in pdf["shard"]:
                with open(os.path.join(path, str(name)), "rb") as fh:
                    out = decode_arrow_file(fh.read())
                rows = list(zip(*out["columns"])) if out["columns"] else []
                yield pd.DataFrame(
                    rows, columns=[f.name for f in schema.fields]
                )

    files = spark.createDataFrame(
        [(s,) for s in shards],
        StructType([StructField("shard", StringType(), False)]),
    ).repartition(len(shards), "shard")
    return files.mapInPandas(scan, schema)


# ---------------------------------------------------------------------------
# safetensors embedding-shard layout (round 14): the HF tensor
# container as the EMBEDDINGS interchange — one ``.safetensors`` file
# per shard holding vec_id (I64 [n]), embedding (F32 [n, d]) and label
# (I32 [n]) tensors, plus a (vec_id, shard, row) index. Because the
# format is raw C-order tensors behind a JSON header, a row lookup is
# pure offset arithmetic: header probe + three bounded range GETs, no
# framing walk at all (sources/safetensors.py:tensor_row_range).
# Tensors cannot represent SQL NULL — the writer REJECTS null cells
# loudly rather than inventing sentinels.
# ---------------------------------------------------------------------------

SAFETENSORS_INDEX_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("shard", StringType(), False),
        StructField("row", LongType(), False),
    ]
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType(), True), True),
        StructField("label", IntegerType(), True),
    ]
)


def write_safetensors_corpus(
    df: DataFrame, path: str, n_shards: int = 4
) -> DataFrame:
    """Write an embeddings table (vec_id, embedding array<float>,
    label) as ``shard-<N>.safetensors`` files + a ``_index`` parquet of
    (vec_id, shard, row); shard-parallel, atomic publish. The embedding
    dimension must be uniform (the fixed-[n, d] tensor contract) and no
    cell may be NULL — both violations raise."""
    import os

    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.sources.safetensors import encode_safetensors

    os.makedirs(path, exist_ok=True)
    spark = df.sparkSession

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"shard-{pid:05d}.safetensors"
        ids, labels, embs = [], [], []
        for r in rows:
            vid, lab, emb = r.get("vec_id"), r.get("label"), r.get("embedding")
            if _py(vid) is None or _py(lab) is None or emb is None:
                raise ValueError(
                    "safetensors: NULL cell — tensors cannot represent "
                    "SQL NULL"
                )
            ids.append(int(vid))
            labels.append(int(lab))
            embs.append(np.asarray(emb, dtype="<f4"))
        d = len(embs[0])
        if any(len(e) != d for e in embs):
            raise ValueError("safetensors: ragged embedding dimensions")
        mat = np.vstack(embs).astype("<f4")
        payload = encode_safetensors(
            {
                "vec_id": ("I64", [len(ids)], np.asarray(ids, "<i8").tobytes()),
                "label": ("I32", [len(ids)], np.asarray(labels, "<i4").tobytes()),
                "embedding": ("F32", [len(ids), d], mat.tobytes()),
            },
            metadata={"layout": "embeddings-v1"},
        )
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        yield pd.DataFrame(
            [(ids[i], shard, i) for i in range(len(ids))],
            columns=[f.name for f in SAFETENSORS_INDEX_SCHEMA.fields],
        )

    index = (
        df.select("vec_id", "embedding", "label")
        .repartition(
            n_shards, F.pmod(F.coalesce("vec_id", F.lit(0)), F.lit(n_shards))
        )
        .sortWithinPartitions("vec_id")
        .mapInPandas(write_shard, SAFETENSORS_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


def read_safetensors_rows(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed row lookup over a safetensors shard corpus: per
    shard one header probe, then per row three bounded range reads
    (vec_id, label, embedding row) located by offset arithmetic alone.
    Returns EMBEDDINGS_SCHEMA rows."""
    import os
    import struct as _struct

    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.sources.safetensors import (
        decode_safetensors_header,
        tensor_row_range,
    )

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                p = os.path.join(corpus_dir, str(shard))
                with open(p, "rb") as fh:
                    (n,) = _struct.unpack("<Q", fh.read(8))
                    fh.seek(0)
                    header_blob = fh.read(8 + n)
                    size = fh.seek(0, os.SEEK_END)
                    # header-only validation against the file size: no
                    # byte of the data region is read until a row asks
                    meta = decode_safetensors_header(
                        header_blob, total_length=size
                    )
                    for row in grp.sort_values("row")["row"]:
                        row = int(row)
                        vals = []
                        for name, dt in (
                            ("vec_id", "<i8"),
                            ("label", "<i4"),
                            ("embedding", "<f4"),
                        ):
                            off, ln = tensor_row_range(meta, name, row)
                            fh.seek(off)
                            vals.append(np.frombuffer(fh.read(ln), dt))
                        rows.append(
                            (
                                int(vals[0][0]),
                                [float(x) for x in vals[2]],
                                int(vals[1][0]),
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in EMBEDDINGS_SCHEMA.fields]
            )

    return index.select("shard", "row").mapInPandas(fetch, EMBEDDINGS_SCHEMA)


def read_safetensors_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Full-scan read of a safetensors shard corpus, shard-parallel."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.safetensors import (
        decode_safetensors_header,
        tensor_to_numpy,
    )

    shards = sorted(n for n in os.listdir(path) if n.endswith(".safetensors"))
    if not shards:
        raise ValueError(f"{path}: no .safetensors shards found")

    def scan(batches):
        for pdf in batches:
            for name in pdf["shard"]:
                with open(os.path.join(path, str(name)), "rb") as fh:
                    blob = fh.read()
                meta = decode_safetensors_header(blob)
                ids = tensor_to_numpy(blob, meta, "vec_id")
                labels = tensor_to_numpy(blob, meta, "label")
                mat = tensor_to_numpy(blob, meta, "embedding")
                rows = [
                    (int(ids[i]), [float(x) for x in mat[i]], int(labels[i]))
                    for i in range(len(ids))
                ]
                yield pd.DataFrame(
                    rows, columns=[f.name for f in EMBEDDINGS_SCHEMA.fields]
                )

    files = spark.createDataFrame(
        [(s,) for s in shards],
        StructType([StructField("shard", StringType(), False)]),
    ).repartition(len(shards), "shard")
    return files.mapInPandas(scan, EMBEDDINGS_SCHEMA)


# ---------------------------------------------------------------------------
# npz embedding-shard layout (round 14): np.savez's container as the
# EMBEDDINGS interchange — one uncompressed ``.npz`` per shard holding
# vec_id/label/embedding arrays + a (vec_id, shard, row) index. STORED
# members keep every array range-addressable inside the archive, so a
# row lookup is the ZIP central-directory walk (header-grain) + pure
# offset arithmetic into the member (sources/npy.py:npy_row_range) —
# the same two-range-GET economics as c15's safetensors. NULL cells
# reject loudly (arrays have no null concept).
# ---------------------------------------------------------------------------


def write_npz_corpus(df: DataFrame, path: str, n_shards: int = 4) -> DataFrame:
    """Write an embeddings table as ``shard-<N>.npz`` archives + a
    ``_index`` parquet of (vec_id, shard, row); shard-parallel, atomic
    publish. Same constraints as the safetensors writer: uniform
    embedding dimension, no NULL cells."""
    import os

    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.sources.npy import write_npz

    os.makedirs(path, exist_ok=True)
    spark = df.sparkSession

    def write_shard(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        shard = f"shard-{pid:05d}.npz"
        ids, labels, embs = [], [], []
        for r in rows:
            vid, lab, emb = r.get("vec_id"), r.get("label"), r.get("embedding")
            if _py(vid) is None or _py(lab) is None or emb is None:
                raise ValueError(
                    "npz: NULL cell — arrays cannot represent SQL NULL"
                )
            ids.append(int(vid))
            labels.append(int(lab))
            embs.append(np.asarray(emb, dtype="<f4"))
        d = len(embs[0])
        if any(len(e) != d for e in embs):
            raise ValueError("npz: ragged embedding dimensions")
        mat = np.vstack(embs).astype("<f4")
        payload = write_npz(
            {
                "vec_id": ("<i8", (len(ids),), np.asarray(ids, "<i8").tobytes()),
                "label": ("<i4", (len(ids),), np.asarray(labels, "<i4").tobytes()),
                "embedding": ("<f4", (len(ids), d), mat.tobytes()),
            }
        )
        tmp = os.path.join(path, f".{shard}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, shard))  # atomic publish
        yield pd.DataFrame(
            [(ids[i], shard, i) for i in range(len(ids))],
            columns=[f.name for f in SAFETENSORS_INDEX_SCHEMA.fields],
        )

    index = (
        df.select("vec_id", "embedding", "label")
        .repartition(
            n_shards, F.pmod(F.coalesce("vec_id", F.lit(0)), F.lit(n_shards))
        )
        .sortWithinPartitions("vec_id")
        .mapInPandas(write_shard, SAFETENSORS_INDEX_SCHEMA)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))


def read_npz_rows(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed row lookup over an npz shard corpus: per shard one
    archive walk (central directory + npy headers), then per row three
    offset-arithmetic slices out of the STORED members. Returns
    EMBEDDINGS_SCHEMA rows."""
    import os

    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.sources.npy import npy_row_range, read_npz

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                p = os.path.join(corpus_dir, str(shard))
                with open(p, "rb") as fh:
                    blob = fh.read()
                m = read_npz(blob)
                for name in ("vec_id", "label", "embedding"):
                    if name not in m or not m[name]["stored"]:
                        raise ValueError(
                            f"{p}: member {name!r} missing or not STORED"
                        )

                def row_slice(name, row, dt):
                    e = m[name]
                    off, ln = npy_row_range(e, row)
                    base = e["member_offset"]
                    return np.frombuffer(blob[base + off : base + off + ln], dt)

                for row in grp.sort_values("row")["row"]:
                    row = int(row)
                    rows.append(
                        (
                            int(row_slice("vec_id", row, "<i8")[0]),
                            [float(x) for x in row_slice("embedding", row, "<f4")],
                            int(row_slice("label", row, "<i4")[0]),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in EMBEDDINGS_SCHEMA.fields]
            )

    return index.select("shard", "row").mapInPandas(fetch, EMBEDDINGS_SCHEMA)


def read_npz_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Full-scan read of an npz shard corpus, shard-parallel."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.npy import npy_to_numpy, read_npz

    shards = sorted(n for n in os.listdir(path) if n.endswith(".npz"))
    if not shards:
        raise ValueError(f"{path}: no .npz shards found")

    def scan(batches):
        for pdf in batches:
            for name in pdf["shard"]:
                with open(os.path.join(path, str(name)), "rb") as fh:
                    blob = fh.read()
                m = read_npz(blob)
                ids = npy_to_numpy(m["vec_id"]["payload"])
                labels = npy_to_numpy(m["label"]["payload"])
                mat = npy_to_numpy(m["embedding"]["payload"])
                rows = [
                    (int(ids[i]), [float(x) for x in mat[i]], int(labels[i]))
                    for i in range(len(ids))
                ]
                yield pd.DataFrame(
                    rows, columns=[f.name for f in EMBEDDINGS_SCHEMA.fields]
                )

    files = spark.createDataFrame(
        [(s,) for s in shards],
        StructType([StructField("shard", StringType(), False)]),
    ).repartition(len(shards), "shard")
    return files.mapInPandas(scan, EMBEDDINGS_SCHEMA)


def export_ordered_arrow(
    df: DataFrame,
    order: DataFrame,
    path: str,
    n_shards: int,
    batch_rows: int = 64,
    schema: StructType | None = None,
) -> DataFrame:
    """Ship a training-order assignment as Arrow IPC shards — the third
    ordered-export twin (seekable-zstd / TFRecord / Arrow): ``order``
    carries (shard, doc_id, pos) — o15_shard_shuffle's output — and
    each assignment shard becomes one ``shard-<s>.arrow`` Feather-V2
    file whose record batches replay the shard's docs in ``pos`` order,
    plus a ``_index`` parquet of (doc_id, shard, batch, row, pos) for
    footer random access (read_arrow_docs). Shard files are named by
    the assignment's shard VALUE (a shard is never split across
    tasks); one shuffle, encoding shard-parallel."""
    import os

    import pandas as pd

    from pipeline_mf_etl_spark.sources.arrowipc import encode_arrow_file

    os.makedirs(path, exist_ok=True)
    schema = schema or DOCUMENTS_SCHEMA
    fields = _arrow_fields(schema)
    cols = [f.name for f in schema.fields]
    spark = df.sparkSession
    ordered_schema = StructType(
        list(ARROW_INDEX_SCHEMA.fields) + [StructField("pos", LongType(), False)]
    )

    def write_shards(batches):
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        by_shard: dict[int, list[dict]] = {}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append(r)
        out: list[tuple] = []
        for s, rs in sorted(by_shard.items()):
            rs.sort(key=lambda r: int(r["pos"]))  # idempotence guard
            shard_name = f"shard-{s:05d}.arrow"
            payload = encode_arrow_file(
                fields,
                _rows_to_arrow_columns(rs, schema),
                batch_rows=batch_rows,
            )
            tmp = os.path.join(path, f".{shard_name}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(path, shard_name))  # atomic
            for i, r in enumerate(rs):
                out.append(
                    (
                        _py(r["doc_id"]), shard_name,
                        i // batch_rows, i % batch_rows, int(r["pos"]),
                    )
                )
        yield pd.DataFrame(
            out, columns=[f.name for f in ordered_schema.fields]
        )

    index = (
        df.select(*cols)
        .join(order.select("shard", "doc_id", "pos"), "doc_id")
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .mapInPandas(write_shards, ordered_schema)
    )
    index.write.mode("overwrite").parquet(os.path.join(path, "_index"))
    return spark.read.parquet(os.path.join(path, "_index"))
