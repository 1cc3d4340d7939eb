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
# Shard layouts. Every format below is the same three-part layout: shard
# files of format-specific bytes, each published atomically by the one
# task that writes it whole, plus a ``_index`` parquet of per-row
# locators (byte range, line, batch/row) so a corpus far larger than
# any one machine serves POINT lookups with a few range reads per row
# and FULL scans shard-parallel. _write_shards / _fetch_shards /
# _scan_shards own placement, publish, index and shard access; a format
# supplies only its encoder and its per-shard decoders.
# ---------------------------------------------------------------------------


def _index_schema(id_col: str, *locators: str) -> StructType:
    """``_index`` rows: the row's id, its shard file name and the
    non-null long locators that address the row inside that file."""
    return StructType(
        [
            StructField(id_col, LongType(), True),
            StructField("shard", StringType(), False),
        ]
        + [StructField(n, LongType(), False) for n in locators]
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


def _json_line(row: dict, cols: list[str]) -> bytes:
    """One JSONL line of ``cols``: UTF-8 with non-ASCII kept literal,
    newline-terminated."""
    import json

    return (
        json.dumps({c: _py(row.get(c)) for c in cols}, ensure_ascii=False).encode(
            "utf-8"
        )
        + b"\n"
    )


def _byte_ranges(blobs: list[bytes]) -> tuple[bytes, list[tuple[int, int]]]:
    """Concatenate ``blobs``; the (offset, length) of each in the result."""
    locs, off = [], 0
    for b in blobs:
        locs.append((off, len(b)))
        off += len(b)
    return b"".join(blobs), locs


def _write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    cols: list[str],
    id_col: str,
    name: str,
    index_schema: StructType,
    encode,
    order: DataFrame | None = None,
) -> DataFrame:
    """Write ``df``'s ``cols`` as shard files under ``path`` and return
    the ``_index`` parquet read back from ``<path>/_index``. Encoding
    runs shard-parallel in one Spark job; the index write drives it.

    Placement: every row carries a shard VALUE — ``pmod(coalesce(id,
    0), n_shards)`` without ``order``, the assignment's ``shard`` with
    ``order`` (shard, doc_id, pos). Rows are hashed to tasks by that
    value, so a task may own several whole shards (or none) but a shard
    is never split; each shard is written to ``name.format(shard
    value)``, in id order, or in ``pos`` order with ``order``, where its
    index rows also end in ``pos``.

    ``encode(rows) -> (payload, locators)`` turns one shard's row dicts
    into its file bytes and one locator tuple per row; the index row is
    (id, shard file, *locator[, pos]). A shard lands under a dot-prefixed
    tmp name and is renamed into place, so readers never see a partial
    file."""
    import os

    import pandas as pd

    os.makedirs(path, exist_ok=True)
    ordered = order is not None

    def write(batches):
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if not rows:
            return
        # sortWithinPartitions made each shard's rows contiguous and in
        # file order
        by_shard: dict[int, list[dict]] = {}
        for r in rows:
            by_shard.setdefault(int(r["shard"]), []).append(r)
        out: list[tuple] = []
        for s, rs in sorted(by_shard.items()):
            shard = name.format(s)
            payload, locs = encode(rs)
            tmp = os.path.join(path, f".{shard}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(path, shard))  # atomic publish
            for r, loc in zip(rs, locs):
                tail = (int(r["pos"]),) if ordered else ()
                out.append((_py(r.get(id_col)), shard, *loc, *tail))
        yield pd.DataFrame(out, columns=index_schema.fieldNames())

    placed = df.select(*cols)
    if ordered:
        placed = placed.join(order.select("shard", "doc_id", "pos"), "doc_id")
        within = "pos"
    else:
        placed = placed.withColumn(
            "shard", F.pmod(F.coalesce(id_col, F.lit(0)), F.lit(n_shards))
        )
        within = id_col
    placed = placed.repartition(n_shards, "shard").sortWithinPartitions("shard", within)
    index_dir = os.path.join(path, "_index")
    placed.mapInPandas(write, index_schema).write.mode("overwrite").parquet(index_dir)
    return df.sparkSession.read.parquet(index_dir)


def _fetch_shards(
    index: DataFrame,
    corpus_dir: str,
    locators: list[str],
    schema: StructType,
    read,
) -> DataFrame:
    """Distributed point lookup: the index rows of each Arrow batch are
    grouped by shard and each shard file is opened once per group;
    ``read(fh, grp)`` yields ``schema`` rows for the group's locator
    columns from the open shard ``fh`` (``fh.name`` is its path)."""
    import os

    import pandas as pd

    def fetch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for shard, grp in pdf.groupby("shard", sort=False):
                with open(os.path.join(corpus_dir, str(shard)), "rb") as fh:
                    rows.extend(read(fh, grp))
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return index.select("shard", *locators).mapInPandas(fetch, schema)


def _scan_shards(
    spark: SparkSession,
    path: str,
    suffixes: tuple[str, ...],
    schema: StructType,
    decode,
) -> DataFrame:
    """Distributed full scan, one task per shard file (the grain a
    large cluster distributes on): every file under ``path`` ending in
    one of ``suffixes`` is read whole and ``decode(name, data)`` returns
    its ``schema`` rows."""
    import os

    import pandas as pd

    shards = sorted(n for n in os.listdir(path) if n.endswith(suffixes))
    if not shards:
        raise ValueError(f"{path}: no {suffixes[0]} shards found")

    def scan(batches):
        for pdf in batches:
            for name in pdf["shard"]:
                with open(os.path.join(path, str(name)), "rb") as fh:
                    data = fh.read()
                yield pd.DataFrame(
                    decode(str(name), data), columns=schema.fieldNames()
                )

    files = spark.createDataFrame(
        [(s,) for s in shards], StructType([StructField("shard", StringType(), False)])
    ).repartition(len(shards), "shard")
    return files.mapInPandas(scan, schema)


# ---------------------------------------------------------------------------
# seekable-zstd shard layout: the .jsonl.zst sibling of
# compact_parquet_dir. One seekable archive per shard plus a doc-level
# byte-range index, so a point lookup costs three range reads (17-byte
# footer probe, seek table, covering frames) instead of a full-shard
# decompress. c8_seekable_extract certifies the frame math per doc;
# this is the same primitive at shard grain.
# ---------------------------------------------------------------------------

ZST_INDEX_SCHEMA = _index_schema("doc_id", "offset", "length")

#: export_ordered_jsonl_zst's index rows: the byte-range index plus the
#: training-order position the line was written at
ZST_ORDERED_INDEX_SCHEMA = _index_schema("doc_id", "offset", "length", "pos")


def _zst_encoder(cols: list[str], frame_content_size: int):
    from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_seekable

    def encode(rows):
        data, locs = _byte_ranges([_json_line(r, cols) for r in rows])
        return encode_zstd_seekable(data, frame_content_size=frame_content_size), locs

    return encode


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
    cols = DOCUMENTS_SCHEMA.fieldNames()
    return _write_shards(
        df, path, n_shards, cols, "doc_id", "shard-{:05d}.jsonl.zst",
        ZST_INDEX_SCHEMA, _zst_encoder(cols, frame_content_size),
    )


def export_ordered_jsonl_zst(
    df: DataFrame,
    order: DataFrame,
    path: str,
    n_shards: int,
    frame_content_size: int = 65536,
) -> DataFrame:
    """Ship a training-order assignment as the layout a 100-TB corpus
    actually trains from: ``order`` carries (shard, doc_id, pos) —
    exactly o15_shard_shuffle's output — and each assignment shard
    becomes one ``shard-<s>.jsonl.zst`` seekable archive with lines in
    ``pos`` order, plus a ``_index`` parquet of (doc_id, shard, offset,
    length, pos) byte ranges for point lookups (read_jsonl_zst_doc /
    read_jsonl_zst_docs).

    Unlike write_jsonl_zst_corpus (whose shard files are named by
    PARTITION id, deterministic only up to shard numbering), the file
    here is named by the assignment's shard VALUE and written whole, in
    order, by one task. One shuffle (the repartition); encoding runs
    shard-parallel; the index write is the driving action."""
    cols = DOCUMENTS_SCHEMA.fieldNames()
    return _write_shards(
        df, path, n_shards, cols, "doc_id", "shard-{:05d}.jsonl.zst",
        ZST_ORDERED_INDEX_SCHEMA, _zst_encoder(cols, frame_content_size),
        order=order,
    )


def _zst_ranges(fh, ranges):
    """Yield the decoded bytes of each (offset, length) range of the
    open seekable archive ``fh``, ranges in ascending offset order.
    The 17-byte footer probe and the seek table are read once; after
    that only the frames COVERING a range are read, each decoded and
    xxh64-verified at most once (frames ending before the current range
    leave the cache), so corruption outside the covering frames cannot
    affect — or fail — a lookup."""
    import bisect
    import os

    from pipeline_mf_etl_spark.sources.zstdframe import (
        decode_zstd_frame,
        parse_zstd_seek_footer,
        xxh64,
        zstd_seek_footer_length,
    )

    path = fh.name
    size = fh.seek(0, os.SEEK_END)
    if size < 17:
        raise ValueError(f"{path}: too short for a seekable archive")
    fh.seek(size - 17)
    need = zstd_seek_footer_length(fh.read(17))
    fh.seek(size - need)
    table = parse_zstd_seek_footer(fh.read(need), size)
    d_offs = [e["d_off"] for e in table]
    cache: dict[int, bytes] = {}
    for off, ln in ranges:
        end = off + ln
        for fi in [
            k for k in cache if table[k]["d_off"] + table[k]["d_size"] <= off
        ]:
            del cache[fi]
        out = bytearray()
        fi = max(bisect.bisect_right(d_offs, off) - 1, 0)
        while fi < len(table) and table[fi]["d_off"] < end:
            ent = table[fi]
            if ent["d_off"] + ent["d_size"] > off and fi not in cache:
                fh.seek(ent["c_off"])
                data = decode_zstd_frame(fh.read(ent["c_size"]))["content"]
                if len(data) != ent["d_size"]:
                    raise ValueError(
                        f"{path}: frame size disagrees with the seek table"
                    )
                if ent["checksum"] is not None and (
                    xxh64(data) & 0xFFFFFFFF
                ) != ent["checksum"]:
                    raise ValueError(f"{path}: covering-frame checksum mismatch")
                cache[fi] = data
            if fi in cache:
                out += cache[fi][
                    max(off - ent["d_off"], 0) : min(end - ent["d_off"], ent["d_size"])
                ]
            fi += 1
        if len(out) != ln:
            raise ValueError(
                f"{path}: byte range [{off}, {end}) outside the archive"
            )
        yield bytes(out)


def read_jsonl_zst_doc(shard_path: str, offset: int, length: int) -> dict:
    """Point lookup of ONE document from a seekable shard: reads the
    17-byte footer probe, the seek table, then ONLY the frames covering
    [offset, offset+length) — never the whole archive. This is the
    access pattern an object store serves with range GETs; per-frame
    xxh64 checksums are verified on every frame touched, so corruption
    OUTSIDE the covering frames cannot affect (or fail) the lookup."""
    import json

    with open(shard_path, "rb") as fh:
        data = next(_zst_ranges(fh, [(offset, length)]))
    return json.loads(data.decode("utf-8"))


def read_jsonl_zst_docs(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed point-lookup: each index row (doc_id, shard, offset,
    length) resolves by decoding ONLY its covering frames, in one Arrow
    map pass — the retrieval half of the shard layout (e.g. serving an
    ANN hit list). Returns DOCUMENTS_SCHEMA rows.

    Each shard's seek table is parsed once per batch group and lookups
    run in ascending offset order, so every frame is read and
    checksum-verified at most once per group, where a per-row
    read_jsonl_zst_doc would re-decode a covering frame once for each
    doc it holds. Single-doc semantics, integrity checks and
    covering-frames-only IO are read_jsonl_zst_doc's."""
    import json

    cols = DOCUMENTS_SCHEMA.fieldNames()

    def read(fh, grp):
        grp = grp.sort_values("offset")
        ranges = [(int(o), int(n)) for o, n in zip(grp["offset"], grp["length"])]
        for data in _zst_ranges(fh, ranges):
            doc = json.loads(data.decode("utf-8"))
            yield tuple(doc.get(c) for c in cols)

    return _fetch_shards(
        index, corpus_dir, ["offset", "length"], DOCUMENTS_SCHEMA, read
    )


#: write_jsonl_bz2_dump's index rows: one per document — the stream's
#: byte range within its shard plus the document's line number inside
#: the decoded stream (the Wikipedia dump-index shape: offset published
#: per stream, records addressed within it)
BZ2_DUMP_INDEX_SCHEMA = _index_schema("doc_id", "offset", "length", "line_no")


def write_jsonl_bz2_dump(
    df: DataFrame,
    path: str,
    n_shards: int = 4,
    docs_per_stream: int = 16,
    level: int = 1,
) -> DataFrame:
    """Write a documents corpus in the Wikipedia-multistream layout:
    each shard is a concatenation of independent bzip2 STREAMS of
    ``docs_per_stream`` JSONL lines, byte-aligned so a reader can hand
    any single stream to any task — exactly what the published dump
    index enables. Returns the per-document index (doc_id, shard,
    offset, length, line_no) read back from ``<path>/_index``;
    ``decode_bzip2_at`` on the byte range at ``offset`` is the
    record-grain access primitive."""
    from pipeline_mf_etl_spark.sources.bzip2 import encode_bzip2

    cols = DOCUMENTS_SCHEMA.fieldNames()

    def encode(rows):
        payload, locs = bytearray(), []
        for i in range(0, len(rows), docs_per_stream):
            chunk = rows[i : i + docs_per_stream]
            enc = encode_bzip2(b"".join(_json_line(r, cols) for r in chunk), level=level)
            locs += [(len(payload), len(enc), n) for n in range(len(chunk))]
            payload += enc
        return bytes(payload), locs

    return _write_shards(
        df, path, n_shards, cols, "doc_id", "dump-{:05d}.jsonl.bz2",
        BZ2_DUMP_INDEX_SCHEMA, encode,
    )


def read_jsonl_bz2_docs(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed dump-index point-lookup: each index row resolves by
    range-reading ONLY its stream's bytes (seek + bounded read — the
    object-store range-GET pattern), decoding that one stream through
    the CRC-verified walk (sources/bzip2.decode_bzip2_at), and picking
    the document's line. Streams co-requested in a batch decode once
    (pandas groupby on the byte range). Returns DOCUMENTS_SCHEMA rows."""
    import json

    from pipeline_mf_etl_spark.sources.bzip2 import decode_bzip2_at

    cols = DOCUMENTS_SCHEMA.fieldNames()

    def read(fh, grp):
        for (off, ln), lines in grp.groupby(["offset", "length"], sort=False):
            fh.seek(int(off))
            # split on the newline byte only: str.splitlines would also
            # split inside a document at U+2028, U+0085 and the like,
            # which json.dumps leaves unescaped
            stream = decode_bzip2_at(fh.read(int(ln)), 0)["content"].split(b"\n")
            for line_no in lines["line_no"]:
                doc = json.loads(stream[int(line_no)].decode("utf-8"))
                yield tuple(doc.get(c) for c in cols)

    return _fetch_shards(
        index, corpus_dir, ["offset", "length", "line_no"], DOCUMENTS_SCHEMA, read
    )


# ---------------------------------------------------------------------------
# TFRecord shard layout: the training-data container the TF ecosystem
# consumes directly. TFRecord framing is byte-aligned and length-
# prefixed, so every record IS a range-readable unit with its own
# masked-CRC32C integrity: a point lookup is one range read per doc.
# ---------------------------------------------------------------------------

TFRECORD_INDEX_SCHEMA = _index_schema("doc_id", "offset", "length")

#: export_ordered_tfrecord's index rows: the record byte-range index
#: plus the training-order position the record was written at
TFRECORD_ORDERED_INDEX_SCHEMA = _index_schema("doc_id", "offset", "length", "pos")


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


def _tfrecord_encoder(plan, gzip_members: bool):
    import gzip

    from pipeline_mf_etl_spark.sources.tfrecord import frame_record

    def encode(rows):
        data, locs = _byte_ranges([frame_record(_row_to_example(r, plan)) for r in rows])
        if gzip_members:
            data = gzip.compress(data, compresslevel=6, mtime=0)
        return data, locs

    return encode


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
    if compression not in (None, "gzip"):
        raise ValueError(f"tfrecord: unsupported compression {compression!r}")
    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    cols = schema.fieldNames()
    if id_col not in cols:
        raise ValueError(f"tfrecord: id column {id_col!r} not in schema")
    ext = ".tfrecord.gz" if compression else ".tfrecord"
    return _write_shards(
        df, path, n_shards, cols, id_col, "shard-{:05d}" + ext,
        TFRECORD_INDEX_SCHEMA, _tfrecord_encoder(plan, bool(compression)),
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
    schema = schema or DOCUMENTS_SCHEMA
    return _write_shards(
        df, path, n_shards, schema.fieldNames(), "doc_id", "shard-{:05d}.tfrecord",
        TFRECORD_ORDERED_INDEX_SCHEMA,
        _tfrecord_encoder(_tfrecord_field_plan(schema), False), order=order,
    )


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

    from pipeline_mf_etl_spark.sources.tfrecord import read_tfrecord_at

    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    utf8 = _utf8_columns(schema)

    def read(fh, grp):
        stream = gzip.decompress(fh.read()) if fh.name.endswith(".gz") else None
        grp = grp.sort_values("offset")  # sequential seeks
        for off, ln in zip(grp["offset"], grp["length"]):
            off, ln = int(off), int(ln)
            if stream is None:
                fh.seek(off)
                rec = fh.read(ln)
            else:
                rec = stream[off : off + ln]
            yield _example_to_row(read_tfrecord_at(rec), plan, utf8)

    return _fetch_shards(index, corpus_dir, ["offset", "length"], schema, read)


def read_tfrecord_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Full-scan read of a TFRecord shard corpus: shard-grain parallel
    (each task walks whole record streams with every CRC verified).
    Handles ``.tfrecord`` and ``.tfrecord.gz`` shards together."""
    import gzip

    from pipeline_mf_etl_spark.sources.tfrecord import iter_tfrecord

    schema = schema or DOCUMENTS_SCHEMA
    plan = _tfrecord_field_plan(schema)
    utf8 = _utf8_columns(schema)

    def decode(name, data):
        if name.endswith(".gz"):
            data = gzip.decompress(data)
        return [_example_to_row(p, plan, utf8) for _, _, p in iter_tfrecord(data)]

    return _scan_shards(spark, path, (".tfrecord", ".tfrecord.gz"), schema, decode)


# ---------------------------------------------------------------------------
# Arrow IPC shard layout: the HuggingFace-datasets interchange — each
# shard a Feather-V2 ``.arrow`` FILE whose footer makes record batches
# RANDOM-ACCESS, plus a doc-level (shard, batch, row) index. A point
# lookup is two range reads (10-byte tail probe + footer, then the one
# covering block). Codec: sources/arrowipc.py (dependency-free,
# pyarrow-cross-validated both directions).
# ---------------------------------------------------------------------------

ARROW_INDEX_SCHEMA = _index_schema("doc_id", "batch", "row")


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


def _arrow_encoder(schema: StructType, batch_rows: int):
    from pipeline_mf_etl_spark.sources.arrowipc import encode_arrow_file

    fields = _arrow_fields(schema)

    def encode(rows):
        payload = encode_arrow_file(
            fields, _rows_to_arrow_columns(rows, schema), batch_rows=batch_rows
        )
        return payload, [(i // batch_rows, i % batch_rows) for i in range(len(rows))]

    return encode


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
    schema = schema or DOCUMENTS_SCHEMA
    encode = _arrow_encoder(schema, batch_rows)
    cols = schema.fieldNames()
    if id_col not in cols:
        raise ValueError(f"arrow: id column {id_col!r} not in schema")
    return _write_shards(
        df, path, n_shards, cols, id_col, "shard-{:05d}.arrow",
        ARROW_INDEX_SCHEMA, encode,
    )


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
    schema = schema or DOCUMENTS_SCHEMA
    return _write_shards(
        df, path, n_shards, schema.fieldNames(), "doc_id", "shard-{:05d}.arrow",
        _index_schema("doc_id", "batch", "row", "pos"),
        _arrow_encoder(schema, batch_rows), order=order,
    )


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

    from pipeline_mf_etl_spark.sources.arrowipc import (
        arrow_footer_length,
        load_arrow_dictionaries,
        parse_footer_flatbuffer,
        read_arrow_batch_at,
    )

    schema = schema or DOCUMENTS_SCHEMA

    def read(fh, grp):
        size = fh.seek(0, os.SEEK_END)
        fh.seek(size - 10)
        flen = arrow_footer_length(fh.read(10))
        fh.seek(size - 10 - flen)
        meta = parse_footer_flatbuffer(fh.read(flen))
        blocks = meta["blocks"]

        def range_read(off, n):
            fh.seek(off)
            return fh.read(n)

        dicts = load_arrow_dictionaries(b"", meta, read=range_read)
        cached, cols = None, None
        grp = grp.sort_values(["batch", "row"])
        for b, row in zip(grp["batch"], grp["row"]):
            b = int(b)
            if b >= len(blocks):
                raise ValueError(f"{fh.name}: batch {b} beyond footer blocks")
            if b != cached:
                # ascending batch order: earlier batches are never
                # needed again
                off, ml, bl = blocks[b]
                cached = b
                cols = read_arrow_batch_at(
                    range_read(off, ml + bl), 0, ml, bl, meta["fields"], dicts
                )
            yield tuple(c[int(row)] for c in cols)

    return _fetch_shards(index, corpus_dir, ["batch", "row"], schema, read)


def read_arrow_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Full-scan read of an Arrow shard corpus, shard-grain parallel."""
    from pipeline_mf_etl_spark.sources.arrowipc import decode_arrow_file

    def decode(name, data):
        out = decode_arrow_file(data)
        return list(zip(*out["columns"])) if out["columns"] else []

    return _scan_shards(spark, path, (".arrow",), schema or DOCUMENTS_SCHEMA, decode)


# ---------------------------------------------------------------------------
# Embedding-shard layouts (safetensors, npz): the EMBEDDINGS table
# (vec_id I64 [n], embedding F32 [n, d], label I32 [n]) as fixed-shape
# tensors, one file per shard, plus a (vec_id, shard, row) index. A row
# lookup is pure offset arithmetic into the tensors — no framing walk.
# Tensors cannot represent SQL NULL and need one embedding dimension:
# the writers REJECT both loudly rather than inventing sentinels.
# ---------------------------------------------------------------------------

SAFETENSORS_INDEX_SCHEMA = _index_schema("vec_id", "row")

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType(), True), True),
        StructField("label", IntegerType(), True),
    ]
)


def _embedding_tensors(rows: list[dict], fmt: str, what: str):
    """One shard's (vec_id <i8 [n], label <i4 [n], embedding <f4 [n, d])
    arrays; a NULL cell or a ragged dimension raises, naming ``fmt``."""
    import numpy as np

    ids, labels, embs = [], [], []
    for r in rows:
        vid, lab, emb = r.get("vec_id"), r.get("label"), r.get("embedding")
        if _py(vid) is None or _py(lab) is None or emb is None:
            raise ValueError(f"{fmt}: NULL cell — {what} cannot represent SQL NULL")
        ids.append(int(vid))
        labels.append(int(lab))
        embs.append(np.asarray(emb, dtype="<f4"))
    d = len(embs[0])
    if any(len(e) != d for e in embs):
        raise ValueError(f"{fmt}: ragged embedding dimensions")
    return (
        np.asarray(ids, "<i8"),
        np.asarray(labels, "<i4"),
        np.vstack(embs).astype("<f4"),
    )


def _write_embedding_shards(df, path, n_shards, ext, encode):
    return _write_shards(
        df, path, n_shards, EMBEDDINGS_SCHEMA.fieldNames(), "vec_id",
        "shard-{:05d}" + ext, SAFETENSORS_INDEX_SCHEMA,
        lambda rows: (encode(rows), [(i,) for i in range(len(rows))]),
    )


def _embedding_rows(ids, mat, labels) -> list[tuple]:
    return [
        (int(ids[i]), [float(x) for x in mat[i]], int(labels[i]))
        for i in range(len(ids))
    ]


def write_safetensors_corpus(
    df: DataFrame, path: str, n_shards: int = 4
) -> DataFrame:
    """Write an embeddings table (vec_id, embedding array<float>,
    label) as ``shard-<N>.safetensors`` files + a ``_index`` parquet of
    (vec_id, shard, row); shard-parallel, atomic publish. The embedding
    dimension must be uniform (the fixed-[n, d] tensor contract) and no
    cell may be NULL — both violations raise."""
    from pipeline_mf_etl_spark.sources.safetensors import encode_safetensors

    def encode(rows):
        ids, labels, mat = _embedding_tensors(rows, "safetensors", "tensors")
        n, d = mat.shape
        return encode_safetensors(
            {
                "vec_id": ("I64", [n], ids.tobytes()),
                "label": ("I32", [n], labels.tobytes()),
                "embedding": ("F32", [n, d], mat.tobytes()),
            },
            metadata={"layout": "embeddings-v1"},
        )

    return _write_embedding_shards(df, path, n_shards, ".safetensors", encode)


def read_safetensors_rows(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed row lookup over a safetensors shard corpus: per
    shard one header probe, then per row three bounded range reads
    (vec_id, label, embedding row) located by offset arithmetic alone.
    Returns EMBEDDINGS_SCHEMA rows."""
    import os
    import struct as _struct

    import numpy as np

    from pipeline_mf_etl_spark.sources.safetensors import (
        decode_safetensors_header,
        tensor_row_range,
    )

    def read(fh, grp):
        (n,) = _struct.unpack("<Q", fh.read(8))
        fh.seek(0)
        header_blob = fh.read(8 + n)
        size = fh.seek(0, os.SEEK_END)
        # header-only validation against the file size: no byte of the
        # data region is read until a row asks
        meta = decode_safetensors_header(header_blob, total_length=size)

        def cell(name, row, dt):
            off, ln = tensor_row_range(meta, name, row)
            fh.seek(off)
            return np.frombuffer(fh.read(ln), dt)

        for row in grp.sort_values("row")["row"]:
            row = int(row)
            vec_id, label = cell("vec_id", row, "<i8"), cell("label", row, "<i4")
            yield _embedding_rows(vec_id, [cell("embedding", row, "<f4")], label)[0]

    return _fetch_shards(index, corpus_dir, ["row"], EMBEDDINGS_SCHEMA, read)


def read_safetensors_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Full-scan read of a safetensors shard corpus, shard-parallel."""
    from pipeline_mf_etl_spark.sources.safetensors import (
        decode_safetensors_header,
        tensor_to_numpy,
    )

    def decode(name, blob):
        meta = decode_safetensors_header(blob)
        return _embedding_rows(
            *(tensor_to_numpy(blob, meta, t) for t in ("vec_id", "embedding", "label"))
        )

    return _scan_shards(spark, path, (".safetensors",), EMBEDDINGS_SCHEMA, decode)


def write_npz_corpus(df: DataFrame, path: str, n_shards: int = 4) -> DataFrame:
    """Write an embeddings table as ``shard-<N>.npz`` archives + a
    ``_index`` parquet of (vec_id, shard, row); shard-parallel, atomic
    publish. Same constraints as the safetensors writer: uniform
    embedding dimension, no NULL cells. Members are STORED, so every
    array stays range-addressable inside the archive."""
    from pipeline_mf_etl_spark.sources.npy import write_npz

    def encode(rows):
        ids, labels, mat = _embedding_tensors(rows, "npz", "arrays")
        n, d = mat.shape
        return write_npz(
            {
                "vec_id": ("<i8", (n,), ids.tobytes()),
                "label": ("<i4", (n,), labels.tobytes()),
                "embedding": ("<f4", (n, d), mat.tobytes()),
            }
        )

    return _write_embedding_shards(df, path, n_shards, ".npz", encode)


def read_npz_rows(index: DataFrame, corpus_dir: str) -> DataFrame:
    """Distributed row lookup over an npz shard corpus: per shard one
    archive walk (central directory + npy headers), then per row three
    offset-arithmetic slices out of the STORED members. Returns
    EMBEDDINGS_SCHEMA rows."""
    import numpy as np

    from pipeline_mf_etl_spark.sources.npy import npy_row_range, read_npz

    def read(fh, grp):
        blob = fh.read()
        m = read_npz(blob)
        for name in ("vec_id", "label", "embedding"):
            if name not in m or not m[name]["stored"]:
                raise ValueError(
                    f"{fh.name}: member {name!r} missing or not STORED"
                )

        def cell(name, row, dt):
            e = m[name]
            off, ln = npy_row_range(e, row)
            base = e["member_offset"]
            return np.frombuffer(blob[base + off : base + off + ln], dt)

        for row in grp.sort_values("row")["row"]:
            row = int(row)
            vec_id, label = cell("vec_id", row, "<i8"), cell("label", row, "<i4")
            yield _embedding_rows(vec_id, [cell("embedding", row, "<f4")], label)[0]

    return _fetch_shards(index, corpus_dir, ["row"], EMBEDDINGS_SCHEMA, read)


def read_npz_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Full-scan read of an npz shard corpus, shard-parallel."""
    from pipeline_mf_etl_spark.sources.npy import npy_to_numpy, read_npz

    def decode(name, blob):
        m = read_npz(blob)
        return _embedding_rows(
            *(npy_to_numpy(m[t]["payload"]) for t in ("vec_id", "embedding", "label"))
        )

    return _scan_shards(spark, path, (".npz",), EMBEDDINGS_SCHEMA, decode)
