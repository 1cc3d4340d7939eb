"""Avro Object Container Files — dependency-free reader/writer for the
data-lake interchange format (Kafka archives, Hive/warehouse exports,
event dumps all ship as ``.avro``).

Walks the REAL container structure:

- header: ``Obj\\x01`` magic, the file-metadata Avro MAP (count-framed
  key/value blocks) carrying ``avro.schema`` (JSON) and ``avro.codec``,
  and the 16-byte sync marker;
- data blocks: record count + byte size (both zigzag varints), block
  payload, and the sync marker RE-VERIFIED after every block (a
  corrupt/foreign block desyncs loudly, never silently);
- codecs: ``null`` and ``deflate`` (raw zlib, wbits=-15);
- the Avro BINARY encoding for the type subset warehouse rows are made
  of: null, boolean, int/long (zigzag varints), float, double, string,
  bytes, UNIONS (branch-index framed), and nested records. Maps,
  arrays, enums and fixed gate loudly, as do unknown codecs.

Spark layer: deterministic per-document synthesis (multi-record,
multi-block, union branches exercised) + one Arrow map extraction pass.
Query ``c4_avro_extract`` runs the extraction against a DuckDB oracle
that recomputes every column from the characters.

Reference parity: none — engine ADDITION for the data-engineering
ingestion surface.
"""

from __future__ import annotations

import hashlib
import json
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.bitio import uvarint_decode, uvarint_encode
from pipeline_mf_etl_spark.payload import map_payload, synth_payload

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# Avro binary primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    return uvarint_encode((n << 1) ^ (n >> 63) if n < 0 else n << 1)


def _zigzag_decode(data: bytes, pos: int) -> tuple[int, int]:
    u, pos = uvarint_decode(data, pos, 10)  # a 64-bit long is at most 10 bytes
    return (u >> 1) ^ -(u & 1), pos


def _write_value(schema, value, out: bytearray) -> None:
    import struct

    if isinstance(schema, list):  # union
        for idx, branch in enumerate(schema):
            bname = branch if isinstance(branch, str) else branch.get("type")
            if (value is None) == (bname == "null"):
                out += _zigzag_encode(idx)
                _write_value(branch, value, out)
                return
        raise ValueError(f"no union branch for value {value!r}")
    stype = schema if isinstance(schema, str) else schema["type"]
    if stype == "null":
        return
    if stype == "boolean":
        out.append(1 if value else 0)
    elif stype in ("int", "long"):
        out += _zigzag_encode(int(value))
    elif stype == "float":
        out += struct.pack("<f", value)
    elif stype == "double":
        out += struct.pack("<d", value)
    elif stype in ("string", "bytes"):
        raw = value.encode("utf-8") if stype == "string" else value
        out += _zigzag_encode(len(raw)) + raw
    elif stype == "record":
        for field in schema["fields"]:
            _write_value(field["type"], value[field["name"]], out)
    else:
        raise ValueError(f"Avro type {stype!r} unsupported (see module doc)")


def _read_value(schema, data: bytes, pos: int):
    import struct

    if isinstance(schema, list):  # union
        idx, pos = _zigzag_decode(data, pos)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union branch {idx} outside the {len(schema)}-way union")
        return _read_value(schema[idx], data, pos)
    stype = schema if isinstance(schema, str) else schema["type"]
    if stype == "null":
        return None, pos
    if stype == "boolean":
        if data[pos] not in (0, 1):
            raise ValueError(f"boolean byte {data[pos]} at {pos}")
        return bool(data[pos]), pos + 1
    if stype in ("int", "long"):
        return _zigzag_decode(data, pos)
    if stype == "float":
        return struct.unpack("<f", data[pos : pos + 4])[0], pos + 4
    if stype == "double":
        return struct.unpack("<d", data[pos : pos + 8])[0], pos + 8
    if stype in ("string", "bytes"):
        n, pos = _zigzag_decode(data, pos)
        if n < 0 or pos + n > len(data):
            raise ValueError(f"string/bytes length {n} overruns the block")
        raw = data[pos : pos + n]
        return (raw.decode("utf-8") if stype == "string" else raw), pos + n
    if stype == "record":
        rec = {}
        for field in schema["fields"]:
            rec[field["name"]], pos = _read_value(field["type"], data, pos)
        return rec, pos
    raise ValueError(f"Avro type {stype!r} unsupported (see module doc)")


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def encode_avro(
    records: list[dict],
    schema: dict,
    codec: str = "null",
    sync: bytes | None = None,
    records_per_block: int = 8,
) -> bytes:
    """Serialize records as a real Object Container File. ``sync``
    defaults to a deterministic marker derived from the schema+count
    (byte-stable synthesis; real writers randomize)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"codec {codec!r} unsupported (null/deflate)")
    if sync is None:
        sync = hashlib.md5(
            json.dumps(schema, sort_keys=True).encode() + str(len(records)).encode()
        ).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    meta = {
        "avro.schema": json.dumps(schema, sort_keys=True).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    out = bytearray(_MAGIC)
    out += _zigzag_encode(len(meta))
    for k in sorted(meta):
        kb = k.encode("utf-8")
        out += _zigzag_encode(len(kb)) + kb
        out += _zigzag_encode(len(meta[k])) + meta[k]
    out += _zigzag_encode(0)  # map terminator
    out += sync
    for i in range(0, max(len(records), 1), records_per_block):
        chunk = records[i : i + records_per_block]
        if not chunk:
            break
        body = bytearray()
        for rec in chunk:
            _write_value(schema, rec, body)
        data = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = c.compress(data) + c.flush()
        out += _zigzag_encode(len(chunk))
        out += _zigzag_encode(len(data))
        out += data
        out += sync
    return bytes(out)


def parse_avro(payload: bytes) -> dict:
    """Walk an Object Container File: magic, metadata map, schema JSON,
    codec gate, count/size-framed blocks with per-block sync-marker
    verification and full record decode. Returns ``{"schema", "codec",
    "records", "n_blocks"}``."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an Avro object container (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(payload, pos)
        if count == 0:
            break
        if count < 0:  # negative count form: abs count + byte size
            count = -count
            _, pos = _zigzag_decode(payload, pos)
        for _ in range(count):
            klen, pos = _zigzag_decode(payload, pos)
            key = payload[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen, pos = _zigzag_decode(payload, pos)
            meta[key] = payload[pos : pos + vlen]
            pos += vlen
    if "avro.schema" not in meta:
        raise ValueError("container metadata missing avro.schema")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec not in ("null", "deflate"):
        raise ValueError(f"codec {codec!r} unsupported (null/deflate)")
    sync = payload[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("truncated header sync marker")
    pos += 16
    records: list[dict] = []
    n_blocks = 0
    while pos < len(payload):
        count, pos = _zigzag_decode(payload, pos)
        size, pos = _zigzag_decode(payload, pos)
        if count <= 0 or size < 0:
            raise ValueError(f"block with count {count} / size {size}")
        data = payload[pos : pos + size]
        if len(data) != size:
            raise ValueError(f"block truncated ({len(data)}/{size} bytes)")
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("block sync marker mismatch (corrupt or foreign block)")
        pos += 16
        if codec == "deflate":
            d = zlib.decompressobj(wbits=-15)
            data = d.decompress(data) + d.flush()
        bpos = 0
        for _ in range(count):
            rec, bpos = _read_value(schema, data, bpos)
            records.append(rec)
        if bpos != len(data):
            raise ValueError(
                f"block declares {count} records but {len(data) - bpos} "
                "bytes remain"
            )
        n_blocks += 1
    return {"schema": schema, "codec": codec, "records": records, "n_blocks": n_blocks}


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------

#: the synthesis record shape — a union field so branch framing is
#: exercised on every corpus
DOC_AVRO_SCHEMA = {
    "type": "record",
    "name": "doc_chunk",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "seq", "type": "int"},
        {"name": "chunk", "type": "string"},
        {"name": "lang", "type": ["null", "string"]},
    ],
}

CHUNK_CHARS = 25

AVRO_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_records", LongType(), False),
        StructField("n_blocks", LongType(), False),
        StructField("codec", StringType(), False),
        StructField("text_out", StringType(), True),
        StructField("n_null_langs", LongType(), False),
    ]
)


def synth_avro(doc_id: int, text: str, lang: str) -> bytes:
    """One container per document: the text split into 25-char chunk
    records (min 1), lang as a union that takes the null branch every
    third record, deflate codec for odd doc_ids, 8 records per block."""
    chunks = [text[i : i + CHUNK_CHARS] for i in range(0, len(text), CHUNK_CHARS)] or [
        ""
    ]
    records = [
        {
            "doc_id": doc_id,
            "seq": i,
            "chunk": c,
            "lang": None if (doc_id + i) % 3 == 0 else lang,
        }
        for i, c in enumerate(chunks)
    ]
    return encode_avro(
        records, DOC_AVRO_SCHEMA, codec="deflate" if doc_id % 2 else "null"
    )


def with_avro_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t, lg: synth_avro(int(i), t, lg),
        "application/avro",
        cols=("doc_id", text_col, "lang"),
    )


def extract_avro_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode every container (full record decode, per-block sync
    verification) and reassemble the text in seq order — one Arrow
    map pass."""

    def rows(doc_id, payload):
        p = parse_avro(payload)
        recs = sorted(p["records"], key=lambda r: r["seq"])
        if any(r["doc_id"] != doc_id for r in recs):
            raise ValueError(f"container {doc_id}: foreign doc_id inside")
        yield (
            int(doc_id),
            len(recs),
            p["n_blocks"],
            p["codec"],
            "".join(r["chunk"] for r in recs),
            sum(1 for r in recs if r["lang"] is None),
        )

    return map_payload(df, AVRO_DOC_SCHEMA, rows, id_col)
