"""Snappy codec (raw block + framing format) — dependency-free.

The other half of the data-lake compression pair next to LZ4
(sources/lz4frame.py): Parquet pages, Kafka message sets and .sz corpus
shards ship Snappy. Implements the REAL public formats:

- raw Snappy block format (github.com/google/snappy format_description):
  varint uncompressed-length preamble, tag-byte elements — literals
  (with 60..62 extended length bytes), copy-1 (3-bit length, 11-bit
  offset packed into the tag), copy-2 (16-bit offset), copy-4 — and
  overlap-correct copy semantics. The encoder is a real greedy
  hash-table compressor emitting copy-2 elements.
- Snappy framing format (framing_format.txt): the sNaPpY stream
  identifier chunk, compressed (0x00) and uncompressed (0x01) data
  chunks with MASKED CRC-32C of the uncompressed data, skippable
  padding (0xfe), the 65536-byte chunk bound, and the
  reserved-unskippable gate.
- CRC-32C (Castagnoli), table-driven, validated against the published
  check value crc32c("123456789") = 0xE3069283; the frame mask is
  ((crc >> 15) | (crc << 17)) + 0xa282ead8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.bitio import uvarint_decode, uvarint_encode
from pipeline_mf_etl_spark.crc import crc_table, crc_update
from pipeline_mf_etl_spark.payload import content_digest, map_payload, synth_payload

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli) — reflected polynomial 0x1EDC6F41
# ---------------------------------------------------------------------------

_CRC32C = crc_table(0x1EDC6F41, 32, reflected=True)


def crc32c(data: bytes) -> int:
    return crc_update(_CRC32C, 0xFFFFFFFF, data) ^ 0xFFFFFFFF


def _mask_crc(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# raw block format
# ---------------------------------------------------------------------------


def _emit_literal(out: bytearray, lits: bytes) -> None:
    n = len(lits)
    if n == 0:
        return
    if n <= 60:
        out.append((n - 1) << 2)
    elif n <= 0x100:
        out.append(60 << 2)
        out.append(n - 1)
    else:  # our 64 KiB chunk bound needs at most 2 length bytes
        out.append(61 << 2)
        out += (n - 1).to_bytes(2, "little")
    out += lits


def snappy_compress(src: bytes) -> bytes:
    """Greedy hash-table Snappy compressor: copy-2 elements (16-bit
    offsets, lengths 4..64 per the format's copy-2 length field)."""
    n = len(src)
    out = bytearray(uvarint_encode(n))
    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    while i + 4 <= n:
        key = src[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 65535 or src[cand : cand + 4] != key:
            i += 1
            continue
        mlen = 4
        while i + mlen < n and src[cand + mlen] == src[i + mlen] and mlen < 64:
            mlen += 1
        _emit_literal(out, src[anchor:i])
        out.append(((mlen - 1) << 2) | 0b10)  # copy-2 tag
        out += (i - cand).to_bytes(2, "little")
        i += mlen
        anchor = i
    _emit_literal(out, src[anchor:])
    return bytes(out)


def snappy_decompress(block: bytes) -> bytes:
    expected, pos = uvarint_decode(block, 0, 5)
    out = bytearray()
    n = len(block)
    while pos < n:
        tag = block[pos]
        pos += 1
        kind = tag & 0b11
        if kind == 0b00:  # literal
            ln = tag >> 2
            if ln >= 60:
                nb = ln - 59
                if pos + nb > n:
                    raise ValueError("snappy literal length runs off the block")
                ln = int.from_bytes(block[pos : pos + nb], "little")
                pos += nb
            ln += 1
            lits = block[pos : pos + ln]
            if len(lits) != ln:
                raise ValueError("snappy literals run off the block")
            out += lits
            pos += ln
            continue
        if kind == 0b01:  # copy-1: 3-bit len, 11-bit offset
            ln = ((tag >> 2) & 0b111) + 4
            if pos >= n:
                raise ValueError("snappy copy-1 offset runs off the block")
            off = ((tag >> 5) << 8) | block[pos]
            pos += 1
        elif kind == 0b10:  # copy-2
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("snappy copy-2 offset runs off the block")
            off = int.from_bytes(block[pos : pos + 2], "little")
            pos += 2
        else:  # copy-4
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("snappy copy-4 offset runs off the block")
            off = int.from_bytes(block[pos : pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError(f"snappy copy offset {off} out of range")
        if off >= ln:
            start = len(out) - off
            out += out[start : start + ln]
        else:  # overlapping copy
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != expected:
        raise ValueError(
            f"snappy block decoded to {len(out)} of {expected} declared bytes"
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# framing format
# ---------------------------------------------------------------------------

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_MAX_CHUNK = 65536


def encode_snappy_frame(
    content: bytes,
    chunk_size: int = 1024,
    with_padding: bool = False,
    force_uncompressed: bool = False,
) -> bytes:
    if chunk_size > _MAX_CHUNK:
        raise ValueError("framing format caps chunks at 65536 bytes")
    out = bytearray(_STREAM_ID)
    if with_padding:
        out += b"\xfe\x04\x00\x00\x00\x00\x00\x00"  # 4-byte padding chunk
    for lo in range(0, len(content), chunk_size):
        chunk = content[lo : lo + chunk_size]
        crc = _mask_crc(crc32c(chunk)).to_bytes(4, "little")
        comp = snappy_compress(chunk)
        if force_uncompressed or len(comp) >= len(chunk):
            body = crc + chunk
            out.append(0x01)
        else:
            body = crc + comp
            out.append(0x00)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def decode_snappy_frame(payload: bytes) -> dict:
    """Decode one framed Snappy stream, verifying the stream identifier
    and every chunk's masked CRC-32C. Skippable chunks are skipped;
    reserved unskippable chunk types gate loudly."""
    if payload[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("not a framed snappy stream (bad sNaPpY identifier)")
    pos = len(_STREAM_ID)
    content = bytearray()
    n_chunks = 0
    n_uncompressed = 0
    n_skipped = 0
    while pos < len(payload):
        ctype = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "little")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) != size:
            raise ValueError(f"snappy chunk 0x{ctype:02x} overruns the stream")
        pos += 4 + size
        if ctype in (0x00, 0x01):
            crc = int.from_bytes(body[:4], "little")
            data = body[4:] if ctype == 0x01 else snappy_decompress(body[4:])
            if len(data) > _MAX_CHUNK:
                raise ValueError("snappy chunk exceeds the 65536-byte bound")
            if crc != _mask_crc(crc32c(data)):
                raise ValueError(f"snappy chunk {n_chunks} CRC-32C mismatch")
            content += data
            n_chunks += 1
            n_uncompressed += int(ctype == 0x01)
        elif ctype == 0xFF:
            if body != b"sNaPpY":
                raise ValueError("malformed mid-stream identifier chunk")
        elif 0x80 <= ctype <= 0xFD or ctype == 0xFE:
            n_skipped += 1  # skippable (incl. padding)
        else:
            raise ValueError(
                f"reserved unskippable snappy chunk type 0x{ctype:02x}"
            )
    return {
        "content": bytes(content),
        "n_chunks": n_chunks,
        "n_uncompressed_chunks": n_uncompressed,
        "n_skipped_chunks": n_skipped,
    }


# ---------------------------------------------------------------------------
# Spark layer — same synthesis contract as the LZ4 leg: content is
# ``text\n`` x3 (real in-chunk matches), chunking at 1024 bytes, the
# padding chunk and the forced-uncompressed path cycling by doc_id
# ---------------------------------------------------------------------------

SNAPPY_REPEATS = 3
SNAPPY_CHUNK_SIZE = 1024

SNAPPY_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_chunks", LongType(), False),
        StructField("n_uncompressed_chunks", LongType(), False),
        StructField("n_skipped_chunks", LongType(), False),
        StructField("content_size", LongType(), False),
        StructField("content_md5", StringType(), False),
        StructField("text_out", StringType(), False),
        StructField("forced_raw", BooleanType(), False),
    ]
)


def with_snappy_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    def encode(i, t):
        return encode_snappy_frame(
            ((t + "\n") * SNAPPY_REPEATS).encode("utf-8"),
            chunk_size=SNAPPY_CHUNK_SIZE,
            with_padding=int(i) % 7 == 0,
            force_uncompressed=int(i) % 5 == 0,
        )

    return synth_payload(
        df, encode, "application/x-snappy-framed", cols=("doc_id", text_col)
    )


def extract_snappy_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each framed stream through the CRC-verified path and emit
    chunk accounting + content integrity. Map-only Arrow pass.
    n_uncompressed_chunks is a compressor property SQL cannot replay —
    the registered query (c6) excludes it and tests/test_snappy.py
    asserts it instead (forced docs: all raw; unforced: the x3
    repetition compresses the full-size chunks). forced_raw is DERIVED
    from the decoded stream accounting (every data chunk took the
    uncompressed path), not recomputed from the id — so the column
    certifies the decode, matching the oracle's doc_id arithmetic only
    because the synthesis forces exactly those docs raw (and the x3
    repetition makes every unforced doc compress at least one chunk)."""

    def rows(doc_id, payload):
        out = decode_snappy_frame(payload)
        yield (
            int(doc_id),
            out["n_chunks"],
            out["n_uncompressed_chunks"],
            out["n_skipped_chunks"],
            *content_digest(out["content"]),
            out["n_chunks"] > 0
            and out["n_uncompressed_chunks"] == out["n_chunks"],
        )

    return map_payload(df, SNAPPY_DOC_SCHEMA, rows, id_col)
