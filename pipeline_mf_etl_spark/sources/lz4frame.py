"""LZ4 frame codec — dependency-free encode + decode.

The default compression of the modern data-lake interchange stack
(Parquet pages, Kafka batches, .jsonl.lz4 corpus shards). Reference
parity: the manifest classifier routes compressed shard containers
(/root/reference/src/mf_etl/ingest/manifest.py); gzip/zip/avro are
covered by c1/c2/c4 and this module adds the LZ4 leg (c5). Implements
the REAL public formats:

- LZ4 block format (lz4.github.io/lz4/lz4_Block_format.html): token
  nibbles, 255-byte length continuations, little-endian 2-byte match
  offsets, overlap-capable match copies, the end-of-block rules (last
  sequence is literals-only, last 5 bytes literal, matches start >= 12
  bytes from the end). The encoder is a real greedy hash-chain
  compressor, not a literal-only shell.
- LZ4 frame format (..._Frame_format.html): magic 0x184D2204, FLG/BD
  descriptor with version bits, header checksum byte ((xxh32 >> 8) &
  0xFF), optional content size, per-block uncompressed-bit sizing,
  optional xxh32 block checksums, EndMark, optional xxh32 content
  checksum.
- xxHash32 (github.com/Cyan4973/xxHash spec) for all three checksum
  sites.

Decodes both block-independent and block-LINKED (B.Indep = 0) frames —
the latter seeds each block with the 64 KiB history window, matching
liblz4's frame-compressor default (what Arrow IPC body compression
emits). Loud gates: dictionaries (DictID bit), reserved-bit
violations, every checksum/size mismatch.
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

from pipeline_mf_etl_spark.payload import content_digest, map_payload, synth_payload

LZ4_MAGIC = 0x184D2204

_P1, _P2, _P3, _P4, _P5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 per the published spec (one-shot)."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while i <= n - 16:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 4], "little") * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl((v2 + int.from_bytes(data[i + 4 : i + 8], "little") * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl((v3 + int.from_bytes(data[i + 8 : i + 12], "little") * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl((v4 + int.from_bytes(data[i + 12 : i + 16], "little") * _P2) & _M32, 13) * _P1) & _M32
            i += 16
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i <= n - 4:
        h = (_rotl((h + int.from_bytes(data[i : i + 4], "little") * _P3) & _M32, 17) * _P4) & _M32
        i += 4
    while i < n:
        h = (_rotl((h + data[i] * _P5) & _M32, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


# ---------------------------------------------------------------------------
# block format
# ---------------------------------------------------------------------------


def _emit_length(out: bytearray, n: int) -> None:
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)


def lz4_block_compress(src: bytes) -> bytes:
    """Greedy hash-table LZ4 block compressor honoring the end-of-block
    rules: matches start >= 12 bytes before the end, never cover the
    last 5 bytes, and the final sequence is literals-only."""
    n = len(src)
    out = bytearray()
    if n == 0:
        out.append(0)  # single literals-only token of length 0
        return bytes(out)
    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    mflimit = n - 12
    while i < mflimit:
        key = src[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 65535 or src[cand : cand + 4] != key:
            i += 1
            continue
        mlen = 4
        while i + mlen < n - 5 and src[cand + mlen] == src[i + mlen]:
            mlen += 1
        lits = src[anchor:i]
        ll, ml = len(lits), mlen - 4
        out.append((min(ll, 15) << 4) | min(ml, 15))
        if ll >= 15:
            _emit_length(out, ll - 15)
        out += lits
        out += (i - cand).to_bytes(2, "little")
        if ml >= 15:
            _emit_length(out, ml - 15)
        i += mlen
        anchor = i
    lits = src[anchor:]
    ll = len(lits)
    out.append(min(ll, 15) << 4)
    if ll >= 15:
        _emit_length(out, ll - 15)
    out += lits
    return bytes(out)


def lz4_block_decompress(block: bytes, max_size: int, prefix: bytes = b"") -> bytes:
    """Full LZ4 block decode with overlap-correct match copies and loud
    bounds checks; ``max_size`` caps output (frame block-max rule).
    ``prefix`` is the linked-mode history window: matches may reach
    back into it (up to the spec's 64 KiB), and only the NEW bytes are
    returned."""
    out = bytearray(prefix)
    plen = len(prefix)
    i = 0
    n = len(block)
    while True:
        if i >= n:
            raise ValueError("LZ4 block truncated (missing token)")
        token = block[i]
        i += 1
        ll = token >> 4
        if ll == 15:
            while True:
                if i >= n:
                    raise ValueError("LZ4 literal length runs off the block")
                b = block[i]
                i += 1
                ll += b
                if b != 255:
                    break
        lits = block[i : i + ll]
        if len(lits) != ll:
            raise ValueError("LZ4 literals run off the block")
        out += lits
        i += ll
        if i == n:
            break  # last sequence: literals only, no offset
        if len(out) - plen > max_size:
            raise ValueError("LZ4 block exceeds the frame's block max size")
        offset = int.from_bytes(block[i : i + 2], "little")
        i += 2
        if offset == 0 or offset > len(out):
            raise ValueError(f"LZ4 match offset {offset} out of range")
        ml = (token & 0xF) + 4
        if ml == 19:
            while True:
                if i >= n:
                    raise ValueError("LZ4 match length runs off the block")
                b = block[i]
                i += 1
                ml += b
                if b != 255:
                    break
        if offset >= ml:
            start = len(out) - offset
            out += out[start : start + ml]
        else:  # overlapping copy: byte-at-a-time semantics
            for _ in range(ml):
                out.append(out[-offset])
    if len(out) - plen > max_size:
        raise ValueError("LZ4 block exceeds the frame's block max size")
    return bytes(out[plen:])


# ---------------------------------------------------------------------------
# frame format
# ---------------------------------------------------------------------------

#: BD block-max-size code 4 = 64 KiB (blocks may be any size <= max)
_BD_64KB = 0x40
_BLOCK_MAX = 64 * 1024


def encode_lz4_frame(
    content: bytes,
    block_size: int = 1024,
    block_checksum: bool = False,
    content_checksum: bool = True,
    with_content_size: bool = True,
) -> bytes:
    flg = 0x40 | (1 << 5)  # version 01 + block independence
    if block_checksum:
        flg |= 1 << 4
    if with_content_size:
        flg |= 1 << 3
    if content_checksum:
        flg |= 1 << 2
    desc = bytes([flg, _BD_64KB])
    if with_content_size:
        desc += len(content).to_bytes(8, "little")
    out = bytearray(LZ4_MAGIC.to_bytes(4, "little"))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for lo in range(0, len(content), block_size):
        chunk = content[lo : lo + block_size]
        comp = lz4_block_compress(chunk)
        if len(comp) >= len(chunk):  # incompressible: store raw
            out += (len(chunk) | 0x80000000).to_bytes(4, "little")
            bdata = chunk
        else:
            out += len(comp).to_bytes(4, "little")
            bdata = comp
        out += bdata
        if block_checksum:
            out += xxh32(bdata).to_bytes(4, "little")
    out += (0).to_bytes(4, "little")  # EndMark
    if content_checksum:
        out += xxh32(content).to_bytes(4, "little")
    return bytes(out)


def decode_lz4_frame(payload: bytes) -> dict:
    """Decode one LZ4 frame, verifying the header checksum, every block
    checksum, the declared content size and the content checksum.
    Returns the content plus frame accounting."""
    if int.from_bytes(payload[:4], "little") != LZ4_MAGIC:
        raise ValueError("not an LZ4 frame (bad magic)")
    pos = 4
    flg, bd = payload[pos], payload[pos + 1]
    if (flg >> 6) != 0b01:
        raise ValueError(f"LZ4 frame version {flg >> 6} unsupported (need 01)")
    if flg & 0b10 or bd & 0x8F:
        raise ValueError("LZ4 reserved bits set")
    if flg & 1:
        raise NotImplementedError("LZ4 dictionaries (DictID) not supported")
    # B.Indep=0 (block-LINKED) frames: each block's matches may reach
    # up to 64 KiB into previously decoded content — what liblz4's
    # frame compressor (and so Arrow IPC body compression) emits by
    # default. Decoded by seeding each block with the history window.
    linked = not flg & (1 << 5)
    has_bsum = bool(flg & (1 << 4))
    has_csize = bool(flg & (1 << 3))
    has_csum = bool(flg & (1 << 2))
    bmax_code = (bd >> 4) & 0x7
    if bmax_code < 4:
        raise ValueError(f"LZ4 block max-size code {bmax_code} reserved")
    bmax = 1 << (8 + 2 * bmax_code)
    desc_end = pos + 2 + (8 if has_csize else 0)
    desc = payload[pos:desc_end]
    declared = int.from_bytes(payload[pos + 2 : pos + 10], "little") if has_csize else None
    hc = payload[desc_end]
    if hc != (xxh32(desc) >> 8) & 0xFF:
        raise ValueError("LZ4 frame header checksum mismatch")
    pos = desc_end + 1

    content = bytearray()
    n_blocks = 0
    n_stored = 0
    while True:
        word = int.from_bytes(payload[pos : pos + 4], "little")
        pos += 4
        if word == 0:  # EndMark
            break
        raw = bool(word & 0x80000000)
        size = word & 0x7FFFFFFF
        bdata = payload[pos : pos + size]
        if len(bdata) != size:
            raise ValueError("LZ4 block overruns the frame")
        pos += size
        if has_bsum:
            bsum = int.from_bytes(payload[pos : pos + 4], "little")
            pos += 4
            if bsum != xxh32(bdata):
                raise ValueError(f"LZ4 block {n_blocks} checksum mismatch")
        if raw:
            content += bdata
        else:
            prefix = bytes(content[-65536:]) if linked else b""
            content += lz4_block_decompress(bdata, bmax, prefix)
        n_blocks += 1
        n_stored += int(raw)
    if has_csum:
        csum = int.from_bytes(payload[pos : pos + 4], "little")
        pos += 4
        if csum != xxh32(bytes(content)):
            raise ValueError("LZ4 content checksum mismatch")
    if declared is not None and declared != len(content):
        raise ValueError(
            f"LZ4 content size {len(content)} != declared {declared}"
        )
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} trailing bytes after LZ4 frame")
    return {
        "content": bytes(content),
        "n_blocks": n_blocks,
        "n_stored_blocks": n_stored,
        "had_block_checksums": has_bsum,
        "had_content_checksum": has_csum,
        "declared_size": declared,
    }


# ---------------------------------------------------------------------------
# Spark layer — map-only Arrow synthesis + extraction; the synthesized
# content is `text\n` * 3 (long in-block matches for the compressor)
# and the checksum/size options cycle by doc_id so every frame feature
# carries hash signal
# ---------------------------------------------------------------------------

LZ4_REPEATS = 3
LZ4_BLOCK_SIZE = 1024

LZ4_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_blocks", LongType(), False),
        StructField("n_compressed_blocks", LongType(), False),
        StructField("had_block_checksums", BooleanType(), False),
        StructField("had_content_checksum", BooleanType(), False),
        StructField("content_size", LongType(), False),
        StructField("content_md5", StringType(), False),
        StructField("text_out", StringType(), False),
    ]
)


def synth_lz4_content(text: str) -> bytes:
    return (text + "\n").encode("utf-8") * LZ4_REPEATS


def with_lz4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    def encode(i, t):
        return encode_lz4_frame(
            synth_lz4_content(t),
            block_size=LZ4_BLOCK_SIZE,
            block_checksum=bool(int(i) % 2),
            content_checksum=bool(int(i) % 3),
            with_content_size=True,
        )

    return synth_payload(df, encode, "application/x-lz4", cols=("doc_id", text_col))


def extract_lz4_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each LZ4 frame through the verified path and emit frame
    accounting + content integrity columns. Map-only Arrow pass."""

    def rows(doc_id, payload):
        out = decode_lz4_frame(payload)
        yield (
            int(doc_id),
            out["n_blocks"],
            out["n_blocks"] - out["n_stored_blocks"],
            out["had_block_checksums"],
            out["had_content_checksum"],
            *content_digest(out["content"]),
        )

    return map_payload(df, LZ4_DOC_SCHEMA, rows, id_col)
