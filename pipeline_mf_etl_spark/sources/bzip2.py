"""Dependency-free bzip2 codec — the ``.bz2`` container Wikipedia
multistream dumps ship in (the one real LLM-corpus container the
c-family still lacked after WARC/ZIP/PDF/Avro/LZ4/Snappy/zstd/tar).

Built from public format knowledge only: the bzip2 layout (``BZh``
stream header, 48-bit pi block magic, RLE1 -> BWT -> MTF -> zero-run
RLE2 -> multi-table canonical Huffman, bzip2-variant CRC-32 per block
and combined per stream) as documented in the widely published format
description and observable from CPython's stdlib ``bz2`` (libbzip2),
against which tests/test_bzip2.py cross-validates BOTH directions:
our encoder's output must decode with stdlib bz2, and stdlib output
must decode here (the c7/libzstd pattern).

Multistream layout: a ``.bz2`` file may be many independent complete
streams back to back, each byte-aligned — Wikipedia dumps use exactly
this as their record-grain access primitive (an external index maps
article ranges to stream byte offsets). ``decode_bzip2_stream`` walks
them all and reports the offsets; ``decode_bzip2_at`` decodes ONE
stream from a known offset, which is what a 1000-executor ingest does
per task. Reference analog: ingest/read_txt.py:97-186 (file-grain
decompression feeding the ingest layer); here the grain is the stream.

Everything is loud: bad magic, illegal Huffman geometry, block-CRC or
stream-CRC mismatch, truncated payloads, and the deprecated
``randomized`` block mode all raise — a corrupt shard must never decode
silently (the c1/c5/c6/c7 convention).
"""

from __future__ import annotations

import numpy as np

from pipeline_mf_etl_spark.bitio import MsbReader, MsbWriter, canonical_codes
from pipeline_mf_etl_spark.crc import crc_table, crc_update

_BLOCK_MAGIC = 0x314159265359  # pi
_FOOTER_MAGIC = 0x177245385090  # sqrt(pi)
_MAX_HUF_LEN = 20
_GROUP_SIZE = 50  # symbols per Huffman group selector


# ---------------------------------------------------------------------------
# bzip2 CRC-32: same polynomial as zip (0x04C11DB7) but MSB-first
# (non-reflected), init/final-xor 0xFFFFFFFF
# ---------------------------------------------------------------------------


_CRC32 = crc_table(0x04C11DB7, 32)


def bz2_crc32(data: bytes) -> int:
    return crc_update(_CRC32, 0xFFFFFFFF, data) ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# canonical Huffman (bzip2 flavor: codes assigned in (length, symbol)
# order; decode via the limit/base/perm walk)
# ---------------------------------------------------------------------------


def _huff_decode_table(lens: list[int]):
    min_len, max_len = min(lens), max(lens)
    # Kraft: an over-subscribed length set has no prefix code (codes
    # would overflow their lengths and index past the peek table)
    if sum(1 << (max_len - ln) for ln in lens) > 1 << max_len:
        raise ValueError("bzip2 Huffman code lengths are over-subscribed")
    perm: list[int] = []
    count = [0] * (max_len + 1)
    for length in range(min_len, max_len + 1):
        for s, ln in enumerate(lens):
            if ln == length:
                perm.append(s)
        count[length] = sum(1 for ln in lens if ln == length)
    limit = [0] * (max_len + 1)
    base = [0] * (max_len + 1)
    vec = 0
    seen = 0
    for length in range(min_len, max_len + 1):
        base[length] = vec - seen
        vec += count[length]
        seen += count[length]
        limit[length] = vec - 1
        vec <<= 1
    return min_len, max_len, limit, base, perm, _huff_peek_table(lens)


def _huff_read_symbol(br: MsbReader, tbl) -> int:
    min_len, max_len, limit, base, perm, _peek = tbl
    length = min_len
    v = br.read(min_len)
    while True:
        if v <= limit[length]:
            return perm[v - base[length]]
        if length >= max_len:
            raise ValueError("bzip2 Huffman code outside table")
        v = (v << 1) | br.read(1)
        length += 1


_PEEK_BITS = 11  # 2048-entry (symbol, length) LUT per table


def _huff_peek_table(lens: list[int]) -> list[int]:
    """(symbol << 5) | length packed LUT over every _PEEK_BITS-bit
    prefix; 0 marks codes longer than the peek width (walk fallback).
    Built once per Huffman table: one list index replaces the per-bit
    limit/base walk on the hot path."""
    lut = [0] * (1 << _PEEK_BITS)
    codes = canonical_codes(sorted(enumerate(lens), key=lambda p: p[1]))
    for sym, (code, length) in codes.items():
        if length > _PEEK_BITS:
            continue
        packed = (sym << 5) | length
        lo = code << (_PEEK_BITS - length)
        for e in range(lo, lo + (1 << (_PEEK_BITS - length))):
            lut[e] = packed
    return lut


def _huff_lengths(freq: list[int]) -> list[int]:
    """Depth-capped Huffman lengths (libbzip2 strategy: halve the
    frequencies and rebuild until the tree fits 20 bits)."""
    import heapq

    f = [max(1, x) for x in freq]
    while True:
        if len(f) == 1:
            return [1]
        heap = [(w, i, None) for i, w in enumerate(f)]
        heapq.heapify(heap)
        uid = len(f)
        children: dict[int, tuple] = {}
        while len(heap) > 1:
            a = heapq.heappop(heap)
            b = heapq.heappop(heap)
            children[uid] = (a[1], b[1])
            heapq.heappush(heap, (a[0] + b[0], uid, None))
            uid += 1
        lens = [0] * len(f)
        stack = [(heap[0][1], 0)]
        while stack:
            node, d = stack.pop()
            if node in children:
                left, right = children[node]
                stack.append((left, d + 1))
                stack.append((right, d + 1))
            else:
                lens[node] = max(d, 1)
        if max(lens) <= _MAX_HUF_LEN:
            return lens
        f = [max(1, x >> 1) for x in f]


def _local_bits(data: bytes, pos: int) -> tuple[int, int, int]:
    """(next byte index, accumulator, bit count) of a local MSB-first
    bit buffer positioned at bit ``pos`` of ``data``."""
    byte, off = pos >> 3, pos & 7
    if off:
        return byte + 1, data[byte] & (0xFF >> off), 8 - off
    return byte, 0, 0


# ---------------------------------------------------------------------------
# the block pipeline stages
# ---------------------------------------------------------------------------


def _rle1_encode(data: bytes) -> bytes:
    """Stage 1: runs of 4..255 identical bytes become 4 bytes + count
    (count capped at 251 extra, the conservative libbzip2 bound).
    Chunk-at-a-time like the decoder: numpy finds 4-run starts, literal
    spans between them copy wholesale."""
    n = len(data)
    if n < 4:
        return data
    a = np.frombuffer(data, dtype=np.uint8)
    cand = np.flatnonzero(
        (a[:-3] == a[1:-2]) & (a[1:-2] == a[2:-1]) & (a[2:-1] == a[3:])
    )
    if cand.size == 0:
        return data
    out = bytearray()
    i = 0
    for c in cand:
        if c < i:
            continue
        c = int(c)
        out += data[i : c + 4]
        b = data[c]
        j = c + 4
        limit = min(n, c + 255)  # 4 + count <= 255 per escape
        while j < limit and data[j] == b:
            j += 1
        out.append(j - c - 4)
        i = j
    out += data[i:]
    return bytes(out)


def _rle1_decode(data: bytes) -> bytes:
    """Inverse RLE1, chunk-at-a-time: numpy finds every 4-equal-byte
    run start, and the decoder copies the literal span up to each run
    wholesale instead of stepping per byte (runs are rare in text, so
    this is ~memcpy speed; the count byte may equal the run byte, so
    candidates inside a consumed span are skipped by position)."""
    n = len(data)
    if n < 4:
        return data
    a = np.frombuffer(data, dtype=np.uint8)
    cand = np.flatnonzero(
        (a[:-3] == a[1:-2]) & (a[1:-2] == a[2:-1]) & (a[2:-1] == a[3:])
    )
    if cand.size == 0:
        return data
    out = bytearray()
    i = 0
    for c in cand:
        if c < i:
            continue
        c = int(c)
        out += data[i : c + 4]  # literal span incl. the 4 run bytes
        if c + 4 >= n:
            raise ValueError("bzip2 RLE1 run truncated (missing count)")
        out += bytes([data[c]]) * data[c + 4]
        i = c + 5
    out += data[i:]
    return bytes(out)


def _bwt(data: bytes) -> tuple[bytes, int]:
    """Burrows-Wheeler transform over CYCLIC rotations (bzip2 sorts
    rotations, not suffixes) via numpy prefix doubling — O(n log n),
    no quadratic rotation comparisons."""
    n = len(data)
    if n == 0:
        return b"", 0
    arr = np.frombuffer(data, dtype=np.uint8)
    rank = arr.astype(np.int64)
    idx = np.arange(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = rank[(idx + k) % n]
        order = np.lexsort((key2, rank))
        pairs_a = rank[order]
        pairs_b = key2[order]
        new_rank = np.empty(n, dtype=np.int64)
        diff = (pairs_a[1:] != pairs_a[:-1]) | (pairs_b[1:] != pairs_b[:-1])
        new_rank[order] = np.concatenate(([0], np.cumsum(diff)))
        rank = new_rank
        if rank[order[-1]] == n - 1:
            break
        k <<= 1
    order = np.argsort(rank, kind="stable")
    last = arr[(order - 1) % n]
    orig_ptr = int(np.nonzero(order == 0)[0][0])
    return last.tobytes(), orig_ptr


def _ibwt(last: bytes, orig_ptr: int) -> bytes:
    n = len(last)
    if n == 0:
        return b""
    if not 0 <= orig_ptr < n:
        raise ValueError(f"bzip2 origPtr {orig_ptr} outside block of {n}")
    arr = np.frombuffer(last, dtype=np.uint8)
    # tvec[i] = row in the last column reached from sorted-row i; the
    # stable argsort of the last column IS the first column's LF map
    tvec = np.argsort(arr, kind="stable")
    out = bytearray(n)
    row = int(tvec[orig_ptr])
    for i in range(n):
        out[i] = arr[row]
        row = int(tvec[row])
    return bytes(out)


def _mtf_rle2_encode(bwt: bytes, used: list[int]) -> list[int]:
    """Stages 3+4: move-to-front over the used-byte alphabet, with
    zero runs emitted in bijective base 2 (RUNA=0, RUNB=1); symbol s
    (s>=1 MTF index) becomes s+1; EOB = len(used)+1 appended."""
    mtf = bytearray(used)
    syms: list[int] = []
    run = 0
    index = mtf.index
    append = syms.append
    insert = mtf.insert
    for b in bwt:
        j = index(b)
        if j == 0:
            run += 1
            continue
        if run:  # zero-run flush, bijective base 2 (0=RUNA, 1=RUNB)
            r = run
            while r > 0:
                r -= 1
                append(r & 1)
                r >>= 1
            run = 0
        append(j + 1)
        del mtf[j]
        insert(0, b)
    if run:
        r = run
        while r > 0:
            r -= 1
            append(r & 1)
            r >>= 1
    append(len(used) + 1)  # EOB
    return syms


# ---------------------------------------------------------------------------
# block decode
# ---------------------------------------------------------------------------


def _decode_block(br: MsbReader, level: int) -> tuple[bytes, int]:
    # libbzip2's nblockMAX: the PRE-BWT block (the MTF/RLE2-decoded BWT
    # string) is capped at level*100_000 bytes. The RLE1-decoded output
    # may legally be up to ~51x larger (4-byte run + count byte -> 255
    # bytes), so the cap must be enforced HERE, not on the block's
    # final output: a post-RLE1 cap rejects valid repetitive streams
    # like bz2.compress(b"\x00" * 2_000_000, 1).
    block_cap = level * 100_000
    stored_crc = br.read(32)
    if br.read(1):
        raise NotImplementedError(
            "bzip2 randomized blocks are deprecated (never emitted since "
            "0.9.5) and not supported"
        )
    orig_ptr = br.read(24)
    # symbol map: 16-bit group map, then 16 bits per used group
    group_map = br.read(16)
    used: list[int] = []
    for g in range(16):
        if group_map & (0x8000 >> g):
            bits = br.read(16)
            for j in range(16):
                if bits & (0x8000 >> j):
                    used.append(g * 16 + j)
    if not used:
        raise ValueError("bzip2 block with empty symbol map")
    alpha = len(used) + 2
    n_groups = br.read(3)
    if not 2 <= n_groups <= 6:
        raise ValueError(f"bzip2 nGroups {n_groups} outside 2..6")
    n_selectors = br.read(15)
    if n_selectors == 0:
        raise ValueError("bzip2 block with zero selectors")
    mtf_g = list(range(n_groups))
    selectors: list[int] = []
    for _ in range(n_selectors):
        j = 0
        while br.read(1):
            j += 1
            if j >= n_groups:
                raise ValueError("bzip2 selector overruns group count")
        g = mtf_g.pop(j)
        mtf_g.insert(0, g)
        selectors.append(g)
    tables = []
    for _ in range(n_groups):
        ln = br.read(5)
        lens = []
        for _ in range(alpha):
            while br.read(1):
                ln += -1 if br.read(1) else 1
                if not 1 <= ln <= _MAX_HUF_LEN:
                    raise ValueError("bzip2 Huffman length outside 1..20")
            lens.append(ln)
        tables.append(_huff_decode_table(lens))

    # Huffman symbols -> zero-run + MTF decode -> BWT last column
    mtf = bytearray(used)
    bwt = bytearray()
    eob = alpha - 1
    run = 0
    inc = 1
    sel_idx = 0
    count = 0
    lut = None
    tbl = None
    # the hot loop keeps the bit buffer in LOCALS (peek-table index +
    # in-place consume): per-symbol reader method calls were the decode
    # bottleneck. Its semantics are exactly MsbReader.peek/skip
    # (bitio.py is the reference implementation); the reader's bit
    # cursor is synced in and out through ``br.pos``.
    data = br.data
    n_data = len(data)
    pos, acc, nbits = _local_bits(data, br.pos)
    while True:
        if count == 0:
            if sel_idx >= len(selectors):
                raise ValueError("bzip2 selectors exhausted mid-block")
            tbl = tables[selectors[sel_idx]]
            lut = tbl[5]
            sel_idx += 1
            count = _GROUP_SIZE
        count -= 1
        while nbits < _PEEK_BITS and pos < n_data:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        if nbits >= _PEEK_BITS:
            idx = (acc >> (nbits - _PEEK_BITS)) & 2047
        else:  # end of payload: zero-padded peek
            idx = (acc << (_PEEK_BITS - nbits)) & 2047
        pk = lut[idx]
        if pk:
            ln = pk & 31
            if ln > nbits:
                raise ValueError("bzip2 payload truncated mid-bitstream")
            nbits -= ln
            acc &= (1 << nbits) - 1
            s = pk >> 5
        else:  # code longer than the peek width: limit/base walk
            br.pos = pos * 8 - nbits
            s = _huff_read_symbol(br, tbl)
            pos, acc, nbits = _local_bits(data, br.pos)
        if s <= 1:  # RUNA / RUNB
            run += inc * (s + 1)
            inc <<= 1
            # bound the bijective-base-2 accumulator BEFORE any
            # materialization: ~34 RUNA symbols in a crafted stream
            # would otherwise request a petabyte-scale allocation
            # (a decompression bomb)
            if run + len(bwt) > block_cap:
                raise ValueError(
                    "bzip2 zero-run overflows the block size cap"
                )
            continue
        if run:
            bwt += bytes([mtf[0]]) * run
            run = 0
            inc = 1
        if len(bwt) >= block_cap and s != eob:
            raise ValueError("bzip2 block exceeds its declared level")
        if s == eob:
            br.pos = pos * 8 - nbits
            break
        b = mtf[s - 1]
        del mtf[s - 1]
        mtf.insert(0, b)
        bwt.append(b)

    data = _rle1_decode(_ibwt(bytes(bwt), orig_ptr))
    crc = bz2_crc32(data)
    if crc != stored_crc:
        raise ValueError(
            f"bzip2 block CRC mismatch: stored {stored_crc:#010x}, "
            f"computed {crc:#010x}"
        )
    return data, crc


# ---------------------------------------------------------------------------
# stream decode
# ---------------------------------------------------------------------------


def decode_bzip2_at(payload: bytes, offset: int) -> dict:
    """Decode ONE complete stream starting at a byte offset (the
    multistream access primitive: Wikipedia's index file maps records
    to exactly these offsets). Returns content, level, n_blocks and
    the byte offset just past the stream's footer padding."""
    if payload[offset : offset + 3] != b"BZh":
        raise ValueError(f"bad bzip2 stream magic at offset {offset}")
    if offset + 4 > len(payload):
        raise ValueError(f"bzip2 stream at offset {offset} has no level digit")
    level = payload[offset + 3] - 0x30
    if not 1 <= level <= 9:
        raise ValueError(f"bad bzip2 level digit at offset {offset}")
    br = MsbReader(payload, (offset + 4) * 8)
    content = bytearray()
    stream_crc = 0
    n_blocks = 0
    while True:
        magic = br.read(48)
        if magic == _BLOCK_MAGIC:
            data, blk_crc = _decode_block(br, level)
            stream_crc = (
                ((stream_crc << 1) | (stream_crc >> 31)) & 0xFFFFFFFF
            ) ^ blk_crc
            content += data
            n_blocks += 1
        elif magic == _FOOTER_MAGIC:
            stored = br.read(32)
            if stored != stream_crc:
                raise ValueError(
                    f"bzip2 stream CRC mismatch: stored {stored:#010x}, "
                    f"computed {stream_crc:#010x}"
                )
            break
        else:
            raise ValueError(f"bad bzip2 block magic {magic:#014x}")
    end = (br.pos + 7) // 8  # footer pads to the byte boundary
    return {
        "content": bytes(content),
        "level": level,
        "n_blocks": n_blocks,
        "end": end,
    }


def decode_bzip2_stream(payload: bytes) -> dict:
    """Walk a (possibly multistream) ``.bz2`` payload: every concatenated
    stream fully decoded and CRC-verified, contents concatenated.
    Returns accounting a parallel reader needs — per-stream byte
    offsets (the seek table a Wikipedia-dump index externalizes),
    per-stream levels, and total block count."""
    if not payload:
        raise ValueError("empty bzip2 payload")
    content = bytearray()
    offsets: list[int] = []
    levels: list[int] = []
    n_blocks = 0
    pos = 0
    while pos < len(payload):
        out = decode_bzip2_at(payload, pos)
        offsets.append(pos)
        levels.append(out["level"])
        n_blocks += out["n_blocks"]
        content += out["content"]
        pos = out["end"]
    return {
        "content": bytes(content),
        "n_streams": len(offsets),
        "n_blocks": n_blocks,
        "stream_offsets": offsets,
        "levels": levels,
    }


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _encode_block(bw: MsbWriter, chunk: bytes) -> int:
    """Encode one block from RAW bytes (RLE1 applied here, per block —
    runs never span blocks); returns the block CRC (of the raw bytes,
    as the decoder recomputes it)."""
    crc = bz2_crc32(chunk)
    rle1 = _rle1_encode(chunk)
    last, orig_ptr = _bwt(rle1)
    used = sorted(set(last))
    syms = _mtf_rle2_encode(last, used)
    alpha = len(used) + 2
    freq = [0] * alpha
    for s in syms:
        freq[s] += 1
    lens = _huff_lengths(freq)
    by_sym = canonical_codes(sorted(enumerate(lens), key=lambda p: p[1]))
    codes = [by_sym[s][0] for s in range(len(lens))]  # list: the emission loop indexes it
    n_selectors = (len(syms) + _GROUP_SIZE - 1) // _GROUP_SIZE
    if n_selectors >= 1 << 15:
        raise ValueError("bzip2 block needs too many selectors")

    bw.write(_BLOCK_MAGIC, 48)
    bw.write(crc, 32)
    bw.write(0, 1)  # not randomized
    bw.write(orig_ptr, 24)
    used_set = set(used)
    group_map = 0
    for g in range(16):
        if any(b >> 4 == g for b in used_set):
            group_map |= 0x8000 >> g
    bw.write(group_map, 16)
    for g in range(16):
        if group_map & (0x8000 >> g):
            bits = 0
            for j in range(16):
                if g * 16 + j in used_set:
                    bits |= 0x8000 >> j
            bw.write(bits, 16)
    # two identical tables (nGroups floor is 2), selectors all group 0
    bw.write(2, 3)
    bw.write(n_selectors, 15)
    for _ in range(n_selectors):
        bw.write(0, 1)  # MTF'd selector 0 -> single 0 bit
    for _ in range(2):
        cur = lens[0]
        bw.write(cur, 5)
        for target in lens:
            while cur < target:
                bw.write(0b10, 2)
                cur += 1
            while cur > target:
                bw.write(0b11, 2)
                cur -= 1
            bw.write(0, 1)
    # symbol emission: codes pack into a local int that goes to the
    # writer ~56 bits at a time — a write call per symbol dominated the
    # encode profile
    acc = nacc = 0
    write = bw.write
    for s in syms:
        ln = lens[s]
        acc = (acc << ln) | codes[s]
        nacc += ln
        if nacc >= 56:
            write(acc, nacc)
            acc = nacc = 0
    write(acc, nacc)
    return crc


def encode_bzip2(
    content: bytes, level: int = 1, block_bytes: int | None = None
) -> bytes:
    """Encode one complete bzip2 stream. ``block_bytes`` is the RAW
    bytes per block (blocks are self-delimiting, so any size up to the
    level's buffer is legal — small values give the multi-block
    geometry the synthesis queries exercise); the default fills the
    level's 100k buffer with headroom for RLE1's worst-case 5/4
    expansion."""
    if not 1 <= level <= 9:
        raise ValueError(f"bzip2 level {level} outside 1..9")
    cap = level * 100_000
    if block_bytes is None:
        block_bytes = cap * 4 // 5 - 4
    if block_bytes < 1 or block_bytes * 5 // 4 + 1 > cap:
        raise ValueError(
            f"block_bytes {block_bytes} cannot fit level {level}'s buffer "
            f"after worst-case RLE1 expansion"
        )
    bw = MsbWriter()
    bw.write(int.from_bytes(b"BZh", "big"), 24)
    bw.write(0x30 + level, 8)
    stream_crc = 0
    for lo in range(0, len(content), block_bytes):
        blk_crc = _encode_block(bw, content[lo : lo + block_bytes])
        stream_crc = (
            ((stream_crc << 1) | (stream_crc >> 31)) & 0xFFFFFFFF
        ) ^ blk_crc
    bw.write(_FOOTER_MAGIC, 48)
    bw.write(stream_crc, 32)
    bw.align()
    return bw.getvalue()


def encode_bzip2_multistream(
    chunks: list[bytes], level: int = 1, block_bytes: int | None = None
) -> tuple[bytes, list[int]]:
    """One independent stream per chunk, concatenated — the Wikipedia
    multistream layout. Returns (payload, per-stream byte offsets);
    the offsets are exactly what the external dump index publishes, so
    a reader can hand each stream to a different task."""
    out = bytearray()
    offsets = []
    for chunk in chunks:
        offsets.append(len(out))
        out += encode_bzip2(chunk, level=level, block_bytes=block_bytes)
    return bytes(out), offsets


# ---------------------------------------------------------------------------
# Spark surface (the c6/c7 pattern: map-only Arrow synthesis + decode
# passes; queries/corpus_ingest.py registers the oracle-backed query)
# ---------------------------------------------------------------------------

BZ2_BLOCK_BYTES = 512  # raw bytes per block in the synthesis geometry


def with_bzip2_payload(df, text_col: str = "text"):
    """Attach a multistream bzip2 payload per row: ``2 + doc_id % 2``
    independent streams, each one copy of ``text\\n`` (the Wikipedia
    multistream layout at document grain), level digit cycling
    ``1 + doc_id % 9`` so every header shape carries hash signal.
    Map-only Arrow pass."""
    from pipeline_mf_etl_spark.payload import synth_payload

    def encode(i, t):
        return encode_bzip2_multistream(
            [(t + "\n").encode("utf-8")] * (2 + int(i) % 2),
            level=1 + int(i) % 9,
            block_bytes=BZ2_BLOCK_BYTES,
        )[0]

    return synth_payload(df, encode, "application/x-bzip2", cols=("doc_id", text_col))


def extract_bzip2_documents(df, id_col: str = "doc_id"):
    """Decode each multistream payload through the fully verified walk
    (per-block and per-stream CRCs) and emit stream/block accounting +
    content integrity. Map-only Arrow pass."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pipeline_mf_etl_spark.payload import content_digest, map_payload

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_streams", LongType(), False),
            StructField("n_blocks", LongType(), False),
            StructField("level", LongType(), False),
            StructField("content_size", LongType(), False),
            StructField("content_md5", StringType(), False),
            StructField("text_out", StringType(), False),
        ]
    )

    def rows(doc_id, payload):
        out = decode_bzip2_stream(payload)
        yield (
            int(doc_id),
            out["n_streams"],
            out["n_blocks"],
            out["levels"][0],
            *content_digest(out["content"]),
        )

    return map_payload(df, schema, rows, id_col)
