"""Dependency-free .xz / LZMA2 DECODER — the remaining container big
public text dumps ship in (OSCAR, some Wikipedia mirrors) after the
c-family covered WARC/ZIP/PDF/Avro/LZ4/Snappy/zstd/bzip2/tar.

Built from public format knowledge only: the xz stream layout
(magic, stream flags + CRC32, block headers with varint fields and
filter chains, block padding, per-block integrity check, index,
footer) and the LZMA/LZMA2 compression format (11-bit adaptive
binary range coder, 12-state match machine, lc/lp literal contexts,
pos-slot + reverse-bit-tree distances, LZMA2 chunking with
state/props/dict resets) as published in the xz file-format spec and
the LZMA SDK. CPython's stdlib ``lzma`` (liblzma) is the test oracle:
tests/test_xz.py decodes real liblzma output across presets, checks
and lc/lp/pb settings. Decode-only by design — corpus INGESTION needs
the decode path; synthesis in tests uses stdlib lzma (also
dependency-free), mirroring how sources/warc.py leans on stdlib zlib.

Everything is loud: bad magics, reserved flags, unsupported filters
(only the LZMA2 chain is accepted), CRC32/CRC64/SHA-256 check
mismatches, size mismatches against the index, and truncation all
raise — a corrupt shard must never decode silently.
"""

from __future__ import annotations

import hashlib
import zlib

from pipeline_mf_etl_spark.bitio import uvarint_decode
from pipeline_mf_etl_spark.crc import crc_table, crc_update

_XZ_MAGIC = b"\xfd7zXZ\x00"
_XZ_FOOTER_MAGIC = b"YZ"
_FILTER_LZMA2 = 0x21
_CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}
_CHECK_NAMES = {0x00: "none", 0x01: "crc32", 0x04: "crc64", 0x0A: "sha256"}


# ---------------------------------------------------------------------------
# CRC64-ECMA (reflected, poly 0x42F0E1EBA9EA3693) — xz's default check
# ---------------------------------------------------------------------------


_CRC64 = crc_table(0x42F0E1EBA9EA3693, 64, reflected=True)


def xz_crc64(data: bytes, crc: int = 0) -> int:
    return crc_update(_CRC64, crc ^ 0xFFFFFFFFFFFFFFFF, data) ^ 0xFFFFFFFFFFFFFFFF


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    """xz multibyte integer: LEB128 of at most 9 bytes, no trailing
    zero byte after the first."""
    val, end = uvarint_decode(data, pos, 9)
    if end - pos > 1 and data[end - 1] == 0:
        raise ValueError("xz varint with padding byte")
    return val, end


# ---------------------------------------------------------------------------
# LZMA range decoder + match machine (decode side of the LZMA SDK model)
# ---------------------------------------------------------------------------

_KTOP = 1 << 24
_NUM_STATES = 12
_POS_SLOT_BITS = 6
_ALIGN_BITS = 4
_END_POS_MODEL = 14
_MATCH_MIN = 2


class _RangeDecoder:
    __slots__ = ("data", "pos", "rng", "code")

    def __init__(self, data: bytes, pos: int):
        if data[pos] != 0:
            raise ValueError("LZMA range coder must start with a zero byte")
        self.data = data
        self.rng = 0xFFFFFFFF
        self.code = int.from_bytes(data[pos + 1 : pos + 5], "big")
        self.pos = pos + 5

    def _norm(self) -> None:
        if self.rng < _KTOP:
            if self.pos >= len(self.data):
                raise ValueError("LZMA stream truncated mid-symbol")
            self.rng = (self.rng << 8) & 0xFFFFFFFF
            self.code = ((self.code << 8) | self.data[self.pos]) & 0xFFFFFFFF
            self.pos += 1

    def bit(self, probs: list[int], i: int) -> int:
        p = probs[i]
        bound = (self.rng >> 11) * p
        if self.code < bound:
            self.rng = bound
            probs[i] = p + ((2048 - p) >> 5)
            self._norm()
            return 0
        self.rng -= bound
        self.code -= bound
        probs[i] = p - (p >> 5)
        self._norm()
        return 1

    def tree(self, probs: list[int], nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, m)
        return m - (1 << nbits)

    def rtree(self, probs: list[int], nbits: int) -> int:
        m = 1
        sym = 0
        for i in range(nbits):
            b = self.bit(probs, m)
            m = (m << 1) | b
            sym |= b << i
        return sym

    def direct(self, nbits: int) -> int:
        res = 0
        for _ in range(nbits):
            self.rng >>= 1
            self.code = (self.code - self.rng) & 0xFFFFFFFF
            t = 0 - (self.code >> 31)
            self.code = (self.code + (self.rng & t)) & 0xFFFFFFFF
            if self.code == self.rng:
                raise ValueError("LZMA direct-bits corruption")
            self._norm()
            res = (res << 1) + t + 1
        return res


class _LenDecoder:
    __slots__ = ("choice", "low", "mid", "high")

    def __init__(self):
        self.choice = [1024] * 2
        self.low = [[1024] * 8 for _ in range(16)]
        self.mid = [[1024] * 8 for _ in range(16)]
        self.high = [1024] * 256

    def decode(self, rc: _RangeDecoder, pos_state: int) -> int:
        if not rc.bit(self.choice, 0):
            return rc.tree(self.low[pos_state], 3)
        if not rc.bit(self.choice, 1):
            return 8 + rc.tree(self.mid[pos_state], 3)
        return 16 + rc.tree(self.high, 8)


class _LzmaState:
    """Decoder model state, resettable at LZMA2 chunk boundaries."""

    def __init__(self, lc: int, lp: int, pb: int):
        self.set_props(lc, lp, pb)
        self.reset_state()
        self.reps = [0, 0, 0, 0]

    def set_props(self, lc: int, lp: int, pb: int) -> None:
        if lc + lp > 4 or lc > 8 or lp > 4 or pb > 4:
            raise ValueError(f"unsupported LZMA props lc={lc} lp={lp} pb={pb}")
        self.lc, self.lp, self.pb = lc, lp, pb

    def reset_state(self) -> None:
        self.state = 0
        self.reps = [0, 0, 0, 0]
        self.lit = [[1024] * 0x300 for _ in range(1 << (self.lc + self.lp))]
        self.is_match = [[1024] * 16 for _ in range(_NUM_STATES)]
        self.is_rep = [1024] * _NUM_STATES
        self.is_rep_g0 = [1024] * _NUM_STATES
        self.is_rep_g1 = [1024] * _NUM_STATES
        self.is_rep_g2 = [1024] * _NUM_STATES
        self.is_rep0_long = [[1024] * 16 for _ in range(_NUM_STATES)]
        self.pos_slot = [[1024] * (1 << _POS_SLOT_BITS) for _ in range(4)]
        self.spec_pos = [1024] * 115
        self.align = [1024] * (1 << _ALIGN_BITS)
        self.len_dec = _LenDecoder()
        self.rep_len_dec = _LenDecoder()


def _lzma_decode_chunk(
    rc: _RangeDecoder,
    st: _LzmaState,
    out: bytearray,
    unpack_size: int,
    dict_base: int,
) -> None:
    """Decode exactly ``unpack_size`` bytes into ``out`` (the shared
    dictionary: LZMA2 matches may reach back across chunks).
    ``dict_base`` is the output offset of the last dictionary reset:
    the spec's pos_state/lit_state position and all match-distance
    bounds are relative to it, NOT to the block-global ``len(out)``
    (measured from the block start, a spec-valid mid-block dictionary
    reset decodes garbage)."""
    pb_mask = (1 << st.pb) - 1
    lp_mask = (1 << st.lp) - 1
    lc = st.lc
    end = len(out) + unpack_size
    while len(out) < end:
        dict_pos = len(out) - dict_base
        pos_state = dict_pos & pb_mask
        if not rc.bit(st.is_match[st.state], pos_state):
            prev = out[-1] if dict_pos else 0
            lit_state = ((dict_pos & lp_mask) << lc) | (prev >> (8 - lc))
            probs = st.lit[lit_state]
            if st.state < 7:
                sym = 1
                while sym < 0x100:
                    sym = (sym << 1) | rc.bit(probs, sym)
            else:
                match_byte = out[-st.reps[0] - 1]
                sym = 1
                while sym < 0x100:
                    match_bit = (match_byte >> 7) & 1
                    match_byte = (match_byte << 1) & 0xFF
                    b = rc.bit(probs, ((1 + match_bit) << 8) + sym)
                    sym = (sym << 1) | b
                    if match_bit != b:
                        while sym < 0x100:
                            sym = (sym << 1) | rc.bit(probs, sym)
                        break
            out.append(sym & 0xFF)
            s = st.state
            st.state = 0 if s < 4 else (s - 3 if s < 10 else s - 6)
            continue
        if rc.bit(st.is_rep, st.state):
            # rep match
            if not rc.bit(st.is_rep_g0, st.state):
                if not rc.bit(st.is_rep0_long[st.state], pos_state):
                    # short rep: 1 byte at rep0
                    st.state = 9 if st.state < 7 else 11
                    if st.reps[0] + 1 > len(out) - dict_base:
                        raise ValueError("LZMA rep distance outside dictionary")
                    out.append(out[-st.reps[0] - 1])
                    continue
            else:
                if not rc.bit(st.is_rep_g1, st.state):
                    dist = st.reps[1]
                else:
                    if not rc.bit(st.is_rep_g2, st.state):
                        dist = st.reps[2]
                    else:
                        dist = st.reps[3]
                        st.reps[3] = st.reps[2]
                    st.reps[2] = st.reps[1]
                st.reps[1] = st.reps[0]
                st.reps[0] = dist
            length = _MATCH_MIN + st.rep_len_dec.decode(rc, pos_state)
            st.state = 8 if st.state < 7 else 11
        else:
            # new match
            st.reps[3], st.reps[2], st.reps[1] = st.reps[2], st.reps[1], st.reps[0]
            length = _MATCH_MIN + st.len_dec.decode(rc, pos_state)
            slot = rc.tree(
                st.pos_slot[min(length - _MATCH_MIN, 3)], _POS_SLOT_BITS
            )
            if slot < 4:
                dist = slot
            else:
                nd = (slot >> 1) - 1
                dist = (2 | (slot & 1)) << nd
                if slot < _END_POS_MODEL:
                    # reverse bit-tree over SpecPos[dist - slot - 1 ...]
                    base = dist - slot - 1
                    m = 1
                    for i in range(nd):
                        b = rc.bit(st.spec_pos, base + m)
                        m = (m << 1) | b
                        dist += b << i
                else:
                    dist += rc.direct(nd - _ALIGN_BITS) << _ALIGN_BITS
                    dist += rc.rtree(st.align, _ALIGN_BITS)
            if dist == 0xFFFFFFFF:
                raise ValueError(
                    "LZMA end marker inside a sized LZMA2 chunk"
                )
            st.reps[0] = dist
            st.state = 7 if st.state < 7 else 10
        if st.reps[0] + 1 > len(out) - dict_base:
            raise ValueError("LZMA match distance outside dictionary")
        if len(out) + length > end:
            raise ValueError("LZMA match overruns the declared chunk size")
        d = st.reps[0] + 1
        for _ in range(length):
            out.append(out[-d])


def _lzma2_decode(data: bytes, pos: int, end: int) -> tuple[bytes, int, int]:
    """Decode one LZMA2 chunk sequence; returns (content, end_pos,
    n_chunks). ``end`` bounds the block's compressed bytes."""
    out = bytearray()
    st: _LzmaState | None = None
    need_dict_reset = True
    dict_base = 0  # output offset of the last dictionary reset
    n_chunks = 0
    while True:
        if pos >= end:
            raise ValueError("LZMA2 ran out of data before its end marker")
        control = data[pos]
        pos += 1
        if control == 0x00:
            return bytes(out), pos, n_chunks
        n_chunks += 1
        if control in (0x01, 0x02):
            if control == 0x02 and need_dict_reset:
                raise ValueError(
                    "LZMA2 stream must open with a dictionary reset"
                )
            need_dict_reset = False
            if control == 0x01:  # uncompressed chunk WITH dict reset
                dict_base = len(out)
            size = int.from_bytes(data[pos : pos + 2], "big") + 1
            pos += 2
            if pos + size > end:
                raise ValueError("LZMA2 uncompressed chunk truncated")
            out += data[pos : pos + size]
            pos += size
            if st is not None:
                st.reset_state()  # uncompressed chunk resets the machine
            continue
        if control < 0x80:
            raise ValueError(f"invalid LZMA2 control byte {control:#04x}")
        unpack = ((control & 0x1F) << 16) + int.from_bytes(
            data[pos : pos + 2], "big"
        ) + 1
        pack = int.from_bytes(data[pos + 2 : pos + 4], "big") + 1
        pos += 4
        reset = (control >> 5) & 0x3
        if need_dict_reset and reset != 3:
            raise ValueError("LZMA2 stream must open with a dictionary reset")
        need_dict_reset = False
        # A dict reset zeroes the decoder's POSITION (pos_state /
        # lit_state / distance bounds all become relative to here); the
        # shared ``out`` buffer is kept only as the assembled content.
        if reset == 3:
            dict_base = len(out)
        if reset >= 2:
            props = data[pos]
            pos += 1
            if props > (4 * 5 + 4) * 9 + 8:
                raise ValueError(f"invalid LZMA2 props byte {props}")
            lc = props % 9
            lp = (props // 9) % 5
            pb = props // 45
            if st is None:
                st = _LzmaState(lc, lp, pb)
            else:
                st.set_props(lc, lp, pb)
                st.reset_state()
        elif st is None:
            raise ValueError("LZMA2 chunk needs props before first use")
        elif reset == 1:
            st.reset_state()
        if pos + pack > end:
            raise ValueError("LZMA2 compressed chunk truncated")
        rc = _RangeDecoder(data, pos)
        _lzma_decode_chunk(rc, st, out, unpack, dict_base)
        if rc.pos > pos + pack:
            raise ValueError("LZMA2 chunk overran its packed size")
        pos += pack
    # unreachable


# ---------------------------------------------------------------------------
# .xz container walk
# ---------------------------------------------------------------------------


def decode_xz_stream(payload: bytes) -> dict:
    """Walk a (possibly concatenated multi-stream) .xz payload: every
    block fully decoded, per-block integrity check verified against
    the declared check type, index record counts/sizes cross-checked,
    footer validated. Returns content + accounting (n_streams,
    n_blocks, checks, stream_offsets)."""
    if not payload:
        raise ValueError("empty xz payload")
    content = bytearray()
    offsets: list[int] = []
    checks: list[str] = []
    n_blocks_total = 0
    pos = 0
    while pos < len(payload):
        # skip stream padding (4-byte aligned zero runs between streams)
        if payload[pos] == 0:
            pad = 0
            while pos < len(payload) and payload[pos] == 0:
                pos += 1
                pad += 1
            if pad % 4:
                raise ValueError("xz stream padding not 4-byte aligned")
            if pos >= len(payload):
                break
        start = pos
        if payload[pos : pos + 6] != _XZ_MAGIC:
            raise ValueError(f"bad xz stream magic at offset {pos}")
        flags = payload[pos + 6 : pos + 8]
        if flags[0] != 0 or flags[1] & 0xF0:
            raise ValueError("reserved xz stream flags set")
        check_type = flags[1]
        if check_type not in _CHECK_SIZES:
            raise ValueError(f"unsupported xz check type {check_type:#04x}")
        if int.from_bytes(payload[pos + 8 : pos + 12], "little") != zlib.crc32(flags):
            raise ValueError("xz stream-header CRC mismatch")
        pos += 12
        blocks: list[tuple[int, int]] = []  # (unpadded_size, uncompressed)
        while True:
            bhs = payload[pos]
            if bhs == 0x00:
                break  # index follows
            header_size = (bhs + 1) * 4
            hdr = payload[pos : pos + header_size]
            if int.from_bytes(
                hdr[-4:], "little"
            ) != zlib.crc32(hdr[:-4]):
                raise ValueError("xz block-header CRC mismatch")
            bflags = hdr[1]
            if bflags & 0x3C:
                raise ValueError("reserved xz block flags set")
            n_filters = (bflags & 0x03) + 1
            p = 2
            comp_size = unc_size = None
            if bflags & 0x40:
                comp_size, p = _varint(hdr, p)
            if bflags & 0x80:
                unc_size, p = _varint(hdr, p)
            filter_ids = []
            for _ in range(n_filters):
                fid, p = _varint(hdr, p)
                psize, p = _varint(hdr, p)
                fprops = hdr[p : p + psize]
                p += psize
                filter_ids.append((fid, fprops))
            if len(filter_ids) != 1 or filter_ids[0][0] != _FILTER_LZMA2:
                raise NotImplementedError(
                    f"only the plain LZMA2 filter chain is supported, got "
                    f"{[hex(f) for f, _ in filter_ids]}"
                )
            dict_bits = filter_ids[0][1][0]
            if dict_bits & 0xC0:
                raise ValueError("reserved LZMA2 dict-size bits set")
            if any(hdr[p:-4]):
                raise ValueError("xz block-header padding not zero")
            data_start = pos + header_size
            block_content, data_end, _ = _lzma2_decode(
                payload, data_start, len(payload)
            )
            if comp_size is not None and data_end - data_start != comp_size:
                raise ValueError("xz block compressed size disagrees")
            if unc_size is not None and len(block_content) != unc_size:
                raise ValueError("xz block uncompressed size disagrees")
            pad = (4 - (data_end - data_start) % 4) % 4
            if any(payload[data_end : data_end + pad]):
                raise ValueError("xz block padding not zero")
            cpos = data_end + pad
            csize = _CHECK_SIZES[check_type]
            cbytes = payload[cpos : cpos + csize]
            if check_type == 0x01:
                ok = int.from_bytes(cbytes, "little") == zlib.crc32(block_content)
            elif check_type == 0x04:
                ok = int.from_bytes(cbytes, "little") == xz_crc64(block_content)
            elif check_type == 0x0A:
                ok = cbytes == hashlib.sha256(block_content).digest()
            else:
                ok = True
            if not ok:
                raise ValueError(
                    f"xz block {_CHECK_NAMES[check_type]} check mismatch"
                )
            unpadded = header_size + (data_end - data_start) + csize
            blocks.append((unpadded, len(block_content)))
            content += block_content
            n_blocks_total += 1
            pos = cpos + csize
        # index
        idx_start = pos
        pos += 1  # the 0x00 indicator
        nrec, pos = _varint(payload, pos)
        if nrec != len(blocks):
            raise ValueError(
                f"xz index claims {nrec} blocks, stream carried {len(blocks)}"
            )
        for unpadded, unc in blocks:
            iu, pos = _varint(payload, pos)
            iuc, pos = _varint(payload, pos)
            if iu != unpadded or iuc != unc:
                raise ValueError("xz index record disagrees with its block")
        while (pos - idx_start) % 4:
            if payload[pos]:
                raise ValueError("xz index padding not zero")
            pos += 1
        if int.from_bytes(payload[pos : pos + 4], "little") != zlib.crc32(
            payload[idx_start:pos]
        ):
            raise ValueError("xz index CRC mismatch")
        pos += 4
        index_size = pos - idx_start
        # footer: CRC32(backward_size, flags), backward, flags, 'YZ'
        foot = payload[pos : pos + 12]
        if len(foot) < 12 or foot[10:12] != _XZ_FOOTER_MAGIC:
            raise ValueError("bad xz stream footer magic")
        if int.from_bytes(foot[0:4], "little") != zlib.crc32(foot[4:10]):
            raise ValueError("xz stream-footer CRC mismatch")
        backward = (int.from_bytes(foot[4:8], "little") + 1) * 4
        if backward != index_size:
            raise ValueError("xz footer backward size disagrees with index")
        if foot[8:10] != flags:
            raise ValueError("xz footer stream flags disagree with header")
        pos += 12
        offsets.append(start)
        checks.append(_CHECK_NAMES[check_type])
    if not offsets:
        raise ValueError("xz payload contained only padding")
    return {
        "content": bytes(content),
        "n_streams": len(offsets),
        "n_blocks": n_blocks_total,
        "stream_offsets": offsets,
        "checks": checks,
    }


# ---------------------------------------------------------------------------
# Spark surface (the c6/c7/c9 pattern). Synthesis uses CPython's stdlib
# lzma (liblzma) — the one direction our decode-only module cannot
# produce itself — so the registered query cross-validates our decoder
# against real liblzma output on every single document.
# ---------------------------------------------------------------------------

_XZ_CHECKS = ("crc32", "crc64", "sha256")


def with_xz_payload(df, text_col: str = "text"):
    """Attach a multistream .xz payload per row: ``1 + doc_id % 2``
    stdlib-lzma streams of ``text\\n`` each, integrity check cycling
    crc32/crc64/sha256 by doc_id so every check type carries hash
    signal. Map-only Arrow pass."""
    import lzma

    from pipeline_mf_etl_spark.payload import synth_payload

    checks = {
        "crc32": lzma.CHECK_CRC32,
        "crc64": lzma.CHECK_CRC64,
        "sha256": lzma.CHECK_SHA256,
    }

    def encode(i, t):
        return b"".join(
            lzma.compress(
                (t + "\n").encode("utf-8"),
                format=lzma.FORMAT_XZ,
                check=checks[_XZ_CHECKS[int(i) % 3]],
                preset=1,
            )
            for _ in range(1 + int(i) % 2)
        )

    return synth_payload(df, encode, "application/x-xz", cols=("doc_id", text_col))


def extract_xz_documents(df, id_col: str = "doc_id"):
    """Decode each multistream .xz payload through the full verified
    walk (block checks, index, footer) and emit stream/block accounting
    + content integrity. Map-only Arrow pass."""
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
            StructField("check", StringType(), False),
            StructField("content_size", LongType(), False),
            StructField("content_md5", StringType(), False),
            StructField("text_out", StringType(), False),
        ]
    )

    def rows(doc_id, payload):
        out = decode_xz_stream(payload)
        yield (
            int(doc_id),
            out["n_streams"],
            out["n_blocks"],
            out["checks"][0],
            *content_digest(out["content"]),
        )

    return map_payload(df, schema, rows, id_col)
