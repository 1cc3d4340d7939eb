"""WebP-lossless (VP8L) codec — dependency-free encode + decode.

The #1 modern lossless web-image format (reference scope: the manifest
classifier routes image corpora by container; see
/root/reference/src/mf_etl/cli.py ingestion command family). This
module implements the REAL bitstream per the public "WebP Lossless
Bitstream Specification" (Google, 2012) and RFC 9649 §3: LSB-first bit
packing, canonical prefix (Huffman) codes with the code-length-code
transport (symbols 16/17/18, the 19-entry reorder table), simple
two-symbol codes, color-cache hashing (0x1e35a7bd multiplier), LZ77
backward references with the prefix-coded length/distance split, the
optional meta-prefix (entropy image) machinery, and all four transforms
(predictor with the 14 spatial modes, cross-color with signed 3.5
fixed-point multipliers, subtract-green, color-indexing with sub-byte
index bundling).

Documented subset gates (loud, never silent):
- distance codes <= 120 (the 2D neighborhood map) are NOT decoded —
  the in-house encoder always emits linear (code-121+) distances, and a
  real-world file using short codes raises NotImplementedError rather
  than risking a mis-ordered neighborhood table;
- predictor modes 11/13 tie-breaking follows one consistent convention
  shared by encoder and decoder (round-trip exact; cross-decoder pixel
  parity for those two modes is not certified against libwebp).
"""

from __future__ import annotations

import numpy as np

from pipeline_mf_etl_spark import bitio
from pipeline_mf_etl_spark.bitio import LsbReader, LsbWriter
from pipeline_mf_etl_spark.operators.multimodal import riff, riff_chunks


# ---------------------------------------------------------------------------
# Prefix-code emission (VP8L packs bits LSB-first: bitio.LsbWriter)
# ---------------------------------------------------------------------------


def write_code(bw: LsbWriter, code: int, nbits: int) -> None:
    """Emit a prefix code: VP8L reads codes bit-by-bit building
    code = (code << 1) | next_bit, so the MSB of the code goes into
    the stream FIRST — one LSB-first write of the bit-reversed code."""
    rev = 0
    for _ in range(nbits):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    bw.write(rev, nbits)


# ---------------------------------------------------------------------------
# Canonical prefix codes (DEFLATE-style assignment, MSB-first reading)
# ---------------------------------------------------------------------------


def canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """sym -> (code, nbits), canonical assignment: codes ordered by
    (length, symbol)."""
    return bitio.canonical_codes(sorted(lengths.items(), key=lambda p: (p[1], p[0])))


class PrefixDecoder:
    """Bit-by-bit canonical decoder with a completeness gate (an
    over-/under-subscribed code is corrupt, except 0-bit single-symbol
    codes from the simple path)."""

    def __init__(self, lengths: dict[int, int], allow_single: bool = False):
        if not lengths:
            raise ValueError("empty prefix code")
        if len(lengths) == 1:
            ln = next(iter(lengths.values()))
            if ln == 0 or allow_single:
                self.single = next(iter(lengths))
                self.table: dict[tuple[int, int], int] = {}
                self.max_len = 0
                return
        kraft = sum(2.0 ** -ln for ln in lengths.values())
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError(f"prefix code not complete (Kraft sum {kraft})")
        self.single = None
        self.max_len = max(lengths.values())
        self.table = {
            (ln, code): sym for sym, (code, ln) in canonical_codes(lengths).items()
        }
        # peek-table fast path: one max_len-bit peek resolves (symbol,
        # length) in a single list index. The stream serves code bits
        # MSB-of-code-first but LSB-first within the word we peek, so
        # each code's table slots are its BIT-REVERSED value plus every
        # high-bit completion. Kraft completeness guarantees full
        # coverage. Capped to keep table build O(1k) per decoder.
        self.fast: list[tuple[int, int]] | None = None
        if self.max_len <= 11:
            span = 1 << self.max_len
            fast = [(-1, 0)] * span
            for sym, (code, ln) in canonical_codes(lengths).items():
                rev = 0
                c = code
                for _ in range(ln):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                for k in range(1 << (self.max_len - ln)):
                    fast[rev | (k << ln)] = (sym, ln)
            self.fast = fast

    def read(self, br: LsbReader) -> int:
        if self.single is not None:
            return self.single
        if self.fast is not None:
            sym, ln = self.fast[br.peek(self.max_len)]
            br.skip(ln)  # raises if the code ran past the stream end
            return sym
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")


def balanced_lengths(symbols: list[int]) -> dict[int, int]:
    """A COMPLETE canonical code over >=2 symbols: with n symbols and
    k = ceil(log2 n), the first (2^k - n) get length k-1, the rest k
    (Kraft sum exactly 1)."""
    n = len(symbols)
    if n < 2:
        raise ValueError("balanced code needs >= 2 symbols")
    k = max(1, (n - 1).bit_length())
    m = (1 << k) - n
    out = {}
    for i, sym in enumerate(sorted(symbols)):
        out[sym] = k - 1 if i < m else k
    return out


# Code-length-code symbol transport order (spec table)
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _write_prefix_code(bw: LsbWriter, hist: dict[int, int], alphabet: int) -> None:
    """Serialize one prefix code. <=2 used symbols that fit in a byte
    take the SIMPLE path; everything else the normal code-length-code
    path with a balanced complete code."""
    used = sorted(s for s, c in hist.items() if c > 0)
    if not used:
        used = [0]
    if len(used) <= 2 and used[-1] <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if used[0] <= 1 and len(used) == 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)  # first symbol in 8 bits
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        return

    bw.write(0, 1)  # normal
    lengths_map = balanced_lengths(used)
    lengths = [lengths_map.get(s, 0) for s in range(alphabet)]

    # RLE the length array into code-length-code ops
    ops: list[tuple[int, int, int]] = []  # (cl_sym, extra, extra_bits)
    i = 0
    while i < alphabet:
        if lengths[i] == 0:
            j = i
            while j < alphabet and lengths[j] == 0:
                j += 1
            run = j - i
            while run:
                if run >= 11:
                    chunk = min(run, 138)
                    ops.append((18, chunk - 11, 7))
                elif run >= 3:
                    chunk = run
                    ops.append((17, chunk - 3, 3))
                else:
                    chunk = 1
                    ops.append((0, 0, 0))
                run -= chunk
            i = j
        else:
            ln = lengths[i]
            j = i + 1
            while j < alphabet and lengths[j] == ln:
                j += 1
            run = j - i
            ops.append((ln, 0, 0))
            run -= 1
            while run >= 3:
                chunk = min(run, 6)
                ops.append((16, chunk - 3, 2))
                run -= chunk
            for _ in range(run):
                ops.append((ln, 0, 0))
            i = j

    cl_used = sorted({op[0] for op in ops})
    if len(cl_used) < 2:
        # cannot happen for the real alphabets (256+/40/280+): zeros
        # force 17/18 and full-alphabet codes force 16 runs
        raise AssertionError("degenerate code-length code")
    cl_lengths = balanced_lengths(cl_used)  # <= 5 bits, fits the 3-bit field
    n_cl = max(4, max(_CL_ORDER.index(s) for s in cl_used) + 1)
    bw.write(n_cl - 4, 4)
    for pos in range(n_cl):
        bw.write(cl_lengths.get(_CL_ORDER[pos], 0), 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_codes = canonical_codes(cl_lengths)
    for sym, extra, ebits in ops:
        code, nb = cl_codes[sym]
        write_code(bw, code, nb)
        if ebits:
            bw.write(extra, ebits)


def _read_prefix_code(br: LsbReader, alphabet: int) -> PrefixDecoder:
    if br.read(1):  # simple
        n_sym = br.read(1) + 1
        first_8 = br.read(1)
        sym0 = br.read(8 if first_8 else 1)
        if n_sym == 1:
            return PrefixDecoder({sym0: 0})
        sym1 = br.read(8)
        return PrefixDecoder({sym0: 1, sym1: 1})
    n_cl = 4 + br.read(4)
    cl_lengths = {}
    for pos in range(n_cl):
        ln = br.read(3)
        if ln:
            cl_lengths[_CL_ORDER[pos]] = ln
    cl_dec = PrefixDecoder(cl_lengths, allow_single=True)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths: dict[int, int] = {}
    sym = 0
    prev_len = 8
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_dec.read(br)
        if cl < 16:
            if cl:
                lengths[sym] = cl
                prev_len = cl
            sym += 1
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if sym < alphabet:
                    lengths[sym] = prev_len
                    sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return PrefixDecoder(lengths)


# ---------------------------------------------------------------------------
# LZ77 prefix-coded values (lengths and distances share this split)
# ---------------------------------------------------------------------------


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """value >= 1 -> (prefix_sym, extra, extra_bits)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    eb = x.bit_length() - 2
    if x >= 3 << eb:
        return 2 * eb + 3, x - (3 << eb), eb
    return 2 * eb + 2, x - (2 << eb), eb


def _prefix_decode(sym: int, br: LsbReader) -> int:
    if sym < 4:
        return sym + 1
    eb = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << eb
    return offset + br.read(eb) + 1


# ---------------------------------------------------------------------------
# color cache + pixel helpers (pixels are ARGB uint32)
# ---------------------------------------------------------------------------


def _cache_index(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _argb(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _split(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


# ---------------------------------------------------------------------------
# entropy-coded image: shared writer/reader for the main image, the
# transform data sub-images, the palette, and the meta-prefix image
# ---------------------------------------------------------------------------

_GREEN_EXTRA = 24  # length prefix symbols after the 256 literals


def _build_ops(pixels: list[int], w: int, h: int, cache_bits: int):
    """Turn a row-major ARGB pixel list into (op, ...) tuples: literals,
    color-cache hits, and a (len=w, dist=w) backward reference for any
    row identical to the one above (encoder verifies equality)."""
    cache = [0] * (1 << cache_bits) if cache_bits else None
    ops: list[tuple] = []

    def note(px: int) -> None:
        if cache is not None:
            cache[_cache_index(px, cache_bits)] = px

    for y in range(h):
        row = pixels[y * w : (y + 1) * w]
        if y and row == pixels[(y - 1) * w : y * w]:
            ops.append(("copy", w, w))
            for px in row:
                note(px)
            continue
        for px in row:
            if cache is not None:
                idx = _cache_index(px, cache_bits)
                if cache[idx] == px:
                    ops.append(("cache", idx))
                    continue
            ops.append(("lit", px))
            note(px)
    return ops


def _write_entropy_image(
    bw: LsbWriter,
    pixels: list[int],
    w: int,
    h: int,
    cache_bits: int = 0,
    huffman_image: bool = False,
    level0: bool = False,
) -> None:
    """Serialize one entropy-coded image (cache info, prefix codes,
    LZ77-coded pixel stream). ``level0`` additionally owns the
    meta-prefix bit; ``huffman_image`` emits a trivial all-zero entropy
    image (one code group) so the meta machinery carries hash signal."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        if huffman_image:
            bw.write(1, 1)
            hb = 4
            bw.write(hb - 2, 3)
            hw, hh = -(-w // (1 << hb)), -(-h // (1 << hb))
            _write_entropy_image(bw, [_argb(255, 0, 0, 0)] * (hw * hh), hw, hh)
        else:
            bw.write(0, 1)

    ops = _build_ops(pixels, w, h, cache_bits)
    hists = [dict() for _ in range(5)]  # green+len+cache, red, blue, alpha, dist

    def bump(i, s):
        hists[i][s] = hists[i].get(s, 0) + 1

    for op in ops:
        if op[0] == "lit":
            a, r, g, b = _split(op[1])
            bump(0, g)
            bump(1, r)
            bump(2, b)
            bump(3, a)
        elif op[0] == "copy":
            bump(0, 256 + _prefix_encode(op[1])[0])
            bump(4, _prefix_encode(op[2] + 120)[0])
        else:
            bump(0, 256 + _GREEN_EXTRA + op[1])
    alphabets = (256 + _GREEN_EXTRA + (1 << cache_bits if cache_bits else 0),
                 256, 256, 256, 40)
    codes = []
    for i in range(5):
        _write_prefix_code(bw, hists[i], alphabets[i])
        used = sorted(s for s, c in hists[i].items() if c > 0) or [0]
        if len(used) <= 2 and used[-1] <= 255:
            lens = {used[0]: 0} if len(used) == 1 else {used[0]: 1, used[1]: 1}
        else:
            lens = balanced_lengths(used)
        codes.append(canonical_codes(lens))

    def put(i, s):
        code, nb = codes[i][s]
        write_code(bw, code, nb)

    for op in ops:
        if op[0] == "lit":
            a, r, g, b = _split(op[1])
            put(0, g)
            put(1, r)
            put(2, b)
            put(3, a)
        elif op[0] == "copy":
            lsym, lex, leb = _prefix_encode(op[1])
            put(0, 256 + lsym)
            if leb:
                bw.write(lex, leb)
            dsym, dex, deb = _prefix_encode(op[2] + 120)
            put(4, dsym)
            if deb:
                bw.write(dex, deb)
        else:
            put(0, 256 + _GREEN_EXTRA + op[1])


def _read_entropy_image(
    br: LsbReader, w: int, h: int, level0: bool = False
) -> tuple[list[int], int]:
    """Decode one entropy-coded image; returns (pixels, cache_bits)."""
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"color cache bits {cache_bits} out of range")
    meta = None
    hb = 0
    n_groups = 1
    if level0 and br.read(1):
        hb = br.read(3) + 2
        hw, hh = -(-w // (1 << hb)), -(-h // (1 << hb))
        meta, _ = _read_entropy_image(br, hw, hh)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1
    green_alpha = 256 + _GREEN_EXTRA + (1 << cache_bits if cache_bits else 0)
    alphabets = (green_alpha, 256, 256, 256, 40)
    groups = [
        [_read_prefix_code(br, alphabets[i]) for i in range(5)]
        for _ in range(n_groups)
    ]
    cache = [0] * (1 << cache_bits) if cache_bits else None
    pixels: list[int] = []
    n = w * h
    hw = -(-w // (1 << hb)) if hb else 0
    while len(pixels) < n:
        if meta is not None:
            x, y = len(pixels) % w, len(pixels) // w
            mpx = meta[(y >> hb) * hw + (x >> hb)]
            g5 = groups[(mpx >> 8) & 0xFFFF]
        else:
            g5 = groups[0]
        s = g5[0].read(br)
        if s < 256:
            r = g5[1].read(br)
            b = g5[2].read(br)
            a = g5[3].read(br)
            px = _argb(a, r, s, b)
            pixels.append(px)
            if cache is not None:
                cache[_cache_index(px, cache_bits)] = px
        elif s < 256 + _GREEN_EXTRA:
            length = _prefix_decode(s - 256, br)
            dcode = _prefix_decode(g5[4].read(br), br)
            if dcode <= 120:
                raise NotImplementedError(
                    "2D neighborhood distance codes (<=120) not supported "
                    "(in-house encoder emits linear codes only)"
                )
            dist = dcode - 120
            if dist > len(pixels):
                raise ValueError("LZ77 distance reaches before image start")
            for _ in range(length):
                px = pixels[-dist]
                pixels.append(px)
                if cache is not None:
                    cache[_cache_index(px, cache_bits)] = px
        else:
            if cache is None:
                raise ValueError("color-cache symbol without a color cache")
            idx = s - 256 - _GREEN_EXTRA
            pixels.append(cache[idx])
    if len(pixels) != n:
        raise ValueError("LZ77 copy ran past the image end")
    return pixels, cache_bits


# ---------------------------------------------------------------------------
# the four transforms — forward (encoder) and inverse (decoder) share
# the per-pixel helpers so round-trip exactness is structural
# ---------------------------------------------------------------------------


def _int8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed 3.5 fixed-point multiply."""
    return (_int8(t) * _int8(c)) >> 5


def _avg2(a: tuple, b: tuple) -> tuple:
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _predict(mode: int, buf: list, p: int, w: int) -> tuple:
    """Spatial predictor for pixel at flat index p. Neighbors use FLAT
    indexing, so TR of the last column is the first pixel of the
    current row — exactly the spec's buffer semantics. Loads are LAZY:
    the edge-mode overrides (_mode_at) guarantee each mode's neighbors
    exist, but eager loads would index out of range on 1-row images."""
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return _split(buf[p - 1])
    if mode == 2:
        return _split(buf[p - w])
    L = _split(buf[p - 1])
    T = _split(buf[p - w])
    TR = _split(buf[p - w + 1])
    TL = _split(buf[p - w - 1])
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select
        pr = tuple(lc + tc - tlc for lc, tc, tlc in zip(L, T, TL))
        p_l = sum(abs(pc - lc) for pc, lc in zip(pr, L))
        p_t = sum(abs(pc - tc) for pc, tc in zip(pr, T))
        return L if p_l <= p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return tuple(
            _clamp(lc + tc - tlc) for lc, tc, tlc in zip(L, T, TL)
        )
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        return tuple(_clamp(ac + ((ac - tlc) >> 1)) for ac, tlc in zip(ave, TL))
    raise ValueError(f"predictor mode {mode} out of range (0..13)")


def _mode_at(x: int, y: int, block_mode: int) -> int:
    if x == 0 and y == 0:
        return 0
    if y == 0:
        return 1
    if x == 0:
        return 2
    return block_mode


def _fwd_predictor(pixels: list[int], w: int, h: int, mode: int) -> list[int]:
    out = []
    for p, px in enumerate(pixels):
        pred = _predict(_mode_at(p % w, p // w, mode), pixels, p, w)
        cur = _split(px)
        out.append(_argb(*[(c - pc) & 0xFF for c, pc in zip(cur, pred)]))
    return out


def _inv_predictor(pixels: list[int], w: int, h: int, sb: int,
                   data: list[int], tw: int) -> None:
    for p in range(w * h):
        x, y = p % w, p // w
        block_mode = (data[(y >> sb) * tw + (x >> sb)] >> 8) & 0xFF
        pred = _predict(_mode_at(x, y, block_mode), pixels, p, w)
        res = _split(pixels[p])
        pixels[p] = _argb(*[(r + pc) & 0xFF for r, pc in zip(res, pred)])


def _fwd_color(pixels: list[int], g2r: int, g2b: int, r2b: int) -> list[int]:
    out = []
    for px in pixels:
        a, r, g, b = _split(px)
        tr = (r - _ct_delta(g2r, g)) & 0xFF
        tb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        out.append(_argb(a, tr, g, tb))
    return out


def _inv_color(pixels: list[int], w: int, h: int, sb: int,
               data: list[int], tw: int) -> None:
    for p in range(w * h):
        x, y = p % w, p // w
        m = data[(y >> sb) * tw + (x >> sb)]
        _, r2b, g2b, g2r = _split(m)  # {b: g2r, g: g2b, r: r2b}
        a, tr, g, tb = _split(pixels[p])
        r = (tr + _ct_delta(g2r, g)) & 0xFF
        b = (tb + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
        pixels[p] = _argb(a, r, g, b)


def _fwd_subtract_green(pixels: list[int]) -> list[int]:
    out = []
    for px in pixels:
        a, r, g, b = _split(px)
        out.append(_argb(a, (r - g) & 0xFF, g, (b - g) & 0xFF))
    return out


def _inv_subtract_green(pixels: list[int]) -> None:
    for p, px in enumerate(pixels):
        a, r, g, b = _split(px)
        pixels[p] = _argb(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _palette_width_bits(size: int) -> int:
    return 3 if size <= 2 else 2 if size <= 4 else 1 if size <= 16 else 0


def _pack_indices(indices: list[int], w: int, h: int, wb: int) -> list[int]:
    """Bundle sub-byte palette indices into packed-green pixels."""
    xsub = 1 << wb
    bits = 8 >> wb
    pw = -(-w // xsub)
    out = []
    for y in range(h):
        row = indices[y * w : (y + 1) * w]
        for xp in range(pw):
            g = 0
            for j in range(xsub):
                x = xp * xsub + j
                if x < w:
                    g |= row[x] << (j * bits)
            out.append(_argb(255, 0, g, 0))
    return out


def _inv_palette(pixels: list[int], w_full: int, h: int,
                 pal: list[int], wb: int) -> list[int]:
    xsub = 1 << wb
    bits = 8 >> wb
    mask = (1 << bits) - 1
    pw = -(-w_full // xsub)
    out = []
    for y in range(h):
        for x in range(w_full):
            g = (pixels[y * pw + x // xsub] >> 8) & 0xFF
            idx = (g >> ((x % xsub) * bits)) & mask
            if idx >= len(pal):
                raise ValueError(
                    f"palette index {idx} outside the {len(pal)}-entry palette"
                )
            out.append(pal[idx])
    return out


# ---------------------------------------------------------------------------
# top level: VP8L payload + RIFF container (multimodal.riff/riff_chunks)
# ---------------------------------------------------------------------------


def decode_vp8l(data: bytes) -> dict:
    """Decode one VP8L payload (the bytes of the VP8L chunk): header,
    transform reads, entropy-coded main image, inverse transforms in
    reverse read order. Returns geometry, the transform/cache metadata
    actually read from the stream, and the ARGB pixel list."""
    if not data or data[0] != 0x2F:
        raise ValueError("VP8L missing 0x2F signature byte")
    br = LsbReader(data)
    br.read(8)
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_hint = br.read(1)
    version = br.read(3)
    if version:
        raise ValueError(f"VP8L version {version} reserved (must be 0)")

    transforms: list[tuple] = []
    w_eff = w
    while br.read(1):
        t = br.read(2)
        if any(tr[0] == t for tr in transforms):
            raise ValueError(f"duplicate VP8L transform type {t}")
        if t in (0, 1):  # predictor / cross-color
            sb = br.read(3) + 2
            tw = -(-w_eff // (1 << sb))
            th = -(-h // (1 << sb))
            tdata, _ = _read_entropy_image(br, tw, th)
            transforms.append((t, sb, tdata, tw))
        elif t == 2:  # subtract green
            transforms.append((2,))
        else:  # color indexing
            ps = br.read(8) + 1
            deltas, _ = _read_entropy_image(br, ps, 1)
            pal = []
            prev = (0, 0, 0, 0)
            for dp in deltas:
                cur = tuple((pc + dc) & 0xFF for pc, dc in zip(prev, _split(dp)))
                pal.append(_argb(*cur))
                prev = cur
            wb = _palette_width_bits(ps)
            transforms.append((3, ps, pal, wb))
            w_eff = -(-w // (1 << wb))

    pixels, cache_bits = _read_entropy_image(br, w_eff, h, level0=True)

    palette_size = None
    for tr in reversed(transforms):
        if tr[0] == 0:
            _inv_predictor(pixels, w_eff, h, tr[1], tr[2], tr[3])
        elif tr[0] == 1:
            _inv_color(pixels, w_eff, h, tr[1], tr[2], tr[3])
        elif tr[0] == 2:
            _inv_subtract_green(pixels)
        else:
            palette_size = tr[1]
            pixels = _inv_palette(pixels, w, h, tr[2], tr[3])
    names = {0: "predictor", 1: "crosscolor", 2: "subgreen", 3: "palette"}
    return {
        "width": w,
        "height": h,
        "alpha_hint": alpha_hint,
        "cache_bits": cache_bits,
        "variant": names[transforms[0][0]] if transforms else "none",
        "palette_size": palette_size,
        "pixels": pixels,
    }


def wrap_webp(vp8l_payload: bytes) -> bytes:
    return riff(b"WEBP", [(b"VP8L", vp8l_payload)])


def unwrap_webp(payload: bytes) -> bytes:
    for fourcc, body in riff_chunks(payload, b"WEBP"):
        if fourcc == b"VP8L":
            return body
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 pixel decode not supported (boolean arithmetic "
                "coder out of dependency-free scope; probe_webp routes it)"
            )
    raise ValueError("no VP8L chunk in WebP container")


# ---------------------------------------------------------------------------
# deterministic synthesis from (doc_id, text) — the invertible oracle
# story: decoded pixels must equal this arithmetic on the characters
# ---------------------------------------------------------------------------

VP8L_RGB_COLS = 24   # non-palette: 3 chars per pixel -> 72 chars/row
VP8L_PAL_COLS = 48   # palette: 1 char per pixel
VP8L_MAX_ROWS = 48   # bound per-doc decode cost; oracle mirrors the cap
PALETTE_SIZES = (4, 13, 64)  # cycles bundling width_bits 2 / 1 / 0


def _palette_entry(i: int) -> int:
    return _argb(255, (7 * i) % 256, (11 * i) % 256, (13 * i) % 256)


def _source_rows(doc_id: int, text: str) -> tuple[int, int, list[bytes]] | None:
    """Pixel geometry + per-row source bytes. Every 4th pixel row
    repeats the previous one (src_y = y-1 when y%4==3), guaranteeing
    LZ77 row copies carry hash signal on every document."""
    raw = text.encode("utf-8")
    variant = doc_id % 5
    cpr = VP8L_PAL_COLS if variant == 4 else 3 * VP8L_RGB_COLS
    h = min(len(raw) // cpr, VP8L_MAX_ROWS)
    if h == 0:
        return None
    w = VP8L_PAL_COLS if variant == 4 else VP8L_RGB_COLS
    rows = []
    for y in range(h):
        sy = y - 1 if y % 4 == 3 else y
        rows.append(raw[sy * cpr : (sy + 1) * cpr])
    return w, h, rows


def synth_pixels(doc_id: int, text: str):
    """Final (post-decode) ARGB pixels, or None for docs shorter than
    one row. For palette docs each char maps to palette index
    char % size with the deterministic 7i/11i/13i entries."""
    src = _source_rows(doc_id, text)
    if src is None:
        return None
    w, h, rows = src
    variant = doc_id % 5
    px: list[int] = []
    if variant == 4:
        psize = PALETTE_SIZES[(doc_id // 5) % 3]
        for row in rows:
            px.extend(_palette_entry(row[x] % psize) for x in range(w))
    else:
        for row in rows:
            px.extend(
                _argb(255, row[3 * x], row[3 * x + 1], row[3 * x + 2])
                for x in range(w)
            )
    return px, w, h


def encode_webp_lossless(doc_id: int, text: str) -> bytes | None:
    """Serialize the synthesized pixels as a REAL WebP-lossless file,
    cycling the transform by doc_id%5 (none / subtract-green /
    predictor mode doc%14 / cross-color / color-indexing), the color
    cache by parity (off / 6 bits), and the meta-prefix machinery every
    3rd doc (trivial one-group entropy image)."""
    built = synth_pixels(doc_id, text)
    if built is None:
        return None
    pixels, w, h = built
    variant = doc_id % 5
    cache_bits = 0 if doc_id % 2 == 0 else 6
    huff = doc_id % 3 == 0

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint: fully opaque synthesis
    bw.write(0, 3)  # version

    main = pixels
    w_eff = w
    if variant == 1:  # subtract green
        bw.write(1, 1)
        bw.write(2, 2)
        main = _fwd_subtract_green(pixels)
    elif variant == 2:  # predictor, one whole-image block
        bw.write(1, 1)
        bw.write(0, 2)
        sb = 6
        bw.write(sb - 2, 3)
        mode = doc_id % 14
        _write_entropy_image(bw, [_argb(0, 0, mode, 0)], 1, 1)
        main = _fwd_predictor(pixels, w, h, mode)
    elif variant == 3:  # cross-color, one whole-image block
        bw.write(1, 1)
        bw.write(1, 2)
        sb = 6
        bw.write(sb - 2, 3)
        g2r, g2b, r2b = (doc_id * 17) % 256, (doc_id * 29) % 256, (doc_id * 41) % 256
        _write_entropy_image(bw, [_argb(0, r2b, g2b, g2r)], 1, 1)
        main = _fwd_color(pixels, g2r, g2b, r2b)
    elif variant == 4:  # color indexing
        bw.write(1, 1)
        bw.write(3, 2)
        psize = PALETTE_SIZES[(doc_id // 5) % 3]
        bw.write(psize - 1, 8)
        pal = [_palette_entry(i) for i in range(psize)]
        deltas = []
        prev = (0, 0, 0, 0)
        for entry in pal:
            cur = _split(entry)
            deltas.append(_argb(*[(c - p) & 0xFF for c, p in zip(cur, prev)]))
            prev = cur
        _write_entropy_image(bw, deltas, psize, 1)
        wb = _palette_width_bits(psize)
        src = _source_rows(doc_id, text)
        assert src is not None
        _, _, rows = src
        indices = [b % psize for row in rows for b in row[:w]]
        main = _pack_indices(indices, w, h, wb)
        w_eff = -(-w // (1 << wb))
    bw.write(0, 1)  # end of transforms

    _write_entropy_image(bw, main, w_eff, h, cache_bits, huff, level0=True)
    return wrap_webp(bw.getvalue())


def parse_webp_lossless(payload: bytes) -> dict:
    """RIFF unwrap + VP8L decode; pixels come back as an (h, w, 4)
    uint8 array in ARGB channel order."""
    out = decode_vp8l(unwrap_webp(payload))
    h, w = out["height"], out["width"]
    arr = np.zeros((h, w, 4), dtype=np.uint8)
    flat = np.array(out["pixels"], dtype=np.uint32).reshape(h, w)
    arr[..., 0] = (flat >> 24) & 0xFF
    arr[..., 1] = (flat >> 16) & 0xFF
    arr[..., 2] = (flat >> 8) & 0xFF
    arr[..., 3] = flat & 0xFF
    out["pixels"] = arr
    return out


# ---------------------------------------------------------------------------
# Spark layer — map-only Arrow synthesis + decode (no shuffles); the
# geometry/variant parameters are deterministic in doc_id so the DuckDB
# oracle replays every output column from the characters
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.payload import map_payload, synth_payload  # noqa: E402

VP8L_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("variant", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("cache_bits", LongType(), False),
        StructField("palette_size", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("max_byte", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("row_weighted_sum", LongType(), True),
        StructField("n_opaque", LongType(), False),
    ]
)

_VARIANT_NAMES = ("none", "subgreen", "predictor", "crosscolor", "palette")


def with_webp_lossless_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t: encode_webp_lossless(int(i), t),
        "image/webp",
        cols=("doc_id", text_col),
        nullable=True,
    )


def decode_webp_lossless_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each WebP-lossless payload through the full VP8L path and
    emit exact channel stats + the row-ORDER-sensitive checksum (which
    certifies LZ77 row copies land on the right rows) + the variant /
    cache / palette metadata as READ FROM THE STREAM. NULL payloads
    (docs shorter than one pixel row) yield the 0-geometry row."""

    def rows(doc_id, payload):
        i = int(doc_id)
        variant = _VARIANT_NAMES[i % 5]
        if payload is None:
            yield (
                i,
                variant,
                VP8L_PAL_COLS if variant == "palette" else VP8L_RGB_COLS,
                0, 0,
                0 if i % 2 == 0 else 6,
                PALETTE_SIZES[(i // 5) % 3]
                if variant == "palette" else None,
                None, None, None, None, None, None, 0,
            )
            return
        out = parse_webp_lossless(payload)
        arr = out["pixels"].astype(np.int64)
        h, w = out["height"], out["width"]
        rgb = arr[..., 1:]
        weights = 1 + np.arange(h, dtype=np.int64)
        yield (
            i,
            out["variant"],
            w,
            h,
            h * w,
            out["cache_bits"],
            out["palette_size"],
            int(arr[..., 1].sum()),
            int(arr[..., 2].sum()),
            int(arr[..., 3].sum()),
            int(rgb.max()),
            int(rgb.min()),
            int((rgb.sum(axis=(1, 2)) * weights).sum()),
            int((arr[..., 0] == 255).sum()),
        )

    return map_payload(df, VP8L_FEATURE_SCHEMA, rows, id_col)
