"""FLAC — dependency-free lossless audio codec (encoder + decoder).

Completes the engine's audio spread: WAV/PCM16 is the raw container
(operators/multimodal.parse_wav), IMA-ADPCM the lossy compressor
(parse_wav_adpcm), and FLAC the LOSSLESS compressor real speech/music
corpora actually ship — which matters for the oracle story: lossless
means decoded stats are recomputable straight from the synthesis
characters with no codec replay, unlike ADPCM's recursive-CTE oracle.

Subset implemented (both directions, validated end to end):

- stream: ``fLaC`` magic + STREAMINFO metadata block (geometry,
  total samples, and the MD5 of the unencoded PCM — VERIFIED on
  decode, so a single bit error anywhere in the pipeline is loud);
- frames: fixed-blocksize strategy, explicit 16-bit blocksize-1
  header form, UTF-8-coded frame numbers, CRC-8 header / CRC-16
  frame checks (both verified on decode);
- channels: mono, independent stereo, and all three stereo
  decorrelation modes (left/side, right/side, mid/side — the side
  channel carries bits+1 as the spec requires);
- subframes: CONSTANT, VERBATIM, FIXED predictors order 0-4, and LPC
  (any order on decode; the encoder runs autocorrelation →
  Levinson-Durbin → 12-bit quantized coefficients and picks LPC over
  FIXED by measured rice bits — the subframe type real FLAC files are
  mostly made of);
- residuals: rice coding (method 0, 4-bit params), any partition
  order, per-partition parameter search, and the 0b1111 escape to
  fixed-width verbatim residuals.

Out of scope, gated loudly in the decoder: wasted bits, sample sizes
other than 16-bit, variable-blocksize streams, negative LPC shifts,
and >2 channels. The encoder never emits them.

Layout/order references: the public FLAC format specification
(RFC 9639); no reference-repo counterpart (the reference is
OHLCV-only — this is engine ADDITION for multimodal corpora).
"""

from __future__ import annotations

import hashlib

import numpy as np

from pipeline_mf_etl_spark.bitio import MsbReader, MsbWriter
from pipeline_mf_etl_spark.crc import crc_table, crc_update

# ---------------------------------------------------------------------------
# CRCs (FLAC frame integrity): CRC-8 poly 0x07, CRC-16 poly 0x8005
# ---------------------------------------------------------------------------

_CRC8 = crc_table(0x07, 8)
_CRC16 = crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    return crc_update(_CRC8, 0, data)


def crc16(data: bytes) -> int:
    return crc_update(_CRC16, 0, data)


# ---------------------------------------------------------------------------
# signed fields and bulk NumPy decode (FLAC packs MSB-first: bitio.Msb*)
# ---------------------------------------------------------------------------


def _read_signed(br: MsbReader, nbits: int) -> int:
    v = br.read(nbits)
    return v - (1 << nbits) if v & (1 << (nbits - 1)) else v


def _write_signed(bw: MsbWriter, value: int, nbits: int) -> None:
    bw.write(value & ((1 << nbits) - 1), nbits)


def _bit_array(br: MsbReader, cache: dict):
    """The stream's unpacked bits and the positions of its 1 bits.
    parse_flac makes one reader per frame over the SAME payload, so
    ``cache`` (one dict per stream) shares them across frames."""
    if "bits" not in cache:
        bits = np.unpackbits(np.frombuffer(br.data, dtype=np.uint8))
        cache["bits"] = bits
        cache["ones"] = np.flatnonzero(bits)
    return cache["bits"], cache["ones"]


def _read_rice_block(br: MsbReader, cache: dict, n: int, param: int) -> np.ndarray:
    """Bulk-decode ``n`` rice codes with shared parameter ``param``:
    NumPy cumulative bit arithmetic instead of per-bit Python — the
    unary terminators are walked over the precomputed 1-bit positions
    (one list lookup per sample), quotients and remainder fields then
    gather vectorized, and the reader's cursor jumps past the span.
    Returns the ZIGZAGGED values."""
    bits, ones = _bit_array(br, cache)
    pos = br.pos
    k0 = int(np.searchsorted(ones, pos))
    # worst case each code consumes one terminator + param set bits
    sub = ones[k0 : k0 + n * (param + 1) + 1]
    # next-terminator jump per 1-bit: positions t+1..t+param after a
    # terminator t are remainder DATA bits; the following terminator
    # is the first 1 at or after t+param+1
    nxt = np.searchsorted(sub, sub + (param + 1)).tolist()
    ks = [0] * n
    k = 0
    m = len(sub)
    for i in range(n):
        if k >= m:
            raise ValueError("FLAC bitstream exhausted")
        ks[i] = k
        k = nxt[k]
    tpos = sub[ks]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = pos
    if n > 1:
        starts[1:] = tpos[:-1] + 1 + param
    q = tpos - starts
    if (q < 0).any():
        raise ValueError("corrupt rice stream (negative quotient)")
    if (q > 1 << 20).any():
        raise ValueError("runaway unary code (corrupt rice stream)")
    if param:
        idx = tpos[:, None] + 1 + np.arange(param)
        if int(idx[-1, -1]) >= len(bits):
            raise ValueError("FLAC bitstream exhausted")
        weights = 1 << np.arange(param - 1, -1, -1, dtype=np.int64)
        lows = (bits[idx].astype(np.int64) * weights).sum(axis=1)
        u = (q << param) | lows
    else:
        u = q
    br.pos = int(tpos[-1]) + 1 + param
    return u


def _read_signed_block(br: MsbReader, cache: dict, n: int, raw_bits: int) -> np.ndarray:
    """Bulk-read ``n`` two's-complement fields of ``raw_bits`` bits
    (the rice escape partitions)."""
    bits, _ = _bit_array(br, cache)
    pos = br.pos
    end = pos + n * raw_bits
    if end > len(bits):
        raise ValueError("FLAC bitstream exhausted")
    m = bits[pos:end].reshape(n, raw_bits).astype(np.int64)
    weights = 1 << np.arange(raw_bits - 1, -1, -1, dtype=np.int64)
    v = (m * weights).sum(axis=1)
    v = np.where(m[:, 0] == 1, v - (1 << raw_bits), v)
    br.pos = end
    return v


# ---------------------------------------------------------------------------
# FLAC's extended UTF-8 coded numbers (frame numbers up to 36 bits)
# ---------------------------------------------------------------------------


def _utf8_encode_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    for count, bits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if n < (1 << bits):
            lead = (0xFF00 >> count) & 0xFF
            out = [lead | (n >> (6 * (count - 1)))]
            for i in range(count - 2, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError(f"frame number {n} exceeds 36 bits")


def _utf8_decode_number(br: MsbReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    count = 0
    probe = first
    while probe & 0x80:
        count += 1
        probe <<= 1
    if count < 2 or count > 7:
        raise ValueError(f"bad UTF-8-coded number lead byte 0x{first:02X}")
    n = first & (0x7F >> count)
    for _ in range(count - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError(f"bad UTF-8-coded number continuation 0x{cont:02X}")
        n = (n << 6) | (cont & 0x3F)
    return n


# ---------------------------------------------------------------------------
# fixed predictors (orders 0-4) — the residual transforms
# ---------------------------------------------------------------------------

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _fixed_restore(residual: np.ndarray, warmup: np.ndarray, order: int) -> np.ndarray:
    out = warmup.astype(np.int64)
    r = residual.astype(np.int64)
    # invert the order-fold: cumulative sums seeded by the warmup diffs
    seeds = [out.copy()]
    for _ in range(order):
        seeds.append(np.diff(seeds[-1]))
    for o in range(order, 0, -1):
        seed = seeds[o - 1][-1] if len(seeds[o - 1]) else 0
        r = np.concatenate(([seed], r)).cumsum()[1:]
    return np.concatenate((out, r))


# ---------------------------------------------------------------------------
# LPC (linear predictive coding) — the subframe type real FLAC files are
# mostly made of. Encoder: autocorrelation → Levinson-Durbin → quantized
# integer coefficients; residual is a NON-recursive function of the
# original samples, so encode vectorizes. Decoder: the exact integer
# recurrence x[i] = res[i] + (Σ qcoef[j]·x[i-1-j]) >> shift.
# ---------------------------------------------------------------------------

_LPC_PRECISION = 12  # coefficient bits (cbits); spec field is precision-1
_LPC_MAX_SHIFT = 15  # 5-bit signed shift field, negatives prohibited


def _levinson_durbin(autoc: np.ndarray, order: int) -> np.ndarray:
    """Classic Levinson-Durbin recursion: autocorrelation → LPC coeffs
    (prediction convention: x[i] ≈ Σ a[j]·x[i-1-j])."""
    err = float(autoc[0])
    a = np.zeros(order)
    for i in range(order):
        acc = float(autoc[i + 1])
        for j in range(i):
            acc -= a[j] * autoc[i - j]
        k = acc / err if err > 0 else 0.0
        a[i] = k
        for j in range(i // 2):
            tmp = a[j]
            a[j] = tmp + k * a[i - 1 - j]
            a[i - 1 - j] += k * tmp
        if i & 1:
            a[i // 2] += k * a[i // 2]
        err *= 1.0 - k * k
        if err <= 0:
            break
    return a


def _quantize_lpc(coeffs: np.ndarray) -> tuple[np.ndarray, int]:
    """Quantize float LPC coefficients to _LPC_PRECISION-bit integers
    with the largest non-negative shift that keeps them in range."""
    cmax = float(np.abs(coeffs).max())
    if cmax <= 0:
        return np.zeros(len(coeffs), dtype=np.int64), 0
    # largest shift with round(cmax * 2^shift) < 2^(precision-1)
    shift = _LPC_MAX_SHIFT
    limit = (1 << (_LPC_PRECISION - 1)) - 1
    while shift > 0 and round(cmax * (1 << shift)) > limit:
        shift -= 1
    q = np.round(coeffs * (1 << shift)).astype(np.int64)
    return np.clip(q, -(limit + 1), limit), shift


def _lpc_predict(x: np.ndarray, qcoef: np.ndarray, shift: int) -> np.ndarray:
    """Integer prediction for samples [order:] from ORIGINAL samples —
    non-recursive, so it vectorizes: one shifted-column dot product."""
    order = len(qcoef)
    n = len(x) - order
    acc = np.zeros(n, dtype=np.int64)
    for j in range(order):
        acc += qcoef[j] * x[order - 1 - j : order - 1 - j + n]
    return acc >> shift


def _lpc_residual(x: np.ndarray, qcoef: np.ndarray, shift: int) -> np.ndarray:
    return x[len(qcoef) :] - _lpc_predict(x, qcoef, shift)


def _lpc_restore(
    residual: np.ndarray, warmup: np.ndarray, qcoef: np.ndarray, shift: int
) -> np.ndarray:
    """The decoder recurrence — sequential by construction (each sample
    feeds the next prediction), exact inverse of _lpc_residual."""
    order = len(qcoef)
    out = np.empty(order + len(residual), dtype=np.int64)
    out[:order] = warmup
    coefs = [int(c) for c in qcoef]
    o = out  # local alias for the hot loop
    for i in range(order, len(o)):
        acc = 0
        for j in range(order):
            acc += coefs[j] * int(o[i - 1 - j])
        o[i] = int(residual[i - order]) + (acc >> shift)
    return out


# ---------------------------------------------------------------------------
# rice residual coding (method 0, 4-bit parameters, escape 0b1111)
# ---------------------------------------------------------------------------

_RICE_ESCAPE = 0xF


def _zigzag(v: np.ndarray) -> np.ndarray:
    return (v << 1) ^ (v >> 63)


def _rice_cost(u: np.ndarray, param: int) -> int:
    return int((u >> param).sum()) + len(u) * (param + 1)


def _best_rice_param(u: np.ndarray) -> int:
    best, best_cost = 0, None
    for p in range(15):
        c = _rice_cost(u, p)
        if best_cost is None or c < best_cost:
            best, best_cost = p, c
    return best


def _rice_bits(u: np.ndarray, param: int) -> np.ndarray:
    """The rice codes for zigzagged values ``u`` as ONE 0/1 bit vector:
    per code, ``q = u >> param`` zero bits, a one terminator, then the
    ``param`` low bits MSB-first — exactly the bits a per-sample
    ``write(1, q + 1)`` + ``write(low, param)`` loop emits, built with
    cumulative-sum indexing instead of 2 Python bit-writer calls per
    sample (the mm25 encode entropy loop)."""
    u = u.astype(np.int64)
    q = u >> param
    lens = q + 1 + param
    ends = np.cumsum(lens)
    out = np.zeros(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    tpos = ends - 1 - param  # terminator position per code
    out[tpos] = 1
    if param:
        idx = tpos[:, None] + 1 + np.arange(param)
        shifts = param - 1 - np.arange(param)
        out[idx.ravel()] = ((u[:, None] >> shifts[None, :]) & 1).astype(
            np.uint8
        ).ravel()
    return out


def _signed_bits(vals: np.ndarray, nbits: int) -> np.ndarray:
    """``nbits``-wide two's-complement fields as one 0/1 bit vector —
    the bulk form of the per-sample ``_write_signed`` loop (verbatim
    subframes and rice escape partitions)."""
    masked = vals.astype(np.int64) & ((1 << nbits) - 1)
    shifts = nbits - 1 - np.arange(nbits)
    return ((masked[:, None] >> shifts[None, :]) & 1).astype(np.uint8).ravel()


def _write_residual(bw: MsbWriter, residual: np.ndarray, order: int, block: int,
                    partition_order: int) -> None:
    bw.write(0, 2)  # coding method 0: 4-bit rice
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    if block % nparts or (block >> partition_order) <= order:
        raise ValueError(
            f"partition order {partition_order} illegal for block {block} "
            f"order {order}"
        )
    pos = 0
    for part in range(nparts):
        n = (block >> partition_order) - (order if part == 0 else 0)
        seg = residual[pos : pos + n]
        pos += n
        u = _zigzag(seg.astype(np.int64))
        param = _best_rice_param(u)
        # escape when verbatim is cheaper (pathological residuals)
        raw_bits = max(int(u.max(initial=0)).bit_length() + 1, 1)
        if raw_bits * n < _rice_cost(u, param):
            bw.write(_RICE_ESCAPE, 4)
            bw.write(raw_bits, 5)
            bw.write_bits_array(_signed_bits(seg, raw_bits))
            continue
        bw.write(param, 4)
        bw.write_bits_array(_rice_bits(u, param))


def _read_residual(br: MsbReader, cache: dict, order: int, block: int) -> np.ndarray:
    method = br.read(2)
    if method != 0:
        raise ValueError(f"unsupported residual coding method {method}")
    partition_order = br.read(4)
    nparts = 1 << partition_order
    if block % nparts or (block >> partition_order) <= order:
        raise ValueError(
            f"corrupt residual: partition order {partition_order} illegal "
            f"for block {block} order {order}"
        )
    parts: list[np.ndarray] = []
    for part in range(nparts):
        n = (block >> partition_order) - (order if part == 0 else 0)
        param = br.read(4)
        if param == _RICE_ESCAPE:
            # read the 5-bit raw_bits field even for n == 0 so the
            # bitstream stays aligned: libFLAC accepts a zero-sample
            # first partition, and skipping the field here would
            # silently desync if the order guard above relaxes
            raw_bits = br.read(5)
            if n == 0:
                continue
            if raw_bits == 0:
                parts.append(np.zeros(n, dtype=np.int64))
            else:
                parts.append(_read_signed_block(br, cache, n, raw_bits))
            continue
        if n == 0:
            continue
        u = _read_rice_block(br, cache, n, param)
        parts.append((u >> 1) ^ -(u & 1))  # un-zigzag
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


# ---------------------------------------------------------------------------
# subframes
# ---------------------------------------------------------------------------


def _write_subframe(bw: MsbWriter, x: np.ndarray, bits: int,
                    partition_order: int) -> None:
    block = len(x)
    x64 = x.astype(np.int64)
    if block and (x64 == x64[0]).all():
        bw.write(0, 1)
        bw.write(0b000000, 6)  # CONSTANT
        bw.write(0, 1)
        _write_signed(bw, int(x64[0]), bits)
        return
    # pick the fixed order with the smallest |residual| mass (the
    # standard order-selection heuristic); order capped by block length
    best_order, best_res, best_cost = 0, x64, None
    for order in range(min(4, max(block - 1, 0)) + 1):
        res = _fixed_residual(x64, order)
        cost = int(np.abs(res).sum())
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    u = _zigzag(best_res)
    fixed_bits = _rice_cost(u, _best_rice_param(u)) + best_order * bits

    # LPC candidate: autocorrelation -> Levinson-Durbin -> quantized
    # integer coefficients; chosen over FIXED only when its rice bits
    # (plus the coefficient-block overhead) actually win
    lpc = None
    if block > 16:
        lorder = min(8, block - 1)
        xf = x64.astype(np.float64)
        autoc = np.array(
            [float(np.dot(xf[: block - k], xf[k:])) for k in range(lorder + 1)]
        )
        if autoc[0] > 0:
            qcoef, shift = _quantize_lpc(_levinson_durbin(autoc, lorder))
            if qcoef.any():
                lres = _lpc_residual(x64, qcoef, shift)
                lu = _zigzag(lres)
                lbits = (
                    _rice_cost(lu, _best_rice_param(lu))
                    + lorder * bits
                    + 4 + 5 + lorder * _LPC_PRECISION
                )
                if lbits < fixed_bits:
                    lpc = (lorder, qcoef, shift, lres, lbits)

    chosen_bits = lpc[4] if lpc else fixed_bits
    # verbatim when no predictor beats raw packing
    if chosen_bits >= block * bits:
        bw.write(0, 1)
        bw.write(0b000001, 6)  # VERBATIM
        bw.write(0, 1)
        bw.write_bits_array(_signed_bits(x64, bits))
        return
    if lpc:
        lorder, qcoef, shift, lres, _ = lpc
        bw.write(0, 1)
        bw.write(0b100000 | (lorder - 1), 6)  # LPC
        bw.write(0, 1)  # no wasted bits
        for v in x64[:lorder]:
            _write_signed(bw, int(v), bits)
        bw.write(_LPC_PRECISION - 1, 4)
        bw.write(shift, 5)  # non-negative: same bits as 2's-complement
        for c in qcoef:
            _write_signed(bw, int(c), _LPC_PRECISION)
        po = partition_order
        while po and (block % (1 << po) or (block >> po) <= lorder):
            po -= 1
        _write_residual(bw, lres, lorder, block, po)
        return
    bw.write(0, 1)
    bw.write(0b001000 | best_order, 6)  # FIXED
    bw.write(0, 1)  # no wasted bits
    for v in x64[:best_order]:
        _write_signed(bw, int(v), bits)
    po = partition_order
    while po and (block % (1 << po) or (block >> po) <= best_order):
        po -= 1
    _write_residual(bw, best_res, best_order, block, po)


def _read_subframe(br: MsbReader, cache: dict, block: int, bits: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("subframe header padding bit set (corrupt stream)")
    stype = br.read(6)
    if br.read(1):
        raise ValueError(
            "wasted-bits subframes not implemented in this engine"
        )
    if stype == 0b000000:  # CONSTANT
        return np.full(block, _read_signed(br, bits), dtype=np.int64)
    if stype == 0b000001:  # VERBATIM
        return np.array([_read_signed(br, bits) for _ in range(block)], dtype=np.int64)
    if 0b001000 <= stype <= 0b001100:  # FIXED order 0-4
        order = stype & 0x7
        if order > block:
            raise ValueError(f"FIXED order {order} exceeds block {block}")
        warmup = np.array(
            [_read_signed(br, bits) for _ in range(order)], dtype=np.int64
        )
        residual = _read_residual(br, cache, order, block)
        return _fixed_restore(residual, warmup, order)
    if stype & 0b100000:  # LPC order 1-32
        order = (stype & 0x1F) + 1
        if order > block:
            raise ValueError(f"LPC order {order} exceeds block {block}")
        warmup = np.array(
            [_read_signed(br, bits) for _ in range(order)], dtype=np.int64
        )
        prec_code = br.read(4)
        if prec_code == 0b1111:
            raise ValueError("invalid LPC coefficient precision code 0b1111")
        precision = prec_code + 1
        shift = _read_signed(br, 5)
        if shift < 0:
            raise ValueError(
                f"negative LPC quantization shift {shift} (prohibited)"
            )
        qcoef = np.array(
            [_read_signed(br, precision) for _ in range(order)], dtype=np.int64
        )
        residual = _read_residual(br, cache, order, block)
        return _lpc_restore(residual, warmup, qcoef, shift)
    raise ValueError(f"reserved subframe type 0b{stype:06b}")


# ---------------------------------------------------------------------------
# channel decorrelation
# ---------------------------------------------------------------------------

_ASSIGN_INDEPENDENT_MONO = 0b0000
_ASSIGN_INDEPENDENT_STEREO = 0b0001
_ASSIGN_LEFT_SIDE = 0b1000
_ASSIGN_RIGHT_SIDE = 0b1001
_ASSIGN_MID_SIDE = 0b1010

_MODE_TO_ASSIGN = {
    "independent": _ASSIGN_INDEPENDENT_STEREO,
    "left_side": _ASSIGN_LEFT_SIDE,
    "right_side": _ASSIGN_RIGHT_SIDE,
    "mid_side": _ASSIGN_MID_SIDE,
}


def _decorrelate(left: np.ndarray, right: np.ndarray, assign: int):
    l64, r64 = left.astype(np.int64), right.astype(np.int64)
    if assign == _ASSIGN_INDEPENDENT_STEREO:
        return [(l64, 16), (r64, 16)]
    side = l64 - r64
    if assign == _ASSIGN_LEFT_SIDE:
        return [(l64, 16), (side, 17)]
    if assign == _ASSIGN_RIGHT_SIDE:
        return [(side, 17), (r64, 16)]
    if assign == _ASSIGN_MID_SIDE:
        return [((l64 + r64) >> 1, 16), (side, 17)]
    raise ValueError(f"bad stereo assignment {assign:#06b}")


def _recorrelate(chans: list[np.ndarray], assign: int) -> list[np.ndarray]:
    if assign == _ASSIGN_INDEPENDENT_STEREO:
        return chans
    a, b = chans
    if assign == _ASSIGN_LEFT_SIDE:
        return [a, a - b]
    if assign == _ASSIGN_RIGHT_SIDE:
        return [a + b, b]
    if assign == _ASSIGN_MID_SIDE:
        mid2 = (a << 1) | (b & 1)
        return [(mid2 + b) >> 1, (mid2 - b) >> 1]
    raise ValueError(f"bad stereo assignment {assign:#06b}")


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 8000,
    block_size: int = 4096,
    channel_mode: str | None = None,
    partition_order: int = 2,
) -> bytes:
    """Serialize int16 PCM as a real FLAC stream.

    ``samples``: shape ``(n,)`` mono or ``(2, n)`` stereo int16.
    ``channel_mode`` (stereo only): independent / left_side /
    right_side / mid_side — default cycles deterministically per frame
    by picking the cheapest decorrelation (|side| mass heuristic).
    """
    arr = np.asarray(samples)
    if arr.dtype != np.int16:
        raise ValueError(f"FLAC encoder expects int16 PCM, got {arr.dtype}")
    if arr.ndim == 1:
        chans = arr.reshape(1, -1)
    elif arr.ndim == 2 and arr.shape[0] == 2:
        chans = arr
    else:
        raise ValueError(f"samples must be (n,) or (2, n); got {arr.shape}")
    n_channels, total = chans.shape
    if total == 0:
        raise ValueError("cannot encode an empty stream")
    if not 16 <= block_size <= 65535:
        raise ValueError(f"block size {block_size} outside [16, 65535]")
    if not 1 <= sample_rate < (1 << 20):
        raise ValueError(f"sample rate {sample_rate} outside FLAC's 20-bit field")
    if channel_mode is not None and channel_mode not in _MODE_TO_ASSIGN:
        raise ValueError(f"unknown channel_mode {channel_mode!r}")

    md5 = hashlib.md5(
        chans.T.reshape(-1).astype("<i2").tobytes()
    ).digest()  # interleaved little-endian, per spec

    # STREAMINFO
    si = MsbWriter()
    si.write(block_size, 16)  # min block
    si.write(block_size, 16)  # max block (fixed-blocksize strategy)
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(16 - 1, 5)
    si.write(total, 36)
    info = si.getvalue() + md5

    out = bytearray(b"fLaC")
    out.append(0x80)  # last-metadata-block flag + type 0 (STREAMINFO)
    out += len(info).to_bytes(3, "big")
    out += info

    for frame_no, start in enumerate(range(0, total, block_size)):
        block = min(block_size, total - start)
        bw = MsbWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed-blocksize strategy
        bw.write(0b0111, 4)  # blocksize: 16-bit value-1 follows
        bw.write(0b0000, 4)  # sample rate: from STREAMINFO
        if n_channels == 1:
            assign = _ASSIGN_INDEPENDENT_MONO
            subs = [(chans[0, start : start + block].astype(np.int64), 16)]
        else:
            left = chans[0, start : start + block]
            right = chans[1, start : start + block]
            if channel_mode is None:
                side_mass = int(
                    np.abs(left.astype(np.int64) - right.astype(np.int64)).sum()
                )
                indep_mass = int(np.abs(np.diff(right.astype(np.int64))).sum()) + 1
                assign = (
                    _ASSIGN_MID_SIDE if side_mass < indep_mass
                    else _ASSIGN_INDEPENDENT_STEREO
                )
            else:
                assign = _MODE_TO_ASSIGN[channel_mode]
            subs = _decorrelate(left, right, assign)
        bw.write(assign, 4)
        bw.write(0b100, 3)  # 16-bit sample size
        bw.write(0, 1)  # reserved
        header_tail = _utf8_encode_number(frame_no)
        for b in header_tail:
            bw.write(b, 8)
        bw.write(block - 1, 16)
        bw.write(crc8(bw.getvalue()), 8)  # the header is whole bytes
        for x, bits in subs:
            _write_subframe(bw, x, bits, partition_order)
        bw.align()
        frame = bw.getvalue()
        out += frame
        out += crc16(frame).to_bytes(2, "big")
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def parse_flac(payload: bytes) -> dict:
    """REAL FLAC decode: magic + metadata walk, STREAMINFO geometry,
    per-frame sync/CRC-8/CRC-16 verification, subframe + rice residual
    decode, stereo re-correlation, and the STREAMINFO MD5 check over
    the reconstructed PCM — a stream that decodes at all decodes
    EXACTLY. Returns geometry + ``samples`` shaped (channels, n)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        head = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("truncated metadata block body")
        if head & 0x7F == 0:
            if length != 34:
                raise ValueError(f"STREAMINFO must be 34 bytes, got {length}")
            streaminfo = body
        elif head & 0x7F == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + length
        if head & 0x80:
            break
    if streaminfo is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    si = MsbReader(streaminfo)
    min_block, max_block = si.read(16), si.read(16)
    si.read(24), si.read(24)  # frame-size bounds (informational)
    sample_rate = si.read(20)
    n_channels = si.read(3) + 1
    bits = si.read(5) + 1
    total = si.read(36)
    md5_expect = streaminfo[18:34]
    if bits != 16:
        raise ValueError(f"{bits}-bit FLAC not implemented (16-bit only)")
    if min_block != max_block:
        raise ValueError("variable-blocksize streams not implemented")
    if n_channels > 2:
        raise ValueError(f"{n_channels}-channel FLAC not implemented (mono/stereo)")

    chans: list[list[np.ndarray]] = [[] for _ in range(n_channels)]
    decoded = 0
    n_frames = 0
    bit_cache: dict = {}  # unpacked-bit array shared across frame readers
    while decoded < total:
        br = MsbReader(payload, pos * 8)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError(f"lost frame sync at byte {pos} (read {sync:#016b})")
        if br.read(1):
            raise ValueError("reserved frame-header bit set")
        blocking = br.read(1)
        if blocking:
            raise ValueError("variable-blocksize frames not implemented")
        bs_code = br.read(4)
        sr_code = br.read(4)
        assign = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("reserved frame-header bit set")
        frame_no = _utf8_decode_number(br)
        if bs_code == 0b0110:
            block = br.read(8) + 1
        elif bs_code == 0b0111:
            block = br.read(16) + 1
        elif bs_code == 0b0001:
            block = 192
        elif 0b0010 <= bs_code <= 0b0101:
            block = 576 << (bs_code - 2)
        elif 0b1000 <= bs_code <= 0b1111:
            block = 256 << (bs_code - 8)
        else:
            raise ValueError(f"reserved blocksize code {bs_code:#06b}")
        if sr_code == 0b0000:
            pass  # from STREAMINFO
        elif sr_code in (0b1100, 0b1101, 0b1110):
            br.read(8 if sr_code == 0b1100 else 16)  # explicit rate field
        elif sr_code == 0b1111:
            raise ValueError("invalid sample-rate code 0b1111")
        if ss_code != 0b100:
            raise ValueError(
                f"sample-size code {ss_code:#05b} not implemented (16-bit only)"
            )
        header_end = br.pos >> 3  # the header is whole bytes
        if crc8(payload[pos:header_end]) != br.read(8):
            raise ValueError(f"frame {frame_no} header CRC-8 mismatch")
        if assign == _ASSIGN_INDEPENDENT_MONO:
            if n_channels != 1:
                raise ValueError("mono frame in a stereo stream")
            sub_bits = [16]
        elif assign == _ASSIGN_INDEPENDENT_STEREO:
            sub_bits = [16, 16]
        elif assign == _ASSIGN_LEFT_SIDE:
            sub_bits = [16, 17]
        elif assign == _ASSIGN_RIGHT_SIDE:
            sub_bits = [17, 16]
        elif assign == _ASSIGN_MID_SIDE:
            sub_bits = [16, 17]
        elif assign <= 0b0111:
            raise ValueError(
                f"{assign + 1}-channel frames not implemented (mono/stereo)"
            )
        else:
            raise ValueError(f"reserved channel assignment {assign:#06b}")
        if n_channels == 2 and len(sub_bits) != 2:
            raise ValueError("stereo stream carries a non-2-channel frame")
        raw = [_read_subframe(br, bit_cache, block, b) for b in sub_bits]
        br.align()
        frame_end = br.pos >> 3
        footer = int.from_bytes(payload[frame_end : frame_end + 2], "big")
        if crc16(payload[pos:frame_end]) != footer:
            raise ValueError(f"frame {frame_no} CRC-16 mismatch")
        pos = frame_end + 2
        if n_channels == 2:
            raw = _recorrelate(raw, assign)
        for c, x in enumerate(raw):
            if (x < -(1 << 15)).any() or (x >= (1 << 15)).any():
                raise ValueError(
                    f"frame {frame_no} channel {c} decodes outside int16"
                )
            chans[c].append(x)
        decoded += block
        n_frames += 1
    if decoded != total:
        raise ValueError(
            f"decoded {decoded} samples, STREAMINFO declares {total}"
        )
    samples = np.stack([np.concatenate(c).astype(np.int16) for c in chans])
    md5_got = hashlib.md5(samples.T.reshape(-1).astype("<i2").tobytes()).digest()
    if md5_got != md5_expect:
        raise ValueError("decoded PCM fails the STREAMINFO MD5 check")
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits_per_sample": bits,
        "total_samples": total,
        "n_frames": n_frames,
        "samples": samples,
    }


# ---------------------------------------------------------------------------
# Spark layer — map-only synthesis + decode (the mm4/mm18 pattern:
# invertible text -> PCM mapping, so a SQL oracle recomputes decoded
# stats straight from the characters; FLAC being LOSSLESS is what makes
# that possible with no codec replay)
# ---------------------------------------------------------------------------

FLAC_SAMPLE_RATE = 8000
FLAC_BLOCK = 64  # small on purpose: multi-frame paths exercised per doc


def _text_to_pcm(doc_id: int, text: str):
    """The invertible synthesis mapping: byte b -> int16 (b-128)*256.
    Every third doc is STEREO (even chars -> left, odd -> right,
    truncated to pairs) so decorrelated-channel frames are exercised;
    docs too short for a pair stay mono."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int16)
    pcm = (b - 128) * 256
    if doc_id % 3 == 0 and len(pcm) >= 2:
        n = len(pcm) // 2
        return np.stack([pcm[0 : 2 * n : 2], pcm[1 : 2 * n : 2]])
    return pcm


def with_flac_payload(df, text_col: str = "text"):
    """Attach a real FLAC stream per row (Arrow-batched, map-only)."""
    from pipeline_mf_etl_spark.payload import synth_payload

    def encode(i, t):
        if len(t) < 1:
            return None
        return encode_flac(
            _text_to_pcm(int(i), t), sample_rate=FLAC_SAMPLE_RATE, block_size=FLAC_BLOCK
        )

    return synth_payload(
        df, encode, "audio/flac", cols=("doc_id", text_col), nullable=True
    )


def decode_flac_features(df, id_col: str = "doc_id"):
    """Decode each FLAC payload (full parse: CRCs, rice, predictors,
    re-correlation, MD5) and emit exact-integer statistics. ``dot0``
    weights channel-0 samples by position so a decoder that reorders
    or drops frames cannot hash-match."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pipeline_mf_etl_spark.payload import map_payload

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_channels", LongType(), False),
            StructField("total_samples", LongType(), False),
            StructField("n_frames", LongType(), False),
            StructField("sample_rate", LongType(), False),
            StructField("sum_samples", LongType(), False),
            StructField("max_abs", LongType(), False),
            StructField("dot0", LongType(), False),
        ]
    )

    def rows(doc_id, payload):
        if payload is None:
            return
        f = parse_flac(payload)
        s = f["samples"].astype(np.int64)
        ch0 = s[0]
        yield (
            int(doc_id),
            f["n_channels"],
            f["total_samples"],
            f["n_frames"],
            f["sample_rate"],
            int(s.sum()),
            int(np.abs(s).max()),
            int((ch0 * (np.arange(len(ch0)) + 1)).sum()),
        )

    return map_payload(df, schema, rows, id_col)
