"""Multimodal column operators: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with typed metadata, and runs decode / feature
extraction / frame sampling as Arrow-batched Python (every step goes
through ``payload.synth_payload`` or ``payload.map_payload``). The
container has no image/audio codecs, so the DECODE step is a
clearly-marked gate (``decode_media``); everything around it —
schema, batch shape, partitioning, deterministic byte-level features —
is real and tested.

The documents corpus stands in for the payload source: ``text`` encoded
to UTF-8 bytes is the binary column. All byte-level features are
deterministic, so results are oracle- or invariant-checkable.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.bitio import MsbReader, MsbWriter, canonical_codes
from pipeline_mf_etl_spark.payload import map_payload, synth_payload

N_HIST_BINS = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("byte_hist", ArrayType(DoubleType()), False),
        StructField("byte_mean", DoubleType(), True),
        StructField("payload_sha256", StringType(), False),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque payload column + typed metadata (the multimodal
    column contract: payload bytes, mime, size)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "mime", F.lit("text/plain;fake-modality")
    )


def decode_media(payload_bytes: bytes, mime: str):
    """Decode dispatch for multimodal payloads.

    ``audio/wav`` decodes NATIVELY (``parse_wav`` below — a real,
    dependency-free RIFF/PCM parser), as do ``image/x-portable-
    pixmap`` (``parse_ppm`` — binary PPM), ``image/png``
    (``parse_png`` — full zlib+filters decode, stdlib only) and
    ``image/jpeg`` (``parse_jpeg_gray`` — baseline-sequential
    grayscale: Huffman entropy decode + dequantize + IDCT; color /
    progressive variants fail loudly inside it) and ``video/mp4``
    (``parse_mp4`` — real ISO-BMFF box walk + sample-table demux;
    uncompressed 'raw ' tracks decode fully). Compressed TRACK
    formats (H.264/H.265 inside MP4) still need codec libraries (av)
    absent in this environment, so those raise at the stsd gate."""
    if mime.startswith("audio/wav") or mime.startswith("audio/x-wav"):
        return parse_wav(payload_bytes)
    if mime.startswith("image/x-portable-pixmap"):
        return parse_ppm(payload_bytes)
    if mime.startswith("image/png"):
        return parse_png(payload_bytes)
    if mime.startswith("image/jpeg"):
        return parse_jpeg_gray(payload_bytes)
    if mime.startswith("video/x-yuv4mpeg"):
        return parse_y4m(payload_bytes)
    if mime.startswith("video/mp4"):
        # real ISO-BMFF demux; uncompressed 'raw ' tracks decode fully,
        # compressed sample entries raise at the stsd gate inside
        return parse_mp4(payload_bytes)
    # COMPRESSED image/video decode is not implemented in this engine
    # regardless of installed libraries — raise ALWAYS (returning None
    # silently would hide the gap in environments where PIL happens to be
    # importable); chain the ImportError when the codec lib is the
    # missing piece. Uncompressed formats decode natively above.
    try:  # pragma: no cover - depends on env
        import PIL.Image  # noqa: F401

        raise NotImplementedError(
            f"decode for mime {mime!r} is not implemented; integrate "
            "PIL/av here in production images. audio/wav, image PPM and "
            "video Y4M decode natively (parse_wav/parse_ppm/parse_y4m)."
        )
    except ImportError as exc:
        raise NotImplementedError(
            "compressed image/video decode requires a codec library "
            "(PIL/av); install them in production images. audio/wav, "
            "image PPM and video Y4M decode natively."
        ) from exc


# ---------------------------------------------------------------------------
# RIFF container, shared by WAV (PCM16 and IMA-ADPCM) and WebP: 'RIFF'
# <u32le size> <form fourcc>, then chunks of <fourcc> <u32le size> <body>,
# each odd-sized body followed by one pad byte. ``riff_chunks`` is the one
# reader and ``riff`` the one writer (operators/vp8l.py imports both).
# ---------------------------------------------------------------------------


def riff_chunks(payload: bytes, form: bytes) -> list[tuple[bytes, bytes]]:
    """The ``(fourcc, body)`` chunks of a RIFF file of the given form, in
    file order; the pad byte after an odd-sized body is skipped (the last
    chunk may omit it, as many writers do). Raises ``ValueError`` unless
    the 'RIFF'/form signature is present, the declared RIFF size plus 8
    equals ``len(payload)`` and no chunk header or body is cut short."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != form:
        raise ValueError(f"not a RIFF/{form.decode('latin-1')} payload")
    declared = int.from_bytes(payload[4:8], "little")
    if declared + 8 != len(payload):
        raise ValueError(
            f"truncated or padded RIFF: size {declared} disagrees with "
            f"file size {len(payload) - 8}"
        )
    chunks = []
    pos = 12
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError(f"truncated chunk header at byte {pos}")
        fourcc = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"chunk {fourcc!r} truncated ({len(body)}/{size})")
        chunks.append((fourcc, body))
        pos += 8 + size + (size & 1)
    return chunks


def riff(form: bytes, chunks: list[tuple[bytes, bytes]]) -> bytes:
    """A RIFF file of the given form holding ``(fourcc, body)`` chunks in
    order, each odd-sized body padded with one zero byte."""
    body = form + b"".join(
        fourcc + len(data).to_bytes(4, "little") + data + b"\x00" * (len(data) & 1)
        for fourcc, data in chunks
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


# ---------------------------------------------------------------------------
# WAV PCM16 — dependency-free encoder (test/synthesis side) + decoder
# (the real codec path). RIFF form 'WAVE': 'fmt ' carries (audio_format=1
# PCM, channels, sample_rate, byte_rate, block_align, bits) and 'data'
# carries the little-endian PCM samples.
# ---------------------------------------------------------------------------
WAV_SAMPLE_RATE = 8000


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """Serialize int16 mono samples as a standards-compliant PCM16 WAV."""
    import struct

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        1,  # mono
        sample_rate,
        sample_rate * 2,  # byte rate = rate * block_align
        2,  # block align (mono int16)
        16,  # bits per sample
    )
    return riff(b"WAVE", [(b"fmt ", fmt), (b"data", pcm)])


def parse_wav(payload: bytes) -> dict:
    """REAL minimal WAV decoder: validate the RIFF framing, take the 'fmt '
    and 'data' chunks, check PCM16, and return the decoded header fields
    plus the sample array. Fails loudly on malformed or non-PCM16 input —
    never guesses."""
    import struct

    chunks = dict(riff_chunks(payload, b"WAVE"))
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("missing fmt/data chunk")
    if len(chunks[b"fmt "]) < 16:
        raise ValueError("truncated WAV fmt chunk (under 16 bytes)")
    audio_format, channels, rate, _byte_rate, _block, bits = struct.unpack_from(
        "<HHIIHH", chunks[b"fmt "]
    )
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding: format={audio_format} bits={bits}")
    samples = np.frombuffer(chunks[b"data"], dtype="<i2")
    return {
        "sample_rate": int(rate),
        "n_channels": int(channels),
        "bits_per_sample": int(bits),
        "samples": samples,
    }


WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_channels", LongType(), False),
        StructField("bits_per_sample", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_s", DoubleType(), True),
        StructField("mean_amp", DoubleType(), True),
        StructField("rms_amp", DoubleType(), True),
        StructField("peak_amp", LongType(), True),
    ]
)


# ---------------------------------------------------------------------------
# IMA-ADPCM (DVI4) — the COMPRESSED-audio leg of the codec family
# (public spec: IMA Digital Audio Focus Group 1992; WAV wFormatTag
# 0x0011). 4-bit differential codes against an 89-entry step table;
# every operation is exact integer arithmetic, so decode is bit-
# deterministic and a SQL oracle can REPLAY the recurrence.
# ---------------------------------------------------------------------------
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]  # by code & 7

ADPCM_BLOCK_ALIGN = 8  # 4-byte block header + 4 code bytes = 9 samples
ADPCM_SAMPLES_PER_BLOCK = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1


def _ima_decode_step(pred: int, idx: int, code: int) -> tuple[int, int]:
    """One IMA-ADPCM decode step — exact integer semantics shared by
    the Python decoder and the SQL oracle replay."""
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    if code & 8:
        pred -= diff
    else:
        pred += diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_ADJUST[code & 7]))
    return pred, idx


def _wav_adpcm_container(
    data: bytes, n_samples: int, sample_rate: int, channels: int = 1
) -> bytes:
    """Shared IMA-ADPCM WAV container (fmt 0x0011 + fact + data) — one
    implementation for both the real encoder and the code-mux synthesis
    path, so a container change can never desynchronize them. Stereo
    blocks are the standard layout: one 4-byte header per channel, then
    4-byte (8-nibble) code words round-robin L/R; block align scales to
    8 * channels so samples-per-block stays 9 for both widths.
    ``n_samples`` is PER-CHANNEL frames (the WAV fact convention)."""
    import struct

    spb = ADPCM_SAMPLES_PER_BLOCK
    block_align = ADPCM_BLOCK_ALIGN * channels
    byte_rate = sample_rate * block_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x0011, channels, sample_rate, byte_rate,
        block_align, 4, 2, spb,
    )
    fact = struct.pack("<I", n_samples)
    return riff(b"WAVE", [(b"fmt ", fmt), (b"fact", fact), (b"data", data)])


def _ima_encode_block(blk: np.ndarray, idx: int) -> tuple[bytes, bytes, int]:
    """Greedy-encode one channel's block (spb samples): returns the
    4-byte header (true first sample + incoming step index), the packed
    nibble bytes (low nibble first), and the outgoing step index."""
    import struct

    pred = int(blk[0])
    header = struct.pack("<hBB", pred, idx, 0)
    nibbles = []
    for v in blk[1:]:
        target = int(v)
        step = IMA_STEP_TABLE[idx]
        diff = target - pred
        code = 0
        if diff < 0:
            code = 8
            diff = -diff
        if diff >= step:
            code |= 4
            diff -= step
        if diff >= step >> 1:
            code |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            code |= 1
        pred, idx = _ima_decode_step(pred, idx, code)
        nibbles.append(code)
    packed = bytearray()
    for i in range(0, len(nibbles), 2):
        packed.append(nibbles[i] | (nibbles[i + 1] << 4))  # low nibble first
    return header, bytes(packed), idx


def encode_wav_adpcm(samples: np.ndarray, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """Encode int16 PCM as a standards-shaped IMA-ADPCM WAV (format
    0x0011): per block and per channel, a 4-byte header (true first
    sample + step index) then 4-bit codes chosen greedily to minimize
    each step's error — the standard encoder. A 1-D array encodes
    mono; a (2, n) array encodes STEREO with independent per-channel
    predictor/step state and the standard round-robin 4-byte code
    words. Lossy by design; the decoder below reverses the CONTAINER
    exactly and the codes deterministically."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        chans = samples[None, :]
    elif samples.ndim == 2 and samples.shape[0] in (1, 2):
        chans = samples
    else:
        raise ValueError(f"PCM must be 1-D mono or (2, n) stereo, got {samples.shape}")
    ch, n = chans.shape
    spb = ADPCM_SAMPLES_PER_BLOCK
    n_blocks = -(-n // spb) if n else 0
    pad = n_blocks * spb - n
    if pad:
        fill = chans[:, -1:] if n else np.zeros((ch, 1), np.int16)
        chans = np.concatenate([chans, np.repeat(fill, pad, axis=1)], axis=1)
    idxs = [0] * ch
    out = bytearray()
    for b in range(n_blocks):
        headers, words = [], []
        for c in range(ch):
            blk = chans[c, b * spb : (b + 1) * spb]
            header, packed, idxs[c] = _ima_encode_block(blk, idxs[c])
            headers.append(header)
            words.append(packed)
        out += b"".join(headers)
        # round-robin 4-byte words per channel (mono: the whole run)
        for w in range(0, len(words[0]), 4):
            for c in range(ch):
                out += words[c][w : w + 4]
    return _wav_adpcm_container(bytes(out), n, sample_rate, channels=ch)


def encode_wav_adpcm_codes(
    headers: list[tuple[int, int]],
    codes: list[int],
    sample_rate: int = WAV_SAMPLE_RATE,
    channels: int = 1,
) -> bytes:
    """Mux PRE-CHOSEN block headers (predictor, index) and 4-bit codes
    into the same IMA-ADPCM WAV container — the synthesis path: the
    decoded PCM is then a pure deterministic replay of the codes, which
    a recursive-CTE oracle can recompute sample by sample. With
    ``channels=2``, consecutive (header, codes) groups pair up as the
    L/R halves of one stereo container block (so ``headers`` must be
    even-length), laid out standards-style: both 4-byte headers, then
    the L code word, then the R code word."""
    import struct

    if channels not in (1, 2):
        raise ValueError(f"channels must be 1 or 2, got {channels}")
    spb = ADPCM_SAMPLES_PER_BLOCK
    cpb = spb - 1
    if len(codes) != len(headers) * cpb:
        raise ValueError(
            f"{len(headers)} blocks need {len(headers) * cpb} codes, got {len(codes)}"
        )
    if len(headers) % channels:
        raise ValueError(
            f"stereo needs an even header count, got {len(headers)}"
        )
    packed: list[bytes] = []
    for b, (pred, idx) in enumerate(headers):
        if not (-32768 <= pred <= 32767 and 0 <= idx <= 88):
            raise ValueError(f"block {b}: header ({pred}, {idx}) out of range")
        blk = codes[b * cpb : (b + 1) * cpb]
        word = bytearray(struct.pack("<hBB", pred, idx, 0))
        for i in range(0, cpb, 2):
            word.append(blk[i] | (blk[i + 1] << 4))
        packed.append(bytes(word))
    out = bytearray()
    for g in range(0, len(packed), channels):
        group = packed[g : g + channels]
        for p in group:  # headers first ...
            out += p[:4]
        for p in group:  # ... then the code words, round-robin
            out += p[4:]
    n_frames = (len(headers) // channels) * spb
    return _wav_adpcm_container(bytes(out), n_frames, sample_rate, channels=channels)


def parse_wav_adpcm(payload: bytes) -> dict:
    """REAL IMA-ADPCM WAV decoder: RIFF chunk walk, fmt validation
    (format 0x0011, mono or STEREO, 4-bit, block structure), fact-chunk
    frame count, then per-block header + nibble-stream replay through
    the exact integer recurrence — stereo blocks carry one header per
    channel and round-robin 4-byte code words with INDEPENDENT
    per-channel predictor/step state. ``samples`` is 1-D for mono and
    (2, n_frames) for stereo. Fails loudly on malformed containers,
    >2 channels, non-IMA formats, short blocks, or header fields out
    of range — never guesses."""
    import struct

    chunks = dict(riff_chunks(payload, b"WAVE"))
    fmt, data = chunks.get(b"fmt "), chunks.get(b"data")
    if fmt is None or data is None:
        raise ValueError("WAV carries no fmt/data chunk")
    fact = chunks.get(b"fact")
    if len(fmt) < 16 or (fact is not None and len(fact) < 4):
        raise ValueError("truncated WAV fmt or fact chunk")
    n_samples = None if fact is None else struct.unpack_from("<I", fact)[0]
    tag, channels, rate, _, block_align, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag != 0x0011:
        raise ValueError(f"not IMA-ADPCM (wFormatTag 0x{tag:04X})")
    if channels not in (1, 2):
        raise NotImplementedError(f"{channels}-channel ADPCM not supported")
    if bits != 4:
        raise ValueError(f"IMA-ADPCM must be 4-bit, got {bits}")
    if len(fmt) < 20:
        raise ValueError("IMA-ADPCM fmt chunk missing samples-per-block")
    (spb,) = struct.unpack("<H", fmt[18:20])
    if spb != (block_align - 4 * channels) * 2 // channels + 1:
        raise ValueError(
            f"samples-per-block {spb} inconsistent with block align "
            f"{block_align} at {channels} channel(s)"
        )
    if channels == 2 and (block_align - 8) % 8:
        raise ValueError(
            f"stereo block align {block_align} is not whole round-robin "
            f"4-byte words per channel"
        )
    if len(data) % block_align:
        raise ValueError(
            f"data chunk ({len(data)} bytes) is not whole {block_align}-byte blocks"
        )
    n_blocks = len(data) // block_align
    if n_samples is None:
        n_samples = n_blocks * spb
    if not (n_blocks * spb - (spb - 1) <= n_samples <= n_blocks * spb) and n_samples != 0:
        raise ValueError(
            f"fact count {n_samples} impossible for {n_blocks} blocks of {spb}"
        )
    samples = np.empty((channels, n_blocks * spb), dtype=np.int16)
    preds = [0] * channels
    idxs = [0] * channels
    for b in range(n_blocks):
        off = b * block_align
        for c in range(channels):
            pred, idx, _ = struct.unpack("<hBB", data[off + 4 * c : off + 4 * c + 4])
            if idx > 88:
                raise ValueError(f"block {b} ch {c}: step index {idx} out of range")
            samples[c, b * spb] = pred
            preds[c], idxs[c] = pred, idx
        ks = [b * spb + 1] * channels
        body = data[off + 4 * channels : off + block_align]
        for w in range(len(body) // 4):
            c = w % channels
            for byte in body[4 * w : 4 * w + 4]:
                for code in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _ima_decode_step(preds[c], idxs[c], code)
                    samples[c, ks[c]] = preds[c]
                    ks[c] += 1
    trimmed = samples[:, :n_samples]
    return {
        "sample_rate": int(rate),
        "n_channels": int(channels),
        "bits_per_sample": 4,
        "samples_per_block": int(spb),
        "n_samples": int(n_samples),
        "samples": trimmed[0] if channels == 1 else trimmed,
    }


ADPCM_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("mean_amp", DoubleType(), True),
        StructField("peak_amp", LongType(), True),
        StructField("min_amp", LongType(), True),
        StructField("max_amp", LongType(), True),
    ]
)


def with_adpcm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic IMA-ADPCM WAV per row: every 5
    character bytes become one VIRTUAL block — byte 0 the header
    (predictor (c-128)*256, step index c % 89), bytes 1-4 the eight
    4-bit codes (low nibble first). Odd-doc_id documents with an even
    virtual-block count mux as STEREO (consecutive virtual blocks pair
    up as the L/R halves of one 16-byte container block); everything
    else stays mono — so the corpus certifies both widths. Each virtual
    block replays through the step-table recurrence with independent
    state regardless of muxing, so the oracle's 8-deep recursive CTE is
    LAYOUT-AGNOSTIC: the decoded sample multiset is identical either
    way, and a decoder that mis-ordered stereo words or shared state
    across channels would replay against wrong headers and hash-diverge.
    Docs shorter than one block yield a legal 0-block file."""

    def encode(doc_id, t):
        raw = t.encode("utf-8")
        nb = len(raw) // 5
        headers = []
        codes = []
        for b in range(nb):
            c0 = raw[5 * b]
            headers.append(((c0 - 128) * 256, c0 % 89))
            for cb in raw[5 * b + 1 : 5 * b + 5]:
                codes.append(cb & 0x0F)
                codes.append(cb >> 4)
        ch = 2 if int(doc_id) % 2 and nb % 2 == 0 else 1
        return encode_wav_adpcm_codes(headers, codes, channels=ch)

    return synth_payload(df, encode, "audio/wav", cols=("doc_id", text_col))


def decode_adpcm_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each IMA-ADPCM payload through the real container walk +
    step-table replay and emit exact integer amplitude stats. Map-only
    Arrow pipeline, zero shuffles; 0-block files emit NULL stats."""

    def rows(doc_id, payload):
        v = parse_wav_adpcm(payload)
        s = v["samples"].astype(np.int64)
        if s.size:
            yield (
                int(doc_id),
                v["sample_rate"],
                int(s.size),
                float(s.sum()) / s.size,
                int(np.abs(s).max()),
                int(s.min()),
                int(s.max()),
            )
        else:
            yield (int(doc_id), v["sample_rate"], 0, None, None, None, None)

    return map_payload(df, ADPCM_FEATURE_SCHEMA, rows, id_col)


def with_wav_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic WAV payload per row: each UTF-8 byte b
    of the text becomes the int16 sample ``(b - 128) * 256``. Arrow-
    batched; the mapping is invertible so an oracle can derive decoded
    stats straight from the characters."""

    def encode(t):
        return encode_wav_pcm16(
            (np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int16) - 128)
            * 256
        )

    return synth_payload(df, encode, "audio/wav", cols=(text_col,))


def decode_wav_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each WAV payload (REAL parse, not a byte passthrough) and
    emit header fields + exact sample statistics. Integer sums divide in
    float64 (exact-int/exact-int) so any engine agrees bitwise before
    rounding."""

    def rows(doc_id, payload):
        w = parse_wav(payload)
        if w["n_channels"] != 1:
            # mono stats on interleaved frames would misreport
            # duration/mean/rms — fail loudly, never guess
            raise ValueError(
                f"doc {doc_id}: {w['n_channels']}-channel WAV "
                "unsupported; decode_wav_features expects mono"
            )
        s = w["samples"].astype(np.int64)
        n = len(s)
        yield (
            int(doc_id),
            w["sample_rate"],
            w["n_channels"],
            w["bits_per_sample"],
            n,
            n / w["sample_rate"],
            float(s.sum()) / n if n else None,
            float(np.sqrt(float((s * s).sum()) / n)) if n else None,
            int(np.abs(s).max()) if n else None,
        )

    return map_payload(df, WAV_FEATURE_SCHEMA, rows, id_col)


def extract_byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over the binary column: byte
    histogram (16 bins, L1-normalized), mean byte value, SHA-256.

    This is the exact plumbing a real image/audio featurizer uses —
    binary in, fixed-width vector out, one mapInPandas batch at a time —
    with a deterministic byte-level 'featurizer' standing in for the
    codec."""

    def rows(doc_id, b):
        arr = np.frombuffer(b, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=N_HIST_BINS).astype("float64")
        total = hist.sum()
        yield (
            int(doc_id),
            len(b),
            list(hist / total) if total else [0.0] * N_HIST_BINS,
            # exact int-sum / count division: bitwise equal to
            # any engine computing SUM(byte)/COUNT in float64
            float(arr.sum()) / len(arr) if len(arr) else None,
            hashlib.sha256(b).hexdigest(),
        )

    return map_payload(df, FEATURE_SCHEMA, rows, id_col)


def sample_frames(df: DataFrame, id_col: str = "doc_id", stride: int = 4) -> DataFrame:
    """Frame-sampling fan-out: each payload advertises n_frames in its
    metadata (derived deterministically from size here); emit every
    ``stride``-th frame index with a per-frame key — the same
    explode-shaped plan a video frame sampler produces (one output row
    per sampled frame, shuffle-free)."""
    n_frames = (F.octet_length("payload") / F.lit(16)).cast("long")
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(stride))
    frames = df.select(
        id_col,
        F.explode(F.when(n_frames > 0, idx).otherwise(F.array().cast("array<long>"))).alias(
            "frame_idx"
        ),
    )
    return frames.withColumn(
        "frame_key", F.md5(F.concat_ws(":", F.col(id_col).cast("string"), "frame_idx"))
    )


# ---------------------------------------------------------------------------
# Binary PPM (P6) — dependency-free encoder (synthesis side) + decoder
# (the real image-codec path; same pattern that made the WAV leg real).
# Layout: ASCII header "P6" <ws> width <ws> height <ws> maxval <single
# ws>, then exactly 3*width*height RGB bytes. '#' comments are legal
# anywhere in the header whitespace and must be skipped — a parser that
# ignores them mis-reads the geometry.
# ---------------------------------------------------------------------------
PPM_WIDTH = 16


def encode_ppm(rgb: bytes, width: int, height: int) -> bytes:
    """Serialize raw RGB bytes as a standards-compliant binary PPM."""
    if len(rgb) != 3 * width * height:
        raise ValueError(
            f"payload is {len(rgb)} bytes, geometry {width}x{height} needs "
            f"{3 * width * height}"
        )
    return f"P6\n{width} {height}\n255\n".encode("ascii") + rgb


def parse_ppm(payload: bytes) -> dict:
    """REAL minimal PPM decoder: validate the P6 magic, tokenize the
    header (skipping '#' comments), check maxval=255, and require the
    pixel payload to be exactly 3*w*h bytes. Fails loudly on malformed
    input — never guesses."""
    if len(payload) < 2 or payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        # skip whitespace and comments between header tokens
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tok = payload[start:pos]
        if not tok.isdigit():
            raise ValueError(f"non-numeric PPM header token {tok!r}")
        tokens.append(int(tok))
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (only 8-bit/255)")
    pos += 1  # exactly ONE whitespace byte separates maxval from pixels
    rgb = payload[pos:]
    if len(rgb) != 3 * width * height:
        raise ValueError(
            f"PPM geometry {width}x{height} needs {3 * width * height} pixel "
            f"bytes, payload carries {len(rgb)}"
        )
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixels": np.frombuffer(rgb, dtype=np.uint8),
    }


PPM_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("mean_luma", DoubleType(), True),
        StructField("max_byte", LongType(), True),
    ]
)


def with_ppm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic PPM payload per row: the UTF-8 text
    bytes become the RGB stream at fixed width ``PPM_WIDTH``, truncated
    to whole pixel rows (height = len//3//width; short docs yield a
    legal 0-row image). Arrow-batched; the mapping is invertible so an
    oracle can derive decoded stats straight from the characters."""

    def encode(t):
        raw = t.encode("utf-8")
        h = len(raw) // 3 // PPM_WIDTH
        return encode_ppm(raw[: 3 * PPM_WIDTH * h], PPM_WIDTH, h)

    return synth_payload(df, encode, "image/x-portable-pixmap", cols=(text_col,))


def decode_ppm_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each PPM payload (REAL parse, not a byte passthrough) and
    emit geometry + exact per-channel stats. Integer channel sums divide
    in float64 (exact-int / exact-int) so any engine agrees bitwise
    before rounding; luma is the Rec.601 mix of the RAW channel means."""

    def rows(doc_id, payload):
        p = parse_ppm(payload)
        px = p["pixels"].astype(np.int64)
        n = p["width"] * p["height"]
        if n:
            sr, sg, sb = (
                int(px[0::3].sum()),
                int(px[1::3].sum()),
                int(px[2::3].sum()),
            )
            mr = float(sr) / n
            mg = float(sg) / n
            mb = float(sb) / n
            # Rec.601 luma mean, HALF-UP rounded to 6 dp in EXACT
            # integer arithmetic: the rational (299*sr + 587*sg
            # + 114*sb) / (1000*n) has a terminating decimal
            # expansion for power-of-two n (1/64000 ends at
            # digit 9), so it can land EXACTLY on the 7th-digit
            # .5 tie — where Spark's BigDecimal HALF_UP and
            # DuckDB's multiply-then-round disagree on the
            # nearest-double approximation (measured 13-in-5000
            # flips at sf0.1). Integer floor-division makes the
            # tie-break exact and engine-independent; the oracle
            # computes the identical formula in BIGINTs.
            num = 299 * sr + 587 * sg + 114 * sb
            den = 1000 * n
            luma = float((2_000_000 * num + den) // (2 * den)) / 1e6
            mx = int(px.max())
        else:
            mr = mg = mb = luma = mx = None
        yield (int(doc_id), p["width"], p["height"], n, mr, mg, mb, luma, mx)

    return map_payload(df, PPM_FEATURE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# Y4M (YUV4MPEG2) — dependency-free encoder (synthesis side) + decoder
# (the real video-codec path; completes the WAV/PPM pattern for the
# third modality). Layout: one ASCII stream header
# "YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip A1:1 Cmono ...]\n", then per
# frame a "FRAME[ <params>]\n" marker followed by the raw planar
# payload. Colorspace fixes the frame byte count: Cmono = w*h (luma
# only), C444 = 3*w*h; the spec DEFAULT when no C tag is present is
# C420 (1.5*w*h) — a parser that ignores the tag mis-strides every
# frame after the first.
# ---------------------------------------------------------------------------
Y4M_WIDTH = 8
Y4M_HEIGHT = 8
Y4M_FPS = (25, 1)

_Y4M_FRAME_BYTES = {"mono": 1.0, "444": 3.0, "420": 1.5, "420jpeg": 1.5, "420paldv": 1.5}


def encode_y4m(
    frames: np.ndarray,
    width: int,
    height: int,
    fps: tuple[int, int] = Y4M_FPS,
    colorspace: str = "mono",
) -> bytes:
    """Serialize frames (n_frames, bytes_per_frame) as a standards-
    compliant YUV4MPEG2 stream."""
    per = _Y4M_FRAME_BYTES[colorspace] * width * height
    if per != int(per):
        raise ValueError(f"{width}x{height} {colorspace} has fractional frame size")
    per = int(per)
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 2 or frames.shape[1] != per:
        raise ValueError(
            f"frames must be (n, {per}) for {width}x{height} C{colorspace}, "
            f"got {frames.shape}"
        )
    hdr = f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}\n"
    out = [hdr.encode("ascii")]
    for i in range(frames.shape[0]):
        out.append(b"FRAME\n")
        out.append(frames[i].tobytes())
    return b"".join(out)


def parse_y4m(payload: bytes) -> dict:
    """REAL minimal Y4M decoder: validate the YUV4MPEG2 magic, parse the
    stream-header tags (W/H required; F required; C optional with the
    spec's 420 default), then walk the FRAME markers verifying each
    frame's payload is exactly the colorspace-implied byte count. Fails
    loudly on malformed input, unknown colorspaces, or a truncated final
    frame — never guesses."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    width = height = fps_num = fps_den = None
    colorspace = "420"  # spec default when no C tag is present
    for tag in payload[9:nl].split():
        key, val = tag[:1], tag[1:].decode("ascii", "replace")
        if key == b"W":
            width = int(val)
        elif key == b"H":
            height = int(val)
        elif key == b"F":
            num, _, den = val.partition(":")
            fps_num, fps_den = int(num), int(den)
        elif key == b"C":
            colorspace = val
        # Ip / A1:1 / X-comments are legal and irrelevant to geometry
    if width is None or height is None or fps_num is None:
        raise ValueError("Y4M header missing required W/H/F tags")
    if colorspace not in _Y4M_FRAME_BYTES:
        raise ValueError(f"unsupported Y4M colorspace C{colorspace}")
    per = _Y4M_FRAME_BYTES[colorspace] * width * height
    if per != int(per):
        raise ValueError(f"{width}x{height} C{colorspace} has fractional frame size")
    per = int(per)
    pos, frames = nl + 1, []
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"expected FRAME marker at byte {pos}")
        if fnl + 1 + per > len(payload):
            raise ValueError(
                f"truncated Y4M: frame {len(frames)} needs {per} bytes, "
                f"{len(payload) - fnl - 1} remain"
            )
        frames.append(np.frombuffer(payload, dtype=np.uint8, count=per, offset=fnl + 1))
        pos = fnl + 1 + per
    return {
        "width": width,
        "height": height,
        "fps_num": fps_num,
        "fps_den": fps_den,
        "colorspace": colorspace,
        "frames": np.vstack(frames) if frames else np.empty((0, per), dtype=np.uint8),
    }


Y4M_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("fps_num", LongType(), False),
        StructField("fps_den", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("mean_luma", DoubleType(), True),
        StructField("max_luma", LongType(), True),
    ]
)


def with_y4m_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic Y4M payload per row: the UTF-8 text
    bytes become consecutive mono luma frames at fixed geometry
    ``Y4M_WIDTH``×``Y4M_HEIGHT`` (64 bytes/frame), truncated to whole
    frames (short docs yield a legal 0-frame stream). Arrow-batched; the
    mapping is invertible so an oracle can derive decoded frame stats
    straight from the characters."""
    per = Y4M_WIDTH * Y4M_HEIGHT

    def encode(t):
        raw = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        n = len(raw) // per
        return encode_y4m(raw[: n * per].reshape(n, per), Y4M_WIDTH, Y4M_HEIGHT)

    return synth_payload(df, encode, "video/x-yuv4mpeg", cols=(text_col,))


def decode_y4m_frame_stats(
    df: DataFrame, id_col: str = "doc_id", stride: int = 4
) -> DataFrame:
    """Decode each Y4M payload (REAL parse, not a byte passthrough),
    sample every ``stride``-th frame, and emit one row per sampled frame
    with exact luma statistics — decode + frame-sample fan-out in a
    single map-only Arrow pass (one output row per sampled frame, zero
    shuffles). Stats cover the LUMA PLANE ONLY — planar Y4M frames put
    the Y plane first (w*h bytes), so slicing it keeps mean_luma /
    max_luma honest for C420/C444 streams whose frame payloads also
    carry chroma planes (for Cmono the slice is the whole frame).
    Integer luma sums divide in float64 (exact-int/exact-int) so any
    engine agrees bitwise before rounding. 0-frame streams emit no
    rows, matching the explode-shaped sampler (mm3) semantics."""

    def rows(doc_id, payload):
        v = parse_y4m(payload)
        fr = v["frames"].astype(np.int64)
        n = fr.shape[0]
        y_len = v["width"] * v["height"]  # Y plane leads the frame
        for idx in range(0, n, stride):
            luma = fr[idx, :y_len]
            yield (
                int(doc_id),
                v["width"],
                v["height"],
                v["fps_num"],
                v["fps_den"],
                n,
                idx,
                float(luma.sum()) / y_len,
                int(luma.max()),
            )

    return map_payload(df, Y4M_FRAME_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# Perceptual average-hash (aHash) over decoded PPM images — the image
# near-dup primitive: images whose 8x8 block-mean luma pattern matches
# share a 64-bit signature. All comparisons are INTEGER cross-
# multiplications (cell_sum * total_count > cell_count * total_sum), so
# any engine derives bit-identical hashes with no float rounding
# anywhere. The 64 bits ship as two signed-safe 32-bit halves
# (hash_hi = bits 0-31, hash_lo = bits 32-63, bit b at weight
# 1 << (31 - b mod 32)) to avoid int64 sign traps in cross-engine SQL.
# ---------------------------------------------------------------------------
AHASH_GRID = 8

AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("height", LongType(), False),
        StructField("hash_hi", LongType(), True),
        StructField("hash_lo", LongType(), True),
    ]
)


def ahash_ppm_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each PPM payload and emit its 64-bit average-hash as two
    32-bit halves (null for 0-row images). One map-only Arrow pass."""

    g = AHASH_GRID

    def rows(doc_id, payload):
        p = parse_ppm(payload)
        w, h = p["width"], p["height"]
        if h == 0:
            yield (int(doc_id), 0, None, None)
            return
        px = p["pixels"].astype(np.int64).reshape(h, w, 3).sum(axis=2)
        ys, xs = np.arange(h), np.arange(w)
        r = (ys * g) // h
        c = (xs * g) // w
        cs = np.zeros((g, g), dtype=np.int64)
        cn = np.zeros((g, g), dtype=np.int64)
        np.add.at(cs, (r[:, None].repeat(w, 1), c[None, :].repeat(h, 0)), px)
        np.add.at(cn, (r[:, None].repeat(w, 1), c[None, :].repeat(h, 0)), 1)
        ts, tn = int(cs.sum()), int(cn.sum())
        hi = lo = 0
        for b in range(g * g):
            rr, cc = b // g, b % g
            if cn[rr, cc] and tn * int(cs[rr, cc]) > int(cn[rr, cc]) * ts:
                if b < 32:
                    hi |= 1 << (31 - b)
                else:
                    lo |= 1 << (63 - b)
        yield (int(doc_id), int(h), hi, lo)

    return map_payload(df, AHASH_SCHEMA, rows, id_col)


WAV_SEGMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("n_silent", LongType(), False),
        StructField("longest_silence_run", LongType(), False),
        StructField("n_gaps", LongType(), False),
        StructField("n_segments", LongType(), False),
        StructField("n_segment_samples", LongType(), False),
    ]
)

#: Silence threshold on int16 amplitude and the minimum silent-run
#: length that splits segments — ONE home for both constants; the mm8
#: oracle derives the same values from the synthesis mapping
#: (|sample| < 8192  ⇔  |byte − 128| < 32 under (b−128)·256).
WAV_SILENCE_AMP = 8192
WAV_MIN_GAP = 8


def wav_segment_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Silence-run segmentation over decoded PCM — the VAD-style
    splitting an ASR data pipeline applies before transcription: a
    sample is silent when |amp| < WAV_SILENCE_AMP; a maximal silent run
    of >= WAV_MIN_GAP samples is a gap; segments are the non-gap spans
    between gaps. All outputs are exact integers (no float rounding
    contract needed). Decode + run-length analysis happen in ONE
    Arrow-batched map pass — same scale shape as every codec leg:
    linear in payload bytes, zero shuffles."""

    def rows(doc_id, payload):
        w = parse_wav(payload)
        s = w["samples"].astype(np.int64)
        n = len(s)
        if n == 0:
            yield (int(doc_id), 0, 0, 0, 0, 0, 0)
            return
        sil = np.abs(s) < WAV_SILENCE_AMP
        # run-length encode the silent mask
        flips = np.flatnonzero(np.diff(sil.astype(np.int8))) + 1
        starts = np.concatenate(([0], flips))
        ends = np.concatenate((flips, [n]))
        lens = ends - starts
        vals = sil[starts]
        sil_lens = lens[vals]
        gap = vals & (lens >= WAV_MIN_GAP)
        n_gaps = int(gap.sum())
        gap_samples = int(lens[gap].sum())
        # gaps are maximal silent runs, so two gaps are never
        # adjacent: the n_gaps+1 spans around them are empty
        # only at the doc's edges
        n_segments = n_gaps + 1
        if n_gaps and gap[0]:
            n_segments -= 1
        if n_gaps and gap[-1]:
            n_segments -= 1
        yield (
            int(doc_id),
            n,
            int(sil.sum()),
            int(sil_lens.max()) if len(sil_lens) else 0,
            n_gaps,
            n_segments,
            n - gap_samples,
        )

    return map_payload(df, WAV_SEGMENT_SCHEMA, rows, id_col)


RESIZE_GRID = 4

RESIZE_CELL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("cell_y", IntegerType(), False),
        StructField("cell_x", IntegerType(), False),
        StructField("n_px", LongType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
    ]
)


def resize_ppm_cells(df: DataFrame, id_col: str = "doc_id", grid: int = RESIZE_GRID) -> DataFrame:
    """Average-pool RESIZE of each decoded PPM to a fixed grid×grid
    thumbnail — the multimodal "resize" verb, done the way a 100-TB
    pipeline has to: decode + pool in ONE Arrow map pass per partition
    (no shuffle, no pixel rows ever leave the task), emitting one row
    per occupied cell with EXACT integer channel sums (means divide
    exact-int/exact-int downstream, so engines agree bitwise).

    Pooling bins are the standard uneven integer partition: a pixel at
    (y, x) lands in cell (y·grid // h, x·grid // w). Images shorter
    than ``grid`` rows fill only the bands that exist; 0-row images
    emit nothing.
    """

    def rows(did, payload):
        meta = parse_ppm(payload)
        h, w = meta["height"], meta["width"]
        if h == 0:
            return
        px = meta["pixels"].reshape(h, w, 3)
        ys = (np.arange(h) * grid) // h
        xs = (np.arange(w) * grid) // w
        cell = ys[:, None] * grid + xs[None, :]  # (h, w) cell ids
        flat = cell.ravel()
        sums = np.zeros((grid * grid, 3), dtype=np.int64)
        np.add.at(sums, flat, px.reshape(-1, 3).astype(np.int64))
        counts = np.bincount(flat, minlength=grid * grid)
        for cid in np.nonzero(counts)[0]:
            yield (
                int(did),
                int(cid // grid),
                int(cid % grid),
                int(counts[cid]),
                int(sums[cid, 0]),
                int(sums[cid, 1]),
                int(sums[cid, 2]),
            )

    return map_payload(df, RESIZE_CELL_SCHEMA, rows, id_col)


WAV_DOWNSAMPLE_FACTOR = 8

WAV_BLOCK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("block_idx", IntegerType(), False),
        StructField("n_samples", LongType(), False),
        StructField("sum_sample", LongType(), False),
    ]
)


def downsample_wav_blocks(
    df: DataFrame, id_col: str = "doc_id", factor: int = WAV_DOWNSAMPLE_FACTOR
) -> DataFrame:
    """Block-averaged audio DOWNSAMPLE (the audio resize verb): decode
    each WAV and reduce every ``factor`` consecutive samples to one
    block row with its EXACT integer sample sum — decode + decimate in
    one Arrow pass, no shuffle, and the mean divides exact-int /
    exact-int downstream so engines agree bitwise. The trailing
    partial block keeps its own (smaller) count."""

    def rows(did, payload):
        s = parse_wav(payload)["samples"].astype(np.int64)
        n = len(s)
        if n == 0:
            return
        starts = np.arange(0, n, factor)
        sums = np.add.reduceat(s, starts)
        counts = np.minimum(starts + factor, n) - starts
        for bi in range(len(starts)):
            yield (int(did), int(bi), int(counts[bi]), int(sums[bi]))

    return map_payload(df, WAV_BLOCK_SCHEMA, rows, id_col)


VIDEO_POOL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("cell_y", IntegerType(), False),
        StructField("cell_x", IntegerType(), False),
        StructField("sum_luma", LongType(), False),
    ]
)


def pool_y4m_frames(df: DataFrame, id_col: str = "doc_id", stride: int = 4) -> DataFrame:
    """Video RESIZE: every ``stride``-th decoded frame spatially pooled
    to 2×2 quadrants (each an exact 4×4-pixel luma sum at the fixed 8×8
    geometry) — decode + sample + pool in one Arrow pass, no shuffle;
    means divide exact-int/16 downstream."""

    def rows(did, payload):
        frames = parse_y4m(payload)["frames"]  # (n_frames, 64) uint8 luma
        for fi in range(0, frames.shape[0], stride):
            q = (
                frames[fi]
                .reshape(2, 4, 2, 4)
                .astype(np.int64)
                .sum(axis=(1, 3))
            )
            for cy in range(2):
                for cx in range(2):
                    yield (int(did), int(fi), cy, cx, int(q[cy, cx]))

    return map_payload(df, VIDEO_POOL_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# PNG — dependency-free COMPRESSED-codec encoder (synthesis side) +
# decoder with no codec library: PNG's entire stack — zlib DEFLATE +
# the five scanline filters + CRC-chunked container — is stdlib+numpy.
# Layout: 8-byte signature, then length/type/data/CRC chunks; IHDR
# carries geometry (8-bit RGB = bit depth 8, color type 2), IDAT holds
# the zlib stream of filtered scanlines (one leading filter-type byte
# per row), IEND terminates. The ENCODER deliberately cycles the filter
# type per row (row % 5) so a round-trip exercises every
# reconstruction rule — an encoder that always emits filter 0 would
# let a broken Sub/Up/Average/Paeth path pass undetected.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = 3  # 8-bit RGB


# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER, 8-bit palette) — the UNCOMPRESSED
# container with the two quirks every naive reader gets wrong: rows are
# stored BOTTOM-UP (positive height) and padded to 4-byte boundaries.
# Public spec: Windows GDI BITMAPINFOHEADER.
# ---------------------------------------------------------------------------
BMP_GRAY_PALETTE = bytes(
    b for v in range(256) for b in (v, v, v, 0)  # BGRA quads
)


def encode_bmp_gray(gray: bytes, width: int, height: int) -> bytes:
    """Serialize 8-bit grayscale pixels as a real 8-bpp palette BMP:
    BITMAPFILEHEADER + BITMAPINFOHEADER + 256-entry identity BGRA
    palette + BOTTOM-UP rows each padded to a 4-byte boundary."""
    import struct

    if len(gray) != width * height:
        raise ValueError(
            f"payload is {len(gray)} bytes, geometry {width}x{height} "
            f"needs {width * height}"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"BMP geometry must be positive: {width}x{height}")
    px = np.frombuffer(gray, dtype=np.uint8).reshape(height, width)
    stride = (width + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width] = px[::-1]  # bottom-up storage
    data = rows.tobytes()
    off = 14 + 40 + len(BMP_GRAY_PALETTE)
    file_header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(data), 2835, 2835, 256, 0
    )
    return file_header + dib + BMP_GRAY_PALETTE + data


def parse_bmp(payload: bytes) -> dict:
    """REAL BMP decoder for 8-bpp palette images: file + DIB header
    validation, palette read, 4-byte row-stride handling, BOTTOM-UP
    row reversal (negative height = top-down, also handled). Fails
    loudly on non-BMP signatures, compressed (RLE) payloads, non-8-bpp
    depths, truncated pixel data, or out-of-palette indices."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (no BM signature)")
    if len(payload) < 54:
        raise ValueError("truncated BMP headers")
    _, fsize, _, _, off = struct.unpack("<2sIHHI", payload[:14])
    (
        dib_size, width, height, planes, bpp, comp, _isz, _, _, ncolors, _
    ) = struct.unpack("<IiiHHIIiiII", payload[14:54])
    if dib_size < 40:
        raise NotImplementedError(f"BMP DIB header size {dib_size} not supported")
    if comp != 0:
        raise NotImplementedError(f"compressed BMP (method {comp}) not supported")
    if bpp != 8:
        raise NotImplementedError(f"{bpp}-bpp BMP not supported (8-bpp palette only)")
    if planes != 1 or width <= 0 or height == 0:
        raise ValueError(f"malformed BMP geometry: {width}x{height}, planes {planes}")
    top_down = height < 0
    h = -height if top_down else height
    n_pal = ncolors or 256
    pal_off = 14 + dib_size
    palette = payload[pal_off : pal_off + 4 * n_pal]
    if len(palette) != 4 * n_pal:
        raise ValueError("truncated BMP palette")
    stride = (width + 3) & ~3
    data = payload[off : off + stride * h]
    if len(data) != stride * h:
        raise ValueError(
            f"truncated BMP pixel data: {len(data)} of {stride * h} bytes"
        )
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride)[:, :width]
    px = rows if top_down else rows[::-1]
    if int(px.max(initial=0)) >= n_pal:
        raise ValueError(
            f"pixel index {int(px.max())} outside the {n_pal}-color palette"
        )
    return {
        "width": int(width),
        "height": int(h),
        "top_down": top_down,
        "palette": palette,
        "pixels": np.ascontiguousarray(px),
    }


# ---------------------------------------------------------------------------
# GIF (87a/89a) — the DICTIONARY-CODING image family (LZW), completing
# the image-codec spread: transform coding (JPEG), deflate (PNG), and
# now LZW, with GIF's LSB-first bit packing (opposite of JPEG) and
# 4-pass interlacing. Public spec: GIF89a (CompuServe 1990, W3C note).
# ---------------------------------------------------------------------------
GIF_GRAY_PALETTE = bytes(v for v in range(256) for _ in range(3))  # identity ramp


def encode_gif_gray(
    gray: bytes, width: int, height: int, interlace: bool = False
) -> bytes:
    """Serialize 8-bit grayscale pixels as a REAL GIF89a stream: global
    256-entry identity palette, one image descriptor (optionally
    interlaced — rows emitted in the 4-pass order), and genuine LZW
    compression: dictionary growth from 258 entries to 4096 with
    variable code width 9→12 bits, CLEAR emitted on dictionary
    overflow, LSB-first sub-byte packing, 255-byte sub-block framing."""
    import struct

    if len(gray) != width * height:
        raise ValueError(
            f"payload is {len(gray)} bytes, geometry {width}x{height} "
            f"needs {width * height}"
        )
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(f"GIF geometry out of range: {width}x{height}")
    px = np.frombuffer(gray, dtype=np.uint8).reshape(height, width)
    if interlace:
        order = _gif_interlace_rows(height)
        px = px[order]
    data = px.reshape(-1)

    # LZW encode (min code size 8 for a 256-color palette)
    min_code = 8
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_codes: list[int] = []

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return ({bytes([i]): i for i in range(1 << min_code)}, eoi + 1, min_code + 1)

    table, next_code, width_bits = fresh()
    out_codes.append((clear, width_bits))
    w = b""
    for b in data.tobytes():
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        out_codes.append((table[w], width_bits))
        table[wk] = next_code
        next_code += 1
        # width grows AFTER the code that filled the previous range
        if next_code == (1 << width_bits) + 1 and width_bits < 12:
            width_bits += 1
        if next_code > 4095:
            out_codes.append((clear, width_bits))
            table, next_code, width_bits = fresh()
        w = bytes([b])
    if w:
        out_codes.append((table[w], width_bits))
        # The decoder grows its table on EVERY data code (it cannot know
        # no insert followed this final one), so its width bump can fire
        # one code earlier than the in-loop condition here. Mirror it:
        # if the final data code lands the decoder's table exactly on a
        # power-of-two boundary, EOI must be emitted one bit wider.
        if next_code == (1 << width_bits) and width_bits < 12:
            width_bits += 1
    out_codes.append((eoi, width_bits))

    # LSB-first bit packing
    acc = nbits = 0
    packed = bytearray()
    for code, wb in out_codes:
        acc |= code << nbits
        nbits += wb
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)

    # 255-byte sub-block framing
    blocks = bytearray()
    for i in range(0, len(packed), 255):
        chunk = packed[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator

    flags = 0xF7  # global color table, 8 bits/pixel, 256 entries
    screen = struct.pack("<HHBBB", width, height, flags, 0, 0)
    img_flags = 0x40 if interlace else 0x00
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, img_flags)
    return (
        b"GIF89a" + screen + GIF_GRAY_PALETTE
        + img + bytes([min_code]) + bytes(blocks)
        + b"\x3b"
    )


def _gif_interlace_rows(height: int) -> list[int]:
    """GIF 4-pass interlace row order: rows 0,8,16,… then 4,12,… then
    2,6,10,… then 1,3,5,…"""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def parse_gif(payload: bytes) -> dict:
    """REAL GIF decoder: header + logical-screen walk, global/local
    color tables, extension sub-block skipping, image descriptors with
    4-pass DEINTERLACING, and a full LZW decode (variable 3–12-bit
    codes LSB-first, CLEAR resets, the KwKwK just-created-code case).
    Multi-image (animated) streams decode every frame. Fails loudly on
    bad signatures, missing palettes, truncated sub-blocks, code
    overruns, or pixel-count mismatches — never guesses."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    global_pal = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        global_pal = payload[pos : pos + 3 * n]
        if len(global_pal) != 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    frames: list[dict] = []
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 1  # label
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated extension sub-blocks")
                n = payload[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b:02X} at offset {pos - 1}")
        left, top, w, h, iflags = struct.unpack("<HHHHB", payload[pos : pos + 9])
        pos += 9
        pal = global_pal
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = payload[pos : pos + 3 * n]
            if len(pal) != 3 * n:
                raise ValueError("truncated local color table")
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image has neither global nor local color table")
        min_code = payload[pos]
        pos += 1
        if not (2 <= min_code <= 8):
            raise ValueError(f"impossible LZW minimum code size {min_code}")
        # collect sub-blocks
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated image sub-blocks")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            chunk = payload[pos : pos + n]
            if len(chunk) != n:
                raise ValueError("truncated image sub-block body")
            data += chunk
            pos += n
        indices = _gif_lzw_decode(bytes(data), min_code, w * h)
        px = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
        if iflags & 0x40:  # deinterlace
            out = np.empty_like(px)
            out[_gif_interlace_rows(h)] = px
            px = out
        n_colors = len(pal) // 3
        if int(px.max(initial=0)) >= n_colors:
            raise ValueError(
                f"pixel index {int(px.max())} outside the {n_colors}-color palette"
            )
        frames.append({"left": left, "top": top, "pixels": px, "palette": pal})
    if not frames:
        raise ValueError("GIF carries no image data")
    return {
        "width": int(sw),
        "height": int(sh),
        "n_frames": len(frames),
        "frames": frames,
    }


def _gif_lzw_decode(data: bytes, min_code: int, expect: int) -> bytes:
    """LZW decode, GIF flavor: LSB-first variable-width codes, CLEAR
    resets the table, EOI terminates; handles the KwKwK case (code ==
    next unassigned entry). Validates exact output length."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    acc = nbits = pos = 0
    width_bits = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
    prev: bytes | None = None
    out = bytearray()
    n_data = len(data)
    while True:
        while nbits < width_bits:
            if pos >= n_data:
                # Real-world encoders disagree on whether the width bump
                # applies to the EOI code itself; when every declared
                # pixel has been produced, a stream that ends exactly on
                # a byte boundary is an implicit EOI, not corruption.
                if len(out) == expect:
                    return bytes(out)
                raise ValueError("LZW stream exhausted before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width_bits) - 1)
        acc >>= width_bits
        nbits -= width_bits
        if code == clear:
            table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
            width_bits = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW code {code} before any dictionary growth")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond the dictionary ({len(table)})")
        out += entry
        prev = entry
        if len(table) == (1 << width_bits) and width_bits < 12:
            width_bits += 1
        if len(out) > expect:
            raise ValueError(
                f"LZW output overruns the image: {len(out)} > {expect} pixels"
            )
    if len(out) != expect:
        raise ValueError(f"LZW decoded {len(out)} pixels, image declares {expect}")
    return bytes(out)


GIF_COLS = 64  # synthesis: one pixel per character, 64 per row
GIF_MAX_ROWS = 0xFFFF

GIF_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("mean_luma", DoubleType(), True),
        StructField("max_byte", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("row_weighted_sum", LongType(), True),
    ]
)


def with_gif_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic GIF per row: each character byte is
    one pixel under the identity grayscale palette (64 per row, whole
    rows only), LZW-compressed for real; images of 8+ rows are
    INTERLACED so the decoder's 4-pass reorder is exercised — and
    certified, via the row-weighted checksum the feature pass emits
    (stats alone are row-order-invariant; the weighted sum is not).
    Docs shorter than one row carry a NULL payload."""

    def encode(t):
        raw = t.encode("utf-8")
        rows = min(len(raw) // GIF_COLS, GIF_MAX_ROWS)
        if rows == 0:
            return None
        return encode_gif_gray(
            raw[: rows * GIF_COLS], GIF_COLS, rows,
            interlace=rows >= 8,
        )

    return synth_payload(df, encode, "image/gif", cols=(text_col,), nullable=True)


def decode_gif_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each GIF through the real LZW + deinterlace path and emit
    geometry/stats plus the row-ORDER-sensitive weighted checksum
    (sum of (1 + row_index) * pixel — a wrong interlace pass flips it
    even when the pixel multiset is right). Map-only Arrow pipeline;
    NULL payloads yield the 0-geometry row with NULL stats."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), GIF_COLS, 0, 0, None, None, None, None)
            return
        v = parse_gif(payload)
        px = v["frames"][0]["pixels"].astype(np.int64)
        h, w = px.shape
        weights = 1 + np.arange(h, dtype=np.int64)
        yield (
            int(doc_id),
            w,
            h,
            h * w,
            float(px.sum()) / (h * w),
            int(px.max()),
            int(px.min()),
            int((px.sum(axis=1) * weights).sum()),
        )

    return map_payload(df, GIF_FEATURE_SCHEMA, rows, id_col)


BMP_COLS = 62  # synthesis: 62-wide rows force a REAL 2-byte stride pad


def with_bmp_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic BMP per row: one character byte per
    pixel, 62 per row (stride 64 → the 4-byte padding path is real on
    every image), stored bottom-up as the format demands. Lossless, so
    the oracle recomputes stats from the characters — and the
    row-weighted checksum certifies the bottom-up flip. Docs shorter
    than one row carry a NULL payload."""

    def encode(t):
        raw = t.encode("utf-8")
        rows = len(raw) // BMP_COLS
        if rows == 0:
            return None
        return encode_bmp_gray(raw[: rows * BMP_COLS], BMP_COLS, rows)

    return synth_payload(df, encode, "image/bmp", cols=(text_col,), nullable=True)


def decode_bmp_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each BMP through the real stride/bottom-up path and emit
    the GIF-schema geometry/stats + row-weighted checksum (a missing
    bottom-up flip reverses row order and flips the checksum even
    though the pixel multiset is identical). Map-only Arrow pipeline;
    NULL payloads yield the 0-geometry row with NULL stats."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), BMP_COLS, 0, 0, None, None, None, None)
            return
        v = parse_bmp(payload)
        px = v["pixels"].astype(np.int64)
        h, w = px.shape
        weights = 1 + np.arange(h, dtype=np.int64)
        yield (
            int(doc_id),
            w,
            h,
            h * w,
            float(px.sum()) / (h * w),
            int(px.max()),
            int(px.min()),
            int((px.sum(axis=1) * weights).sum()),
        )

    return map_payload(df, GIF_FEATURE_SCHEMA, rows, id_col)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# PNG color types (8-bit depth): grayscale, truecolor RGB, palette
# indices, gray+alpha, RGBA — and their bytes-per-pixel in the
# filtered scanline stream.
_PNG_COLOR_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace passes as (x0, y0, dx, dy): each pass is an
# independently-filtered reduced image scattered onto the full grid.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_filter_rows(img: np.ndarray, bpp: int) -> bytearray:
    """Filter one (sub)image — an (h, stride) uint8 array — into a PNG
    scanline stream, cycling filter type row % 5 so decode exercises
    all five reconstruction rules on any image taller than 5 rows."""
    h, stride = img.shape
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row = img[y].astype(np.int64)
        ftype = y % 5
        out.append(ftype)
        if ftype == 0:
            filt = row
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
            filt = (row - left) % 256
        elif ftype == 2:  # Up
            filt = (row - prior) % 256
        elif ftype == 3:  # Average
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
            filt = (row - (left + prior) // 2) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
            pleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, pleft)],
                dtype=np.int64,
            )
            filt = (row - pred) % 256
        out.extend(filt.astype(np.uint8).tobytes())
        prior = row
    return out


def _png_unfilter_rows(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reconstruct one (sub)image's scanlines from its filtered stream
    (None/Sub/Up/Average/Paeth); returns an (height, stride) int64
    array. ``raw`` must be exactly height * (stride + 1) bytes."""
    px = np.zeros((height, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        line = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, filt = line[0], np.frombuffer(line[1:], dtype=np.uint8).astype(np.int64)
        if ftype == 0:
            row = filt
        elif ftype == 2:
            row = (filt + prior) % 256
        elif ftype in (1, 3, 4):
            # left-dependent rules reconstruct pixel by pixel
            row = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                up = prior[i]
                upleft = prior[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(int(left), int(up), int(upleft))
                row[i] = (filt[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        px[y] = row
        prior = row
    return px


def _png_pass_geometry(width: int, height: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes for a geometry: (x0, y0, dx, dy, pw, ph)."""
    passes = []
    for x0, y0, dx, dy in _PNG_ADAM7:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        if pw and ph:
            passes.append((x0, y0, dx, dy, pw, ph))
    return passes


def encode_png_ex(
    pixels: bytes,
    width: int,
    height: int,
    color_type: int = 2,
    palette: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Serialize raw channel bytes as a real PNG: any 8-bit color type
    (gray / RGB / palette / gray+alpha / RGBA), optional Adam7
    interlacing (each pass independently filtered), zlib-compressed,
    filter type cycling row % 5 within each pass."""
    import struct
    import zlib as _z

    if color_type not in _PNG_COLOR_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    bpp = _PNG_COLOR_CHANNELS[color_type]
    if len(pixels) != bpp * width * height:
        raise ValueError(
            f"payload is {len(pixels)} bytes, geometry {width}x{height} needs "
            f"{bpp * width * height}"
        )
    if color_type == 3:
        if palette is None:
            raise ValueError("palette color type needs a palette")
        if len(palette) % 3 or not (3 <= len(palette) <= 768):
            raise ValueError(f"bad palette length {len(palette)}")
        mx = max(pixels) if pixels else 0
        if mx >= len(palette) // 3:
            raise ValueError(
                f"palette index {mx} outside the {len(palette) // 3}-entry palette"
            )
    elif palette is not None:
        raise ValueError(f"palette given for color type {color_type}")
    img = (
        np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, bpp)
        if height
        else np.zeros((0, width, bpp), dtype=np.uint8)
    )
    out = bytearray()
    if interlace:
        for x0, y0, dx, dy, pw, ph in _png_pass_geometry(width, height):
            sub = np.ascontiguousarray(img[y0::dy, x0::dx])
            out += _png_filter_rows(sub.reshape(ph, pw * bpp), bpp)
    else:
        out = _png_filter_rows(img.reshape(height, width * bpp), bpp)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    chunks = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        chunks += _png_chunk(b"PLTE", palette)
    return (
        chunks
        + _png_chunk(b"IDAT", _z.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png(rgb: bytes, width: int, height: int) -> bytes:
    """Serialize raw RGB bytes as a real PNG (zlib-compressed, filter
    type cycling row % 5 so decode exercises all five filters) — the
    8-bit-RGB non-interlaced special case of ``encode_png_ex``."""
    return encode_png_ex(rgb, width, height, color_type=2)


def parse_png(payload: bytes) -> dict:
    """REAL PNG decoder for every 8-bit color type: validate the
    signature, walk the chunk stream (verifying each CRC), parse IHDR
    (+ PLTE for palette images), inflate the concatenated IDAT zlib
    stream, and reconstruct every scanline through the filter rules
    (None/Sub/Up/Average/Paeth) — including the 7-pass Adam7
    DE-INTERLACE, where each reduced image is filtered independently
    and scattered back onto the full grid. Returns the raw channel
    plane (palette images return INDICES plus the palette; expansion
    is ``png_expand_rgb``). Fails loudly on malformed input, bad CRCs,
    unsupported bit depth, a missing palette, out-of-range indices, or
    a byte-count mismatch — never guesses."""
    import struct
    import zlib as _z

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    width = height = ctype_id = inter = None
    palette: bytes | None = None
    idat = bytearray()
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk data")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if crc != (_z.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC on PNG chunk {ctype!r}")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, ctype_id, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (
                depth != 8
                or ctype_id not in _PNG_COLOR_CHANNELS
                or comp
                or filt
                or inter not in (0, 1)
            ):
                raise ValueError(
                    "unsupported PNG variant (need 8-bit gray/RGB/palette/"
                    "gray+alpha/RGBA, deflate, adaptive filters, "
                    "no-interlace or Adam7)"
                )
        elif ctype == b"PLTE":
            if length % 3 or not (3 <= length <= 768):
                raise ValueError(f"bad PLTE length {length}")
            palette = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG carries no IHDR")
    bpp = _PNG_COLOR_CHANNELS[ctype_id]
    if ctype_id == 3 and palette is None:
        raise ValueError("palette PNG carries no PLTE chunk")
    raw = _z.decompress(bytes(idat))
    if inter:
        passes = _png_pass_geometry(width, height)
        need_total = sum(ph * (pw * bpp + 1) for _, _, _, _, pw, ph in passes)
        if len(raw) != need_total:
            raise ValueError(
                f"Adam7 geometry {width}x{height} needs {need_total} "
                f"filtered bytes, inflate produced {len(raw)}"
            )
        px = np.zeros((height, width, bpp), dtype=np.int64)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            need = ph * (pw * bpp + 1)
            sub = _png_unfilter_rows(raw[off : off + need], ph, pw * bpp, bpp)
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += need
        px = px.reshape(height, width * bpp)
    else:
        stride = bpp * width
        if len(raw) != height * (stride + 1):
            raise ValueError(
                f"PNG geometry {width}x{height} needs {height * (stride + 1)} "
                f"filtered bytes, inflate produced {len(raw)}"
            )
        px = _png_unfilter_rows(raw, height, stride, bpp)
    if ctype_id == 3 and height and width:
        mx = int(px.max())
        if mx >= len(palette) // 3:
            raise ValueError(
                f"palette index {mx} outside the {len(palette) // 3}-entry palette"
            )
    return {
        "width": int(width),
        "height": int(height),
        "color_type": int(ctype_id),
        "channels": bpp,
        "palette": palette,
        "pixels": px.reshape(-1).astype(np.uint8),
    }


def png_expand_rgb(v: dict) -> np.ndarray:
    """Expand a ``parse_png`` result to its displayable channel bytes:
    palette images look their indices up in PLTE (yielding an
    (h, w, 3) RGB array); every other color type returns its channel
    plane as decoded, shape (h, w, channels)."""
    h, w, c = v["height"], v["width"], v["channels"]
    px = v["pixels"].reshape(h, w, c)
    if v["color_type"] == 3:
        lut = np.frombuffer(v["palette"], dtype=np.uint8).reshape(-1, 3)
        return lut[px.reshape(h, w)]
    return px


def with_png_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic PNG payload per row (same text→RGB
    mapping as with_ppm_payload, width PPM_WIDTH, whole rows only) —
    but run through the real compressed encoder, so downstream decode
    exercises inflate + all five filter reconstructions."""

    def encode(t):
        raw = t.encode("utf-8")
        h = len(raw) // 3 // PPM_WIDTH
        return encode_png(raw[: 3 * PPM_WIDTH * h], PPM_WIDTH, h)

    return synth_payload(df, encode, "image/png", cols=(text_col,))


# mm12b synthesis: cycle the five 8-bit color types per document
# (doc_id % 5 -> gray / RGB / palette / gray+alpha / RGBA), 16 pixels
# per row, Adam7-interlaced when 8+ rows so the 7-pass de-interlace is
# exercised — and certified by the row- AND column-weighted checksums
# the feature pass emits (plain stats are pixel-order-invariant; the
# weighted sums are not). Palette images use the identity GRAY palette
# so their expanded RGB bytes are each index byte triplicated — the
# oracle scales sums by 3 for palette docs and nothing else changes.
PNG_COLOR_WIDTH = 16
PNG_COLOR_MODES = (0, 2, 3, 4, 6)  # doc_id % 5 -> PNG color type
PNG_IDENTITY_PALETTE = bytes(bytearray(b for i in range(256) for b in (i, i, i)))

PNG_COLOR_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("color_type", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("n_channel_bytes", LongType(), False),
        StructField("mean_byte", DoubleType(), True),
        StructField("max_byte", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("row_weighted_sum", LongType(), True),
        StructField("col_weighted_sum", LongType(), True),
    ]
)


def with_png_color_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic COLOR PNG per row: the document's
    utf-8 bytes become the raw channel bytes of a 16-pixel-wide image
    in the color type doc_id % 5 selects (so the whole corpus covers
    gray, RGB, palette, gray+alpha and RGBA), whole rows only, Adam7-
    interlaced at 8+ rows. Docs too short for one row carry NULL."""

    def encode(doc_id, t):
        ct = PNG_COLOR_MODES[int(doc_id) % 5]
        bpp = _PNG_COLOR_CHANNELS[ct]
        raw = t.encode("utf-8")
        h = len(raw) // (bpp * PNG_COLOR_WIDTH)
        if h == 0:
            return None
        return encode_png_ex(
            raw[: bpp * PNG_COLOR_WIDTH * h],
            PNG_COLOR_WIDTH,
            h,
            color_type=ct,
            palette=PNG_IDENTITY_PALETTE if ct == 3 else None,
            interlace=h >= 8,
        )

    return synth_payload(
        df, encode, "image/png", cols=("doc_id", text_col), nullable=True
    )


def decode_png_color_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each color PNG through the full inflate + unfilter (+
    Adam7 scatter + palette expansion) path and emit exact stats over
    the EXPANDED channel bytes, plus row- and column-weighted checksums
    that certify pixel ORDER (de-interlacing) — one Arrow pass, zero
    shuffles, no driver involvement."""

    def rows(doc_id, payload):
        ct = PNG_COLOR_MODES[int(doc_id) % 5]
        if payload is None:
            yield (int(doc_id), ct, PNG_COLOR_WIDTH, 0, 0, 0,
                   None, None, None, None, None)
            return
        v = parse_png(payload)
        if v["color_type"] != ct:
            raise ValueError(
                f"doc {doc_id}: decoded color type {v['color_type']} "
                f"!= synthesized {ct}"
            )
        ex = png_expand_rgb(v).astype(np.int64)
        h, w, c = ex.shape
        rw = 1 + np.arange(h, dtype=np.int64)
        cw = 1 + np.arange(w, dtype=np.int64)
        yield (
            int(doc_id),
            ct,
            w,
            h,
            h * w,
            h * w * c,
            float(ex.sum()) / (h * w * c),
            int(ex.max()),
            int(ex.min()),
            int((ex.sum(axis=(1, 2)) * rw).sum()),
            int((ex.sum(axis=(0, 2)) * cw).sum()),
        )

    return map_payload(df, PNG_COLOR_FEATURE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# JPEG — dependency-free codec (the format a real multimodal corpus is
# actually made of). JFIF: SOI, APP0, DQT, SOF0/SOF2, DHT, DRI, SOS +
# entropy-coded data (byte-stuffed), EOI. Marker segments have one
# writer, ``_jpeg_file`` (every encoder's segments and closing EOI),
# and one reader, ``_jpeg_segments`` (the marker walk under both the
# decoder and the header probe). The ENCODERS run the real
# forward pipeline (level shift, 8x8 float DCT, quantize, zigzag,
# DC-difference + AC run-length canonical-Huffman entropy coding); the
# DECODER is fully general for the declared subset: marker walk,
# DQT/DHT table parse, canonical-Huffman bit decode with 0xFF00
# unstuffing, dequantize, de-zigzag, IDCT, level shift, clamp, crop.
# Entropy bits are MSB-first (bitio.MsbWriter / bitio.MsbReader).
# Unsupported variants (extended/arithmetic SOFs, 16-bit quant tables)
# fail LOUDLY — never guessed at.
#
# Exactness contract used by the mm13 oracle: a block whose 64 pixels
# are all v has DCT == (8*(v-128), 0, ..., 0); with the synthesis
# quant table (DC step 8, AC step 1) the quantized DC is exactly
# v-128, so decode reproduces v byte-exactly — the lossy pipeline is
# lossless on block-constant images, letting DuckDB recompute decoded
# stats straight from the characters (mm12 convention). The general
# lossy path (nonzero ACs, q=1) is covered by coefficient-level and
# tolerance round-trip tests in tests/test_multimodal.py.
#
# Reference anchor: the reference engine is OHLCV-only and has no
# image codecs; this implements the engine's own decode_media contract
# (see queries/ml.py:12 note in SURVEY §2.13) from the public JPEG
# spec (ITU-T T.81 baseline process).
# ---------------------------------------------------------------------------

JPEG_BLOCKS_PER_ROW = 16  # synthesis: one 8x8 block per character, 16/row
JPEG_WIDTH = 8 * JPEG_BLOCKS_PER_ROW
# JFIF height is a 16-bit field: cap synthesis at the largest block-row
# count whose pixel height fits (8*8191 = 65528 <= 0xFFFF) — a >=128 KiB
# document truncates to the cap instead of crashing the encode
JPEG_MAX_BLOCK_ROWS = 0xFFFF // 8

# zigzag scan order: index i holds the (row-major) position of the i-th
# zigzag coefficient
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# synthesis quant table (zigzag order): DC step 8 (exact for constant
# blocks — 8*(v-128)/8 == v-128), AC step 1 (lossless at the
# coefficient level for the general tests)
_JPEG_QUANT_SYNTH = np.array([8] + [1] * 63, dtype=np.int64)


def _jpeg_dct_matrix() -> np.ndarray:
    j = np.arange(8, dtype=np.float64)
    m = np.cos((2 * j[None, :] + 1) * j[:, None] * np.pi / 16) / 2
    m[0, :] /= np.sqrt(2.0)
    return m


_JPEG_D = _jpeg_dct_matrix()


def _matmul8(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b`` over trailing 8x8 matrices (broadcast leading axes) as
    eight elementwise multiplies summed in a fixed k = 0..7 order. A BLAS
    matmul picks its kernel by CPU, and an FMA kernel rounds differently
    from a plain one; a coefficient near a quantizer's half step then
    rounds the other way and the encoded bytes change with the machine.
    Separate correctly-rounded multiplies and adds give the same bits
    on every CPU."""
    acc = a[..., :, 0:1] * b[..., 0:1, :]
    for k in range(1, 8):
        acc += a[..., :, k : k + 1] * b[..., k : k + 1, :]
    return acc


def _dht_pairs(bits: list[int], values: list[int]):
    """(symbol, length) pairs of a JPEG DHT in table order: bits[i]
    symbols of length i+1, taken from ``values`` in sequence. Table
    order is not symbol order (the AC tables list 0xF0 before 0x01)."""
    return zip(values, [ln for ln, n in enumerate(bits, 1) for _ in range(n)])


# Canonical tables the encoder emits in DHT (decoder always reads the
# tables from the stream — these are just what the synthesis side
# writes): 12 DC categories at length 4, the 162 standard AC symbols
# (EOB, ZRL, (run 0-15, size 1-10)) at length 8. Both leave the
# all-ones code unused, so padding bits can never alias a symbol.
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALUES = list(range(12))
_JPEG_AC_VALUES = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_JPEG_AC_VALUES), 0, 0, 0, 0, 0, 0, 0, 0]

# the encoder's tables never change — build their code dicts once
_JPEG_DC_CODES = canonical_codes(_dht_pairs(_JPEG_DC_BITS, _JPEG_DC_VALUES))
_JPEG_AC_CODES = canonical_codes(_dht_pairs(_JPEG_AC_BITS, _JPEG_AC_VALUES))


def _jpeg_scan_bytes(w: MsbWriter) -> bytes:
    """Finish one entropy-coded scan: pad the tail byte with 1s per
    T.81, then byte-stuff every 0xFF. Stuffing depends only on the
    output bytes, so it is one replace over the finished scan (these
    scans carry no RST markers, which must stay unstuffed)."""
    pad = -w.pos & 7
    w.write((1 << pad) - 1, pad)
    return w.getvalue().replace(b"\xff", b"\xff\x00")


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _jpeg_marker(marker: int, data: bytes) -> bytes:
    import struct

    return struct.pack(">HH", marker, len(data) + 2) + data


def _jpeg_file(
    sof: int,
    width: int,
    height: int,
    comps: bytes,
    quant: list[np.ndarray],
    huffman: list[tuple[int, list[int], list[int]]],
    scans: list[tuple[bytes, bytes]],
    restart_interval: int = 0,
) -> bytes:
    """A JFIF stream in the one segment order every encoder here writes:
    SOI, APP0 (JFIF 1.1, no thumbnail), DQT (8-bit table i = ``quant[i]``),
    SOFn (8-bit, ``comps`` holds 3 bytes per component), DHT (one
    ``(class << 4 | id, bits, values)`` table per entry), DRI when
    ``restart_interval`` is set, then each ``(sos_header, entropy_bytes)``
    scan, then EOI."""
    import struct

    dqt = b"".join(bytes([i]) + bytes(q.astype(np.uint8)) for i, q in enumerate(quant))
    dht = b"".join(bytes([t]) + bytes(bits) + bytes(vals) for t, bits, vals in huffman)

    dri = (
        _jpeg_marker(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"  # SOI
        + _jpeg_marker(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _jpeg_marker(0xFFDB, dqt)
        + _jpeg_marker(
            sof, struct.pack(">BHHB", 8, height, width, len(comps) // 3) + comps
        )
        + _jpeg_marker(0xFFC4, dht)
        + dri
        + b"".join(_jpeg_marker(0xFFDA, header) + body for header, body in scans)
        + b"\xff\xd9"  # EOI
    )


def _jpeg_forward_zigzag(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Shared forward path for ALL JPEG encoders: edge-replicate pad to
    whole blocks, vectorized 8x8 DCT (_matmul8), quantize,
    zigzag. One implementation so the byte-exact oracle arguments
    (which assume the baseline / progressive / color encoders quantize
    identically) can never desynchronize. Returns (n_blocks, 64) int64
    in plane-raster block order."""
    h, w = plane.shape
    bw, bh = -(-w // 8), -(-h // 8)
    px = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    blocks = (
        px.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    coef = _matmul8(_matmul8(_JPEG_D, blocks), _JPEG_D.T)
    qz = q[np.argsort(_JPEG_ZIGZAG)]
    qc = np.rint(coef.reshape(-1, 64) / qz).astype(np.int64)
    return qc[:, _JPEG_ZIGZAG]


def _jpeg_dc_last(zz: np.ndarray) -> tuple[list[int], list[int]]:
    """Vectorized per-block DC values + last-nonzero-AC positions — the
    entropy loops' hoisted preamble (blocks with no AC energy take the
    three-write fast path with no array access)."""
    dcs = zz[:, 0].tolist()
    ac_mask = zz[:, 1:] != 0
    has_ac = ac_mask.any(axis=1)
    last = np.where(has_ac, 63 - ac_mask[:, ::-1].argmax(axis=1), 0).tolist()
    return dcs, last


def _jpeg_emit_restart(
    out: bytearray, acc: int, nbits: int, rst: int
) -> tuple[int, int, int]:
    """Pad-flush the bit accumulator to a byte (stuffed like any entropy
    byte), emit the cycling RSTn marker RAW (markers are never stuffed),
    advance the cycle. Shared by the gray and color encoders — called
    once per restart boundary, so the helper-call cost is nil."""
    if nbits:
        pad = 8 - nbits
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    out.append(0xFF)
    out.append(0xD0 + rst)
    return 0, 0, (rst + 1) % 8


def encode_jpeg_gray(
    gray: bytes,
    width: int,
    height: int,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Serialize raw 8-bit grayscale pixels as a real baseline JFIF
    stream (forward DCT + quantize + Huffman entropy coding). Partial
    edge blocks are padded by edge replication, the standard trick —
    the decoder crops back to the SOF geometry. ``restart_interval=R``
    emits a DRI marker and an RSTn (cycling 0..7) every R MCUs (=
    blocks for single-component), resetting byte alignment and the DC
    predictor — how real encoders bound error propagation."""
    if len(gray) != width * height:
        raise ValueError(
            f"payload is {len(gray)} bytes, geometry {width}x{height} "
            f"needs {width * height}"
        )
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(f"JPEG geometry out of range: {width}x{height}")
    q = _JPEG_QUANT_SYNTH if quant is None else np.asarray(quant, dtype=np.int64)
    if q.shape != (64,) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant table must be 64 entries in 1..255 (8-bit DQT)")
    dc_codes, ac_codes = _JPEG_DC_CODES, _JPEG_AC_CODES
    # forward path shared across all three encoders (_jpeg_forward_zigzag:
    # vectorized DCT + quantize); only the inherently sequential entropy
    # coding stays a per-block loop, with its numpy work hoisted
    zz_all = _jpeg_forward_zigzag(
        np.frombuffer(gray, dtype=np.uint8).reshape(height, width), q
    )
    dcs, last_all = _jpeg_dc_last(zz_all)
    # the bit-writer is INLINED (no bitio.MsbWriter) on purpose: the
    # per-write method call measured as ~40% of the whole encode, and
    # the block-constant synthesis family emits 2-3 writes per block —
    # semantics are exactly MsbWriter.write plus _jpeg_scan_bytes'
    # 1-padding and stuffing (bitio.py is the reference
    # implementation). Bits accumulate per block and drain to bytes
    # (with 0xFF00 stuffing) once per block / once per AC coefficient,
    # so acc stays a small int.
    out = bytearray()
    append = out.append
    acc = nbits = 0
    prev_dc = 0
    rst = 0
    eob_code, eob_len = ac_codes[0x00]
    zrl_code, zrl_len = ac_codes[0xF0]
    for bi, dc in enumerate(dcs):
        if restart_interval and bi and bi % restart_interval == 0:
            acc, nbits, rst = _jpeg_emit_restart(out, acc, nbits, rst)
            prev_dc = 0
        diff = dc - prev_dc
        prev_dc = dc
        s = (diff if diff >= 0 else -diff).bit_length()
        code, length = dc_codes[s]
        acc = (acc << length) | code
        nbits += length
        if s:
            acc = (acc << s) | (
                (diff if diff >= 0 else diff + (1 << s) - 1) & ((1 << s) - 1)
            )
            nbits += s
        last = last_all[bi]
        if last:
            while nbits >= 8:
                nbits -= 8
                byte = (acc >> nbits) & 0xFF
                append(byte)
                if byte == 0xFF:
                    append(0x00)
            acc &= (1 << nbits) - 1
            zz = zz_all[bi].tolist()
            run = 0
            for k in range(1, last + 1):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    acc = (acc << zrl_len) | zrl_code
                    nbits += zrl_len
                    run -= 16
                s = (v if v >= 0 else -v).bit_length()
                code, length = ac_codes[(run << 4) | s]
                acc = (
                    ((acc << length) | code) << s
                ) | ((v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1))
                nbits += length + s
                run = 0
                while nbits >= 8:
                    nbits -= 8
                    byte = (acc >> nbits) & 0xFF
                    append(byte)
                    if byte == 0xFF:
                        append(0x00)
                acc &= (1 << nbits) - 1
        if last < 63:
            acc = (acc << eob_len) | eob_code
            nbits += eob_len
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            append(byte)
            if byte == 0xFF:
                append(0x00)
        acc &= (1 << nbits) - 1
    if nbits:  # flush: pad the tail byte with 1s per T.81
        pad = 8 - nbits
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        append(byte)
        if byte == 0xFF:
            append(0x00)
    return _jpeg_file(
        0xFFC0, width, height, bytes([1, 0x11, 0]), [q],
        [
            (0x00, _JPEG_DC_BITS, _JPEG_DC_VALUES),
            (0x10, _JPEG_AC_BITS, _JPEG_AC_VALUES),
        ],
        [(bytes([1, 1, 0x00, 0, 63, 0]), bytes(out))], restart_interval,
    )


# LUT cache keyed by the raw DHT payload bytes: a corpus decode sees
# the same Huffman tables in every payload, and rebuilding the 65536-
# entry tables per image costs more than the entropy decode itself
_JPEG_LUT_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


def _jpeg_decode_lut(
    table: dict[tuple[int, int], int], raw_key: bytes
) -> tuple[list[int], list[int]]:
    """16-bit-window lookup tables (symbol, code length) for one DHT —
    the libjpeg fast-decode idiom: every 16-bit bit-window whose prefix
    is a valid code maps to its symbol, so decoding is one list index
    instead of a bit-by-bit tree walk. Unused windows carry -1. Cached
    on the DHT segment bytes (bounded: distinct tables per process)."""
    hit = _JPEG_LUT_CACHE.get(raw_key)
    if hit is not None:
        return hit
    sym = np.full(1 << 16, -1, dtype=np.int32)
    ln = np.zeros(1 << 16, dtype=np.int32)
    for (length, code), s in table.items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        sym[lo:hi] = s
        ln[lo:hi] = length
    out = (sym.tolist(), ln.tolist())
    if len(_JPEG_LUT_CACHE) < 64:
        _JPEG_LUT_CACHE[raw_key] = out
    return out


def _jpeg_read_symbol(reader: MsbReader, lut: tuple[list[int], list[int]]) -> int:
    """One Huffman symbol: peek a 16-bit window, one LUT probe, consume
    the code. Past the end of the stream the window is padded with 1s
    (the T.81 pad value), so a final symbol flush against padding still
    resolves; consuming more bits than the stream has raises."""
    window = reader.peek(16)
    short = reader.pos + 16 - reader.nbits
    if short > 0:
        window |= (1 << short) - 1
    sym = lut[0][window]
    if sym < 0:
        raise ValueError("invalid JPEG Huffman code (no symbol within 16 bits)")
    reader.skip(lut[1][window])
    return sym


def _jpeg_extend(bits: int, s: int) -> int:
    # T.81 F.2.2.1: received s bits encode v>0 directly, v<0 as
    # v + 2^s - 1
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


# Progressive AC scans need EOBn run symbols (n<<4|0, n=0..14) the
# sequential table never uses; all 176 symbols sit at length 8 so the
# all-ones code stays unused (padding can never alias a symbol).
_JPEG_PROG_AC_VALUES = (
    [(n << 4) | 0x0 for n in range(15)]
    + [0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_JPEG_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_JPEG_PROG_AC_VALUES),
                      0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_AC_CODES = canonical_codes(_dht_pairs(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALUES))


def _jpeg_flush_eobrun(w: MsbWriter, eobrun: int, ac_codes) -> int:
    """Emit a buffered EOBRUN, if any, as its EOBn symbol plus the n low
    bits of the run length (T.81 G.1.2.2); returns the emptied run."""
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, length = ac_codes[(nbits << 4) | 0x0]
        w.write(code, length)
        w.write(eobrun - (1 << nbits), nbits)
    return 0


def encode_jpeg_progressive_gray(
    gray: bytes, width: int, height: int, quant: np.ndarray | None = None
) -> bytes:
    """Serialize 8-bit grayscale pixels as a REAL progressive JPEG
    (SOF2) exercising the full T.81 annex-G toolbox a web corpus
    throws at a decoder: spectral selection (DC scan, then AC bands
    1-5 and 6-63) AND successive approximation (every first pass sends
    magnitudes at Al=1; DC and AC refinement scans send the low bit),
    with real EOBRUN coding in the AC scans. The quantized coefficients
    are identical to the baseline encoder's, so a correct progressive
    decode reproduces the baseline decode BIT-FOR-BIT — the test
    anchor. Scan script:

      1. DC  Ss=0  Se=0  Ah=0 Al=1   (interleaved-equivalent, 1 comp)
      2. AC  Ss=1  Se=5  Ah=0 Al=1   (low band first — the visual point)
      3. AC  Ss=6  Se=63 Ah=0 Al=1
      4. DC  Ss=0  Se=0  Ah=1 Al=0   (one raw bit per block)
      5. AC  Ss=1  Se=63 Ah=1 Al=0   (correction bits + newly-significant)
    """
    if len(gray) != width * height:
        raise ValueError(
            f"payload is {len(gray)} bytes, geometry {width}x{height} "
            f"needs {width * height}"
        )
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(f"JPEG geometry out of range: {width}x{height}")
    q = _JPEG_QUANT_SYNTH if quant is None else np.asarray(quant, dtype=np.int64)
    if q.shape != (64,) or (q < 1).any() or (q > 255).any():
        raise ValueError("quant table must be 64 entries in 1..255 (8-bit DQT)")
    zz = _jpeg_forward_zigzag(
        np.frombuffer(gray, dtype=np.uint8).reshape(height, width), q
    )
    n_blocks = zz.shape[0]
    dc_codes, ac_codes = _JPEG_DC_CODES, _JPEG_PROG_AC_CODES

    def dc_first(al: int) -> bytes:
        w = MsbWriter()
        prev = 0
        for bi in range(n_blocks):
            v = int(zz[bi, 0]) >> al  # DC point transform: ARITHMETIC shift
            diff = v - prev
            prev = v
            s = _jpeg_category(diff)
            code, length = dc_codes[s]
            w.write(code, length)
            if s:
                w.write((diff if diff >= 0 else diff + (1 << s) - 1), s)
        return _jpeg_scan_bytes(w)

    def dc_refine(al: int) -> bytes:
        # the refinement bit is the TWO'S-COMPLEMENT bit (v >> al) & 1
        # (arithmetic shift), matching the decoder's `coef |= 1 << al`
        # convention — for negative DC at al > 0 the sign-magnitude bit
        # would differ (identical at al == 0, the shipped script, but
        # the invariant must not depend on the script)
        w = MsbWriter()
        for bi in range(n_blocks):
            w.write((int(zz[bi, 0]) >> al) & 1, 1)
        return _jpeg_scan_bytes(w)

    def ac_first(ss: int, se: int, al: int) -> bytes:
        w = MsbWriter()
        eobrun = 0  # blocks whose band is all zero, not yet emitted
        # vectorized all-zero-band skip: a block with no magnitude in
        # the band at this precision is exactly one eobrun increment —
        # never pay the 63-step Python loop for it (measured as the
        # whole encode on sparse/flat content)
        band_any = ((np.abs(zz[:, ss : se + 1]) >> al) != 0).any(axis=1)
        for bi in range(n_blocks):
            if not band_any[bi]:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _jpeg_flush_eobrun(w, eobrun, ac_codes)
                continue
            run = 0
            wrote = False
            for k in range(ss, se + 1):
                v = int(zz[bi, k])
                m = (v if v >= 0 else -v) >> al  # AC point transform: magnitude shift
                if m == 0:
                    run += 1
                    continue
                eobrun = _jpeg_flush_eobrun(w, eobrun, ac_codes)
                while run >= 16:
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    run -= 16
                s = m.bit_length()
                code, length = ac_codes[(run << 4) | s]
                w.write(code, length)
                w.write((m if v >= 0 else (-m) + (1 << s) - 1) & ((1 << s) - 1), s)
                run = 0
                wrote = True
            if run > 0 or not wrote:
                # block ends in (or is entirely) zeros at this precision
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _jpeg_flush_eobrun(w, eobrun, ac_codes)
        _jpeg_flush_eobrun(w, eobrun, ac_codes)
        return _jpeg_scan_bytes(w)

    def ac_refine(ss: int, se: int, ah: int, al: int) -> bytes:
        """G.1.2.3: newly-significant coefficients (|v|>>Al == 1 with
        zero history) emit (run,1)+sign; nonzero-history coefficients
        contribute one correction bit each, buffered and flushed after
        the next emitted symbol (ZRL / run-1 / EOBn) so the decoder
        reads them during that symbol's positional advance."""
        w = MsbWriter()
        eobrun = 0
        pending: list[int] = []  # corrections riding the pending EOBRUN

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun:
                eobrun = _jpeg_flush_eobrun(w, eobrun, ac_codes)
                for b in pending:
                    w.write(b, 1)
                pending.clear()

        # vectorized all-zero-band skip (same rationale as ac_first):
        # no magnitude in the band ⇒ one eobrun increment, no pending
        # correction bits (nothing has history either)
        band_any = ((np.abs(zz[:, ss : se + 1]) >> al) != 0).any(axis=1)
        for bi in range(n_blocks):
            if not band_any[bi]:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            vals = [int(zz[bi, k]) for k in range(ss, se + 1)]
            mags = [(v if v >= 0 else -v) >> al for v in vals]
            # last newly-significant position bounds ZRL emission: zeros
            # past it fold into the EOB run instead
            eobpos = -1
            for j, m in enumerate(mags):
                if m == 1:
                    eobpos = j
            run = 0
            bebits: list[int] = []
            for j, m in enumerate(mags):
                if m == 0:
                    run += 1
                    continue
                while run > 15 and j <= eobpos:
                    flush_eob()
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    run -= 16
                    for b in bebits:
                        w.write(b, 1)
                    bebits.clear()
                if m > 1:
                    bebits.append(m & 1)  # history nonzero: correction bit
                    continue
                # newly significant (m == 1)
                flush_eob()
                code, length = ac_codes[(run << 4) | 1]
                w.write(code, length)
                w.write(1 if vals[j] >= 0 else 0, 1)
                for b in bebits:
                    w.write(b, 1)
                bebits.clear()
                run = 0
            if run > 0 or bebits:
                eobrun += 1
                pending.extend(bebits)
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        return _jpeg_scan_bytes(w)

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return bytes([1, 1, 0x00, ss, se, (ah << 4) | al])

    return _jpeg_file(
        0xFFC2, width, height, bytes([1, 0x11, 0]), [q],
        [
            (0x00, _JPEG_DC_BITS, _JPEG_DC_VALUES),
            (0x10, _JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALUES),
        ],
        [
            (sos(0, 0, 0, 1), dc_first(1)),
            (sos(1, 5, 0, 1), ac_first(1, 5, 1)),
            (sos(6, 63, 0, 1), ac_first(6, 63, 1)),
            (sos(0, 0, 1, 0), dc_refine(0)),
            (sos(1, 63, 1, 0), ac_refine(1, 63, 1, 0)),
        ],
    )


def encode_jpeg_ycbcr420(
    y: bytes,
    cb: bytes,
    cr: bytes,
    width: int,
    height: int,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Serialize planar YCbCr (full-res Y, 2x2-subsampled Cb/Cr) as a
    real baseline 4:2:0 JFIF stream: per-plane forward DCT + quantize
    (separate luma/chroma DQT ids 0/1), MCU-interleaved canonical-
    Huffman entropy coding with SEPARATE luma/chroma DHT ids — so a
    decoder must exercise per-component table selection, interleaved
    MCU order (4 Y blocks + Cb + Cr), and chroma upsampling. Geometry
    must be a multiple of 16 (whole MCUs; the synthesis side guarantees
    it, and a general edge-replicating color encoder is out of scope —
    fails loudly instead of padding wrong)."""
    if width % 16 or height % 16 or width == 0 or height == 0:
        raise ValueError(
            f"4:2:0 geometry must be positive multiples of 16, got {width}x{height}"
        )
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(f"JPEG geometry out of range: {width}x{height}")
    if len(y) != width * height:
        raise ValueError(
            f"Y plane is {len(y)} bytes, geometry {width}x{height} needs {width * height}"
        )
    if len(cb) != width * height // 4 or len(cr) != width * height // 4:
        raise ValueError(
            f"Cb/Cr planes are {len(cb)}/{len(cr)} bytes, 4:2:0 needs {width * height // 4}"
        )
    ql = _JPEG_QUANT_SYNTH if quant_luma is None else np.asarray(quant_luma, np.int64)
    qc = _JPEG_QUANT_SYNTH if quant_chroma is None else np.asarray(quant_chroma, np.int64)
    for q in (ql, qc):
        if q.shape != (64,) or (q < 1).any() or (q > 255).any():
            raise ValueError("quant table must be 64 entries in 1..255 (8-bit DQT)")
    mrows, mcols = height // 16, width // 16

    def _blocks(plane: np.ndarray, ph: int, pw: int, q: np.ndarray):
        """Plane-raster quantized zigzag blocks + vectorized DC / last-AC
        (shared forward path — see _jpeg_forward_zigzag)."""
        zz = _jpeg_forward_zigzag(plane, q)
        dcs, last = _jpeg_dc_last(zz)
        return zz, dcs, last, pw // 8

    yp = np.frombuffer(y, dtype=np.uint8).reshape(height, width)
    cbp = np.frombuffer(cb, dtype=np.uint8).reshape(height // 2, width // 2)
    crp = np.frombuffer(cr, dtype=np.uint8).reshape(height // 2, width // 2)
    comp_data = [
        _blocks(yp, height, width, ql),
        _blocks(cbp, height // 2, width // 2, qc),
        _blocks(crp, height // 2, width // 2, qc),
    ]
    comp_hv = [(2, 2), (1, 1), (1, 1)]

    # scan-order block sequence: per MCU, 4 Y blocks (2x2 raster), Cb, Cr
    dc_codes, ac_codes = _JPEG_DC_CODES, _JPEG_AC_CODES
    eob_code, eob_len = ac_codes[0x00]
    zrl_code, zrl_len = ac_codes[0xF0]
    out = bytearray()
    append = out.append
    acc = nbits = 0
    prev = [0, 0, 0]
    rst = 0
    for R in range(mrows):
        for C in range(mcols):
            mcu_i = R * mcols + C
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                acc, nbits, rst = _jpeg_emit_restart(out, acc, nbits, rst)
                prev = [0, 0, 0]
            for ci in range(3):
                h_i, v_i = comp_hv[ci]
                zz_all, dcs, last_all, gw = comp_data[ci]
                prev_dc = prev[ci]
                for r in range(v_i):
                    row0 = (R * v_i + r) * gw + C * h_i
                    for cc in range(h_i):
                        bi = row0 + cc
                        dc = dcs[bi]
                        diff = dc - prev_dc
                        prev_dc = dc
                        s = (diff if diff >= 0 else -diff).bit_length()
                        code, length = dc_codes[s]
                        acc = (acc << length) | code
                        nbits += length
                        if s:
                            acc = (acc << s) | (
                                (diff if diff >= 0 else diff + (1 << s) - 1)
                                & ((1 << s) - 1)
                            )
                            nbits += s
                        lastk = last_all[bi]
                        if lastk:
                            while nbits >= 8:
                                nbits -= 8
                                byte = (acc >> nbits) & 0xFF
                                append(byte)
                                if byte == 0xFF:
                                    append(0x00)
                            acc &= (1 << nbits) - 1
                            zzb = zz_all[bi].tolist()
                            run = 0
                            for k in range(1, lastk + 1):
                                v = zzb[k]
                                if v == 0:
                                    run += 1
                                    continue
                                while run >= 16:
                                    acc = (acc << zrl_len) | zrl_code
                                    nbits += zrl_len
                                    run -= 16
                                s = (v if v >= 0 else -v).bit_length()
                                code, length = ac_codes[(run << 4) | s]
                                acc = (
                                    ((acc << length) | code) << s
                                ) | ((v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1))
                                nbits += length + s
                                run = 0
                                while nbits >= 8:
                                    nbits -= 8
                                    byte = (acc >> nbits) & 0xFF
                                    append(byte)
                                    if byte == 0xFF:
                                        append(0x00)
                                acc &= (1 << nbits) - 1
                        if lastk < 63:
                            acc = (acc << eob_len) | eob_code
                            nbits += eob_len
                        while nbits >= 8:
                            nbits -= 8
                            byte = (acc >> nbits) & 0xFF
                            append(byte)
                            if byte == 0xFF:
                                append(0x00)
                        acc &= (1 << nbits) - 1
                prev[ci] = prev_dc
    if nbits:  # flush: pad the tail byte with 1s per T.81
        pad = 8 - nbits
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        append(byte)
        if byte == 0xFF:
            append(0x00)
    dc, ac = (_JPEG_DC_BITS, _JPEG_DC_VALUES), (_JPEG_AC_BITS, _JPEG_AC_VALUES)
    return _jpeg_file(
        0xFFC0, width, height, bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]), [ql, qc],
        # DC/AC table id 0 for luma, id 1 for chroma
        [(0x00, *dc), (0x10, *ac), (0x01, *dc), (0x11, *ac)],
        [(bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]), bytes(out))],
        restart_interval,
    )


def jpeg_rgb_to_ycbcr420(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full-range BT.601 RGB -> planar YCbCr with 2x2 box-average
    chroma subsampling (the standard 4:2:0 front end). rgb is (H, W, 3)
    uint8 with H, W multiples of 16; rounding is floor(x+0.5) to mirror
    ``jpeg_ycbcr_to_rgb``."""
    h, w = rgb.shape[:2]
    if h % 16 or w % 16:
        raise ValueError(f"4:2:0 geometry must be multiples of 16, got {w}x{h}")
    f = rgb.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    yf = 0.299 * r + 0.587 * g + 0.114 * b
    cbf = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    crf = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    y = np.clip(np.floor(yf + 0.5), 0, 255).astype(np.uint8)
    cb = np.clip(
        np.floor(cbf.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)) + 0.5), 0, 255
    ).astype(np.uint8)
    cr = np.clip(
        np.floor(crf.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)) + 0.5), 0, 255
    ).astype(np.uint8)
    return y, cb, cr


def _jpeg_scan_end(buf: bytes) -> int:
    """Offset of the first REAL marker after entropy-coded data: 0xFF
    followed by anything but 0x00 stuffing or an RSTn restart code.
    Vectorized (only 0xFF positions inspected)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    for i in np.flatnonzero(arr == 0xFF):
        if i + 1 >= len(buf):
            return int(i)  # trailing 0xFF
        nxt = buf[i + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            continue
        return int(i)
    return len(buf)


def _jpeg_segments(payload: bytes):
    """The one JPEG marker walk (T.81 B.1), shared by the decoder and the
    header probe so framing semantics cannot diverge between them. Yields
    ``(marker, seg, scan)`` per length-carrying segment: ``seg`` is the
    body after the 2-byte length, ``scan`` the raw entropy-coded bytes
    after an SOS (stuffing and RSTn markers still in place) and ``None``
    after any other segment. Fill bytes and the bare TEM/RSTn markers are
    skipped; the walk ends at EOI or when fewer than 2 bytes remain. A
    missing SOI or a cut-short segment raises ``ValueError``."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI marker)")
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected JPEG marker at offset {pos}")
        # T.81 B.1.1.2: any marker may be preceded by fill bytes
        # (repeated 0xFF) — skip them so the next byte is the marker
        # code, not another 0xFF misread as code 0xFF
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise ValueError("JPEG payload ends in fill bytes with no marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn: bare
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        seg = payload[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment body")
        pos += seglen
        scan = None
        if marker == 0xDA:  # SOS: entropy data runs to the next real marker
            buf = payload[pos:]
            scan = buf[: _jpeg_scan_end(buf)]
            pos += len(scan)
        yield marker, seg, scan


def _jpeg_split_segments(scan_data: bytes, dri: int, n_units: int) -> list[bytes]:
    """Split one scan's entropy stream at restart markers (0xFFD0-D7)
    BEFORE unstuffing — unambiguous because a stuffed 0xFF is always
    followed by 0x00, never 0xD0-D7. Validates the RST0..7 cycle and
    the segment count against the scan's MCU count (T.81 E.1.4)."""
    if not dri:
        return [scan_data.replace(b"\xff\x00", b"\xff")]
    seg_bounds: list[bytes] = []
    rst_codes: list[int] = []
    sarr = np.frombuffer(scan_data, dtype=np.uint8)
    start = 0
    for i in np.flatnonzero(sarr == 0xFF):
        if i + 1 < len(scan_data) and 0xD0 <= scan_data[i + 1] <= 0xD7:
            seg_bounds.append(scan_data[start:i])
            rst_codes.append(scan_data[i + 1] - 0xD0)
            start = int(i) + 2
    seg_bounds.append(scan_data[start:])
    for j, m in enumerate(rst_codes):
        if m != j % 8:
            raise ValueError(
                f"RST marker out of sequence: expected RST{j % 8}, got RST{m}"
            )
    n_expected = -(-n_units // dri)
    if len(seg_bounds) != n_expected:
        raise ValueError(
            f"restart interval {dri} over {n_units} MCUs needs "
            f"{n_expected} entropy segments, found {len(seg_bounds)}"
        )
    return [s.replace(b"\xff\x00", b"\xff") for s in seg_bounds]


def _jpeg_idct_planes(
    zz_by_comp: list[np.ndarray],
    comps: list[dict],
    quant: dict[int, np.ndarray],
    width: int,
    height: int,
    hmax: int,
    vmax: int,
    grid_w: list[int],
    grid_h: list[int],
) -> dict:
    """Shared decode tail: per-component dequantize + de-zigzag +
    vectorized IDCT + level shift + clamp, crop to the component's true
    resolution, replicate chroma up to frame resolution (nearest-
    neighbor — the baseline convention; smooth upsampling is a renderer
    choice). Consumes zigzag-ordered (n_blocks, 64) coefficient arrays
    in plane-raster block order."""
    planes: list[np.ndarray] = []
    for ci, c in enumerate(comps):
        gw, gh = grid_w[ci], grid_h[ci]
        n_blocks = gw * gh
        coef = np.zeros((n_blocks, 64), dtype=np.float64)
        coef[:, _JPEG_ZIGZAG] = (zz_by_comp[ci] * quant[c["tq"]]).astype(np.float64)
        blocks = _matmul8(_matmul8(_JPEG_D.T, coef.reshape(-1, 8, 8)), _JPEG_D)
        px_blocks = np.clip(np.rint(blocks) + 128, 0, 255).astype(np.uint8)
        plane = (
            px_blocks.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
        )
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        plane = plane[:ch, :cw]
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        planes.append(np.ascontiguousarray(plane[:height, :width]))
    return {
        "width": int(width),
        "height": int(height),
        "components": len(comps),
        "planes": planes,
    }


def _jpeg_decode_progressive(
    scans: list[dict],
    comps: list[dict],
    width: int,
    height: int,
    hmax: int,
    vmax: int,
    mcols: int,
    mrows: int,
    grid_w: list[int],
    grid_h: list[int],
) -> list[np.ndarray]:
    """Progressive (SOF2) coefficient accumulation over all scans —
    T.81 annex G, Huffman only: spectral selection (per-scan [Ss, Se]
    bands) and successive approximation (Ah/Al bit planes). DC scans
    may be interleaved; AC scans are single-component by the standard.
    First passes (Ah=0) decode magnitudes at precision Al; refinement
    passes (Ah=Al+1) add one low bit per coefficient — newly
    significant coefficients arrive as ±1<<Al, already-nonzero ones as
    correction bits, with EOB-run coding across blocks. Restart
    intervals apply per scan (predictors + EOB run reset per segment).
    Returns zigzag-ordered (n_blocks, 64) int64 arrays per component
    in plane-raster block order (padding blocks of non-interleaved
    scans stay zero — they fall outside the crop)."""
    n_comp = len(comps)
    coefs = [
        np.zeros((grid_w[ci] * grid_h[ci], 64), dtype=np.int64)
        for ci in range(n_comp)
    ]
    got_dc = [False] * n_comp
    for scan in scans:
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        sc = scan["comps"]
        huff = scan["huff"]
        if ss == 0:
            if se != 0:
                raise ValueError(
                    "progressive scan mixes DC and AC coefficients (Ss=0, Se>0)"
                )
            for ci in sc:
                got_dc[ci] = True
        else:
            if len(sc) != 1:
                raise ValueError(
                    "progressive AC scan must cover exactly one component"
                )
            if not got_dc[sc[0]]:
                raise ValueError("progressive AC scan precedes the DC scan")
        if se > 63 or ss > se:
            raise ValueError(f"bad spectral band [{ss}, {se}]")
        if ah not in (0, al + 1):
            raise ValueError(
                f"bad successive approximation Ah={ah} Al={al} "
                "(Ah must be 0 or Al+1)"
            )
        # resolve tables at scan time
        dc_luts: dict[int, tuple] = {}
        ac_luts: dict[int, tuple] = {}
        for ci, (td, ta) in zip(sc, scan["tabs"]):
            if ss == 0 and ah == 0:  # DC first pass needs a DC table
                if (0, td) not in huff:
                    raise ValueError("JPEG references undefined Huffman table")
                dc_luts[ci] = _jpeg_decode_lut(*huff[(0, td)])
            if ss > 0:  # AC scans need an AC table
                if (1, ta) not in huff:
                    raise ValueError("JPEG references undefined Huffman table")
                ac_luts[ci] = _jpeg_decode_lut(*huff[(1, ta)])
        interleaved = ss == 0 and len(sc) > 1
        if ss == 0:
            n_units = mrows * mcols if interleaved else (
                # single-component DC scan still iterates MCUs of that
                # component's own grid: for one comp, MCU = one block of
                # the NON-padded grid
                _jpeg_comp_true_blocks(comps[sc[0]], width, height, hmax, vmax)[2]
            )
        else:
            n_units = _jpeg_comp_true_blocks(comps[sc[0]], width, height, hmax, vmax)[2]
        segments = _jpeg_split_segments(scan["data"], scan["dri"], n_units)
        if ss == 0:
            _jpeg_prog_dc_scan(
                scan, segments, sc, comps, coefs, dc_luts,
                mcols, mrows, grid_w, interleaved,
                width, height, hmax, vmax,
            )
        else:
            _jpeg_prog_ac_scan(
                scan, segments, sc[0], comps, coefs, ac_luts[sc[0]],
                grid_w, width, height, hmax, vmax,
            )
    return coefs


def _jpeg_comp_true_blocks(
    c: dict, width: int, height: int, hmax: int, vmax: int
) -> tuple[int, int, int]:
    """(true block cols, true block rows, count) of a component's own
    non-MCU-padded block grid — the block space non-interleaved scans
    iterate (T.81 A.2.2)."""
    cw = -(-width * c["h"] // hmax)
    ch = -(-height * c["v"] // vmax)
    tbw, tbh = -(-cw // 8), -(-ch // 8)
    return tbw, tbh, tbw * tbh


def _jpeg_prog_dc_scan(
    scan, segments, sc, comps, coefs, dc_luts,
    mcols, mrows, grid_w, interleaved, width, height, hmax, vmax,
):
    ss_al, ah = scan["al"], scan["ah"]
    dri = scan["dri"]
    reader = MsbReader(segments[0])
    seg_i = 0
    prev = {ci: 0 for ci in sc}
    if interleaved:
        unit = 0
        for R in range(mrows):
            for C in range(mcols):
                if dri and unit and unit % dri == 0:
                    seg_i += 1
                    reader = MsbReader(segments[seg_i])
                    prev = {ci: 0 for ci in sc}
                unit += 1
                for ci in sc:
                    c = comps[ci]
                    for r in range(c["v"]):
                        row0 = (R * c["v"] + r) * grid_w[ci] + C * c["h"]
                        for cc in range(c["h"]):
                            _jpeg_prog_dc_block(
                                coefs[ci], row0 + cc, reader,
                                dc_luts.get(ci), prev, ci, ah, ss_al,
                            )
    else:
        ci = sc[0]
        tbw, tbh, n_units = _jpeg_comp_true_blocks(
            comps[ci], width, height, hmax, vmax
        )
        for bi in range(n_units):
            if dri and bi and bi % dri == 0:
                seg_i += 1
                reader = MsbReader(segments[seg_i])
                prev = {ci: 0}
            padded = (bi // tbw) * grid_w[ci] + (bi % tbw)
            _jpeg_prog_dc_block(
                coefs[ci], padded, reader, dc_luts.get(ci), prev, ci, ah, ss_al
            )


def _jpeg_prog_dc_block(coef, block_idx, reader, dc_lut, prev, ci, ah, al):
    if ah == 0:
        # first pass: Huffman DC difference at precision Al; the
        # predictor chains the POINT-TRANSFORMED values (T.81 G.1.2.1,
        # arithmetic shift on the encode side)
        s = _jpeg_read_symbol(reader, dc_lut)
        diff = _jpeg_extend(reader.read(s), s) if s else 0
        prev[ci] += diff
        coef[block_idx, 0] = prev[ci] << al
    else:
        # refinement: one raw bit; two's-complement OR appends the low
        # magnitude bit correctly for either sign (v<<1 | b == v' holds
        # with arithmetic shifts)
        if reader.read(1):
            coef[block_idx, 0] |= 1 << al


def _jpeg_prog_ac_scan(
    scan, segments, ci, comps, coefs, ac_lut, grid_w, width, height, hmax, vmax
):
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    dri = scan["dri"]
    tbw, tbh, n_units = _jpeg_comp_true_blocks(comps[ci], width, height, hmax, vmax)
    reader = MsbReader(segments[0])
    seg_i = 0
    eobrun = 0
    coef = coefs[ci]
    for bi in range(n_units):
        if dri and bi and bi % dri == 0:
            seg_i += 1
            reader = MsbReader(segments[seg_i])
            eobrun = 0
        block = coef[(bi // tbw) * grid_w[ci] + (bi % tbw)]
        if ah == 0:
            eobrun = _jpeg_prog_ac_first_block(
                block, reader, ac_lut, ss, se, al, eobrun
            )
        else:
            eobrun = _jpeg_prog_ac_refine_block(
                block, reader, ac_lut, ss, se, al, eobrun
            )


def _jpeg_prog_ac_first_block(block, reader, ac_lut, ss, se, al, eobrun):
    """T.81 G.2 / first AC pass: RRRRSSSS run/size with EOBRUN coding;
    new coefficients arrive as extend(bits) << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _jpeg_read_symbol(reader, ac_lut)
        r, s = sym >> 4, sym & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("JPEG AC run overflows the band")
            block[k] = _jpeg_extend(reader.read(s), s) << al
            k += 1
        else:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                break
            k += 16  # ZRL
    return eobrun


def _jpeg_prog_ac_refine_block(block, reader, ac_lut, ss, se, al, eobrun):
    """T.81 G.2 / AC refinement: newly-significant coefficients arrive
    as ±1<<Al between runs of zero-HISTORY positions; every nonzero-
    history position passed (including inside EOB runs) carries one
    correction bit. Two's-complement & / += work for either sign
    because each pass touches exactly bit Al and lower bits are still
    zero (see the DC refinement note)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _jpeg_read_symbol(reader, ac_lut)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break
                newval = 0  # ZRL: 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "JPEG AC refinement symbol with size != 1"
                    )
                newval = p1 if reader.read(1) else m1
            while k <= se:
                if block[k] != 0:
                    if reader.read(1) and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("JPEG AC refinement run overflows the band")
                block[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if block[k] != 0:
                if reader.read(1) and (block[k] & p1) == 0:
                    block[k] += p1 if block[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def parse_jpeg(payload: bytes) -> dict:
    """REAL baseline JPEG decoder for 8-bit sequential streams, 1- or
    3-component, interleaved single scan, per-component sampling
    factors in {1, 2} (covers grayscale, 4:4:4, 4:2:2, 4:2:0): marker
    walk, DQT/DHT parsed from the stream (nothing assumed about the
    encoder's tables), per-component quant/Huffman table SELECTION from
    SOF/SOS, MCU-interleaved canonical-Huffman entropy decode with
    0xFF00 unstuffing, per-component dequantize + de-zigzag + IDCT +
    level shift + clamp, chroma upsampling by pixel replication, crop
    to the SOF geometry. Restart intervals (DRI + RSTn) are fully
    supported: the entropy stream splits at restart markers,
    each segment decodes byte-aligned with zeroed DC predictors, and
    the RST cycle/segment count are validated. Returns ``{"width",
    "height", "components", "planes"}`` where planes are
    full-resolution uint8 (height, width) arrays — [gray] or
    [Y, Cb, Cr]. Fails loudly on anything outside the declared subset —
    progressive (SOF2), extended/arithmetic SOFs, non-interleaved
    multi-scan, 16-bit quant tables, sampling factors above 2 — never
    guesses."""
    import struct

    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[dict[tuple[int, int], int], bytes]] = {}
    width = height = None
    comps: list[dict] = []  # SOF order: {cid, h, v, tq, dc, ac}
    scans: list[dict] = []
    progressive = False
    restart_interval = 0
    for marker, seg, scan in _jpeg_segments(payload):
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq != 0:
                    raise NotImplementedError(
                        "16-bit JPEG quant tables not supported (baseline is 8-bit)"
                    )
                quant[tq] = np.frombuffer(
                    seg[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                values = list(seg[off + 17 : off + 17 + n])
                if len(bits) != 16 or len(values) != n:
                    raise ValueError("truncated JPEG DHT table")
                if len(set(values)) != n:
                    raise ValueError("JPEG DHT table repeats a symbol")
                table = {
                    (ln, code): sym
                    for sym, (code, ln) in canonical_codes(_dht_pairs(bits, values)).items()
                }
                huff[(tc, th)] = (table, bytes(seg[off : off + 17 + n]))
                off += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} not supported")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG not supported (1 or 3 only)"
                )
            for ci in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                hs, vs = sampling >> 4, sampling & 0x0F
                if ncomp == 1 and sampling != 0x11:
                    # a lone component's sampling factors are
                    # meaningless; anything but 1x1 is a malformed or
                    # exotic stream — refuse rather than guess
                    raise NotImplementedError(
                        "non-1x1 sampling on single-component JPEG not supported"
                    )
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise NotImplementedError(
                        f"JPEG sampling factor {hs}x{vs} not supported "
                        "(1 and 2 only — 4:4:4 / 4:2:2 / 4:2:0)"
                    )
                comps.append({"cid": cid, "h": hs, "v": vs, "tq": tq})
        elif marker in (
            0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,  # SOF13-15: differential/arith
        ):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} (extended/differential/"
                "arithmetic) not supported — baseline + progressive huffman only"
            )
        elif marker == 0xDD:  # DRI: restart every R MCUs (0 disables)
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("JPEG SOS before SOF0 frame header")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError(
                    f"SOS header declares {ns} components but holds only "
                    f"{len(seg)} bytes (needs {4 + 2 * ns})"
                )
            by_cid = {c["cid"]: i for i, c in enumerate(comps)}
            scan_comps: list[int] = []
            scan_tabs: list[tuple[int, int]] = []
            for si in range(ns):
                cs, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                if cs not in by_cid:
                    raise ValueError(
                        f"SOS references undeclared component id {cs}"
                    )
                scan_comps.append(by_cid[cs])
                scan_tabs.append((tabs >> 4, tabs & 0x0F))
            ss_, se_ = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            scans.append(
                {
                    "comps": scan_comps,
                    "tabs": scan_tabs,
                    "ss": ss_,
                    "se": se_,
                    "ah": ahal >> 4,
                    "al": ahal & 0x0F,
                    "data": scan,  # raw: RSTs split + unstuff later
                    "dri": restart_interval,
                    # tables resolve at SOS time — later DHT segments may
                    # REDEFINE ids for later scans (legal, common in
                    # progressive files)
                    "huff": dict(huff),
                }
            )
        # APPn / COM / others: skipped
    if width is None:
        raise ValueError("JPEG carries no SOF0 frame header")
    if not scans:
        raise ValueError("JPEG carries no scan (SOS) data")
    for c in comps:
        if c["tq"] not in quant:
            raise ValueError(f"JPEG references undefined quant table {c['tq']}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcols = -(-width // (8 * hmax))
    mrows = -(-height // (8 * vmax))
    n_comp = len(comps)
    grid_w_all = [mcols * c["h"] for c in comps]
    grid_h_all = [mrows * c["v"] for c in comps]
    if progressive:
        zz_by_comp = _jpeg_decode_progressive(
            scans, comps, width, height, hmax, vmax, mcols, mrows,
            grid_w_all, grid_h_all,
        )
        return _jpeg_idct_planes(
            zz_by_comp, comps, quant, width, height, hmax, vmax,
            grid_w_all, grid_h_all,
        )
    # --- SEQUENTIAL fast path (one interleaved scan, full band) ---
    if len(scans) > 1:
        raise NotImplementedError(
            "multi-scan SEQUENTIAL JPEG not supported (non-interleaved "
            "sequential scans are T.81-legal but outside the declared "
            "subset — progressive multi-scan IS supported)"
        )
    scan = scans[0]
    if len(scan["comps"]) != n_comp:
        raise NotImplementedError(
            f"scan covers {len(scan['comps'])} of {n_comp} components — "
            "non-interleaved multi-scan JPEG not supported in baseline"
        )
    if (scan["ss"], scan["se"], scan["ah"], scan["al"]) != (0, 63, 0, 0):
        raise ValueError(
            "baseline scan must cover the full band (Ss=0 Se=63 Ah=Al=0)"
        )
    scan_huff = scan["huff"]
    for ci, (td, ta) in zip(scan["comps"], scan["tabs"]):
        if (0, td) not in scan_huff or (1, ta) not in scan_huff:
            raise ValueError("JPEG references undefined Huffman table")
        comps[ci]["dc"], comps[ci]["ac"] = td, ta
    segments = _jpeg_split_segments(
        scan["data"], scan["dri"], mrows * mcols
    )
    restart_interval = scan["dri"]
    dc_tabs = [_jpeg_decode_lut(*scan_huff[(0, c["dc"])]) for c in comps]
    ac_tabs = [_jpeg_decode_lut(*scan_huff[(1, c["ac"])]) for c in comps]
    # per-component plane block grids (MCU-padded)
    grid_w = [mcols * c["h"] for c in comps]
    grid_h = [mrows * c["v"] for c in comps]
    # entropy decode is inherently sequential (DC differences chain
    # block to block WITHIN each component; components interleave per
    # MCU); the DCT math below is vectorized across blocks. The symbol
    # loop is INLINED (no bitio.MsbReader) on purpose: per-symbol
    # method calls measured as ~60% of the whole decode — the semantics
    # are exactly _jpeg_read_symbol/MsbReader.read/_jpeg_extend (bitio.py
    # is the reference implementation; the progressive decoder uses
    # them). Block coefficients scatter into PLANE-RASTER order
    # directly via the (R*v + r, C*h + c) index, so plane assembly
    # needs no MCU-order permutation afterwards.
    sym_dc_a = [t[0] for t in dc_tabs]
    len_dc_a = [t[1] for t in dc_tabs]
    sym_ac_a = [t[0] for t in ac_tabs]
    len_ac_a = [t[1] for t in ac_tabs]
    data, n_data = segments[0], len(segments[0])
    seg_i = 0
    acc = nbits = pos = 0
    prev = [0] * n_comp
    # sparse (flat index, value) pairs per component: most blocks carry
    # few nonzero coefficients, so scatter ONCE at the end instead of
    # materializing a dense python list per payload
    idxs: list[list[int]] = [[] for _ in range(n_comp)]
    vals: list[list[int]] = [[] for _ in range(n_comp)]
    comp_hv = [(c["h"], c["v"]) for c in comps]
    for R in range(mrows):
        for C in range(mcols):
            mcu_i = R * mcols + C
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                # restart boundary: next entropy segment, byte
                # realignment implicit (fresh buffer), DC predictors zero
                seg_i += 1
                data, n_data = segments[seg_i], len(segments[seg_i])
                acc = nbits = pos = 0
                prev = [0] * n_comp
            for ci in range(n_comp):
                h_i, v_i = comp_hv[ci]
                sym_dc, len_dc = sym_dc_a[ci], len_dc_a[ci]
                sym_ac, len_ac = sym_ac_a[ci], len_ac_a[ci]
                gw = grid_w[ci]
                ci_idxs, ci_vals = idxs[ci], vals[ci]
                prev_dc = prev[ci]
                for r in range(v_i):
                    row0 = (R * v_i + r) * gw + C * h_i
                    for cc in range(h_i):
                        base = (row0 + cc) * 64
                        # DC: one LUT probe on the 16-bit window
                        # (1-padded at stream end)
                        while nbits < 16 and pos < n_data:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nbits += 8
                        if nbits >= 16:
                            window = (acc >> (nbits - 16)) & 0xFFFF
                        else:
                            pad = 16 - nbits
                            window = ((acc << pad) | ((1 << pad) - 1)) & 0xFFFF
                        s = sym_dc[window]
                        length = len_dc[window]
                        if s < 0 or length > nbits:
                            raise ValueError(
                                "invalid JPEG Huffman code (no symbol within 16 bits)"
                                if s < 0
                                else "JPEG entropy stream exhausted mid-symbol"
                            )
                        nbits -= length
                        acc &= (1 << nbits) - 1
                        if s:
                            while nbits < s:
                                if pos >= n_data:
                                    raise ValueError(
                                        "JPEG entropy stream exhausted mid-symbol"
                                    )
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            nbits -= s
                            bits = (acc >> nbits) & ((1 << s) - 1)
                            acc &= (1 << nbits) - 1
                            prev_dc += (
                                bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
                            )
                        ci_idxs.append(base)
                        ci_vals.append(prev_dc)
                        k = 1
                        while k < 64:
                            while nbits < 16 and pos < n_data:
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            if nbits >= 16:
                                window = (acc >> (nbits - 16)) & 0xFFFF
                            else:
                                pad = 16 - nbits
                                window = ((acc << pad) | ((1 << pad) - 1)) & 0xFFFF
                            sym = sym_ac[window]
                            length = len_ac[window]
                            if sym < 0 or length > nbits:
                                raise ValueError(
                                    "invalid JPEG Huffman code (no symbol within 16 bits)"
                                    if sym < 0
                                    else "JPEG entropy stream exhausted mid-symbol"
                                )
                            nbits -= length
                            acc &= (1 << nbits) - 1
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, s = sym >> 4, sym & 0x0F
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC run overflows the block")
                            while nbits < s:
                                if pos >= n_data:
                                    raise ValueError(
                                        "JPEG entropy stream exhausted mid-symbol"
                                    )
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            nbits -= s
                            bits = (acc >> nbits) & ((1 << s) - 1)
                            acc &= (1 << nbits) - 1
                            ci_idxs.append(base + k)
                            ci_vals.append(
                                bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
                            )
                            k += 1
                prev[ci] = prev_dc
    zz_by_comp: list[np.ndarray] = []
    for ci in range(n_comp):
        n_blocks = grid_w[ci] * grid_h[ci]
        zz_all = np.zeros(n_blocks * 64, dtype=np.int64)
        if idxs[ci]:
            zz_all[np.asarray(idxs[ci], dtype=np.int64)] = np.asarray(
                vals[ci], dtype=np.int64
            )
        zz_by_comp.append(zz_all.reshape(n_blocks, 64))
    return _jpeg_idct_planes(
        zz_by_comp, comps, quant, width, height, hmax, vmax, grid_w, grid_h
    )


def parse_jpeg_gray(payload: bytes) -> dict:
    """Single-component strict view of ``parse_jpeg`` (the grayscale
    contract): returns ``{"width", "height", "pixels"}`` with pixels as
    a flat uint8 vector, refusing color streams loudly."""
    v = parse_jpeg(payload)
    if v["components"] != 1:
        raise NotImplementedError(
            f"{v['components']}-component JPEG not supported by the "
            "grayscale path — use parse_jpeg"
        )
    return {
        "width": v["width"],
        "height": v["height"],
        "pixels": v["planes"][0].reshape(-1),
    }


def jpeg_ycbcr_to_rgb(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray
) -> np.ndarray:
    """Full-range BT.601 YCbCr -> RGB (the JFIF convention), stacked as
    (H, W, 3) uint8. Rounding is floor(x + 0.5) — half-up, documented
    and deterministic (np.rint's banker's rounding would make the
    conversion oracle-inexpressible)."""
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    rgb = np.stack(
        [
            yf + 1.402 * crf,
            yf - 0.344136 * cbf - 0.714136 * crf,
            yf + 1.772 * cbf,
        ],
        axis=-1,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


JPEG_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("mean_luma", DoubleType(), True),
        StructField("max_byte", LongType(), True),
        StructField("min_byte", LongType(), True),
    ]
)


def with_jpeg_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic grayscale JPEG per row: each character
    byte becomes one CONSTANT 8x8 block (16 blocks per row, whole rows
    only), run through the real forward pipeline. Block-constant
    images round-trip byte-exactly under the synthesis quant table
    (see the section comment), so the oracle can recompute decoded
    stats straight from the characters. Docs shorter than one block
    row carry a NULL payload (a 0-height JPEG frame is not encodable)."""

    def encode(t):
        raw = t.encode("utf-8")
        br = min(len(raw) // JPEG_BLOCKS_PER_ROW, JPEG_MAX_BLOCK_ROWS)
        if br == 0:
            return None
        vals = np.frombuffer(
            raw[: br * JPEG_BLOCKS_PER_ROW], dtype=np.uint8
        ).reshape(br, JPEG_BLOCKS_PER_ROW)
        gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        return encode_jpeg_gray(gray.tobytes(), JPEG_WIDTH, 8 * br)

    return synth_payload(df, encode, "image/jpeg", cols=(text_col,), nullable=True)


def with_jpeg_progressive_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """mm13's block-constant synthesis through the PROGRESSIVE encoder
    (SOF2, 5-scan spectral-selection + successive-approximation
    script): same char -> 8x8 block mapping, same byte-exact
    reconstruction argument (the progressive scans re-encode the same
    quantized coefficients), so the SAME oracle certifies the whole
    annex-G decode path."""

    def encode(t):
        raw = t.encode("utf-8")
        br = min(len(raw) // JPEG_BLOCKS_PER_ROW, JPEG_MAX_BLOCK_ROWS)
        if br == 0:
            return None
        vals = np.frombuffer(
            raw[: br * JPEG_BLOCKS_PER_ROW], dtype=np.uint8
        ).reshape(br, JPEG_BLOCKS_PER_ROW)
        gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        return encode_jpeg_progressive_gray(gray.tobytes(), JPEG_WIDTH, 8 * br)

    return synth_payload(df, encode, "image/jpeg", cols=(text_col,), nullable=True)


def decode_jpeg_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each JPEG payload through the real Huffman+IDCT path and
    emit grayscale geometry/stats. Map-only Arrow pipeline, zero
    shuffles; NULL payloads (sub-block docs) yield the 0-geometry row
    with NULL stats, mirroring mm12's empty-image convention."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), JPEG_WIDTH, 0, 0, None, None, None)
            return
        p = parse_jpeg_gray(payload)
        px = p["pixels"].astype(np.int64)
        n = p["width"] * p["height"]
        yield (
            int(doc_id),
            p["width"],
            p["height"],
            n,
            float(px.sum()) / n,
            int(px.max()),
            int(px.min()),
        )

    return map_payload(df, JPEG_FEATURE_SCHEMA, rows, id_col)


JPEG_MCUS_PER_ROW = 8  # color synthesis: one 16x16 MCU per 3 characters
JPEG_COLOR_WIDTH = 16 * JPEG_MCUS_PER_ROW
JPEG_MAX_MCU_ROWS = 0xFFFF // 16

JPEG_COLOR_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("mean_y", DoubleType(), True),
        StructField("mean_cb", DoubleType(), True),
        StructField("mean_cr", DoubleType(), True),
        StructField("max_y", LongType(), True),
        StructField("min_y", LongType(), True),
    ]
)


def with_jpeg_color_payload(
    df: DataFrame, text_col: str = "text", restart_mod: int = 0
) -> DataFrame:
    """Synthesize a deterministic 4:2:0 COLOR JPEG per row: every 3
    consecutive character bytes become one CONSTANT 16x16 MCU — byte 0
    the luma, bytes 1/2 the chroma pair — 8 MCUs per row, whole MCU
    rows only, run through the real forward pipeline (separate
    luma/chroma quant + Huffman tables, interleaved MCU scan).
    MCU-constant planes round-trip byte-exactly under the synthesis
    quant table (same DC-only argument as the gray family), so the
    oracle recomputes the decoded YCbCr stats straight from the
    characters. Docs shorter than one MCU row carry a NULL payload.
    ``restart_mod=M`` gives each doc restart_interval = br % M (0 =
    none for that doc) — a deterministic per-doc DRI mix the header
    probe's oracle can recompute (mm16)."""
    per_row = 3 * JPEG_MCUS_PER_ROW

    def encode(t):
        raw = t.encode("utf-8")
        br = min(len(raw) // per_row, JPEG_MAX_MCU_ROWS)
        if br == 0:
            return None
        vals = np.frombuffer(raw[: br * per_row], dtype=np.uint8).reshape(
            br, JPEG_MCUS_PER_ROW, 3
        )
        y = np.kron(vals[..., 0], np.ones((16, 16), dtype=np.uint8))
        cb = np.kron(vals[..., 1], np.ones((8, 8), dtype=np.uint8))
        cr = np.kron(vals[..., 2], np.ones((8, 8), dtype=np.uint8))
        return encode_jpeg_ycbcr420(
            y.tobytes(), cb.tobytes(), cr.tobytes(),
            JPEG_COLOR_WIDTH, 16 * br,
            restart_interval=(br % restart_mod) if restart_mod else 0,
        )

    return synth_payload(df, encode, "image/jpeg", cols=(text_col,), nullable=True)


def decode_jpeg_color_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each color JPEG through the real interleaved-MCU path
    (per-component table selection, chroma upsampling) and emit YCbCr
    geometry/stats. Map-only Arrow pipeline, zero shuffles; NULL
    payloads yield the 0-geometry row with NULL stats."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), JPEG_COLOR_WIDTH, 0, 0, None, None, None, None, None)
            return
        v = parse_jpeg(payload)
        if v["components"] != 3:
            raise ValueError(
                f"expected a 3-component stream, got {v['components']}"
            )
        yp, cbp, crp = (p.astype(np.int64) for p in v["planes"])
        n = v["width"] * v["height"]
        yield (
            int(doc_id),
            v["width"],
            v["height"],
            n,
            float(yp.sum()) / n,
            float(cbp.sum()) / n,
            float(crp.sum()) / n,
            int(yp.max()),
            int(yp.min()),
        )

    return map_payload(df, JPEG_COLOR_FEATURE_SCHEMA, rows, id_col)


def decode_png_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each PNG payload through the real inflate+unfilter path
    and emit the same geometry/channel stats as decode_ppm_features
    (shared PPM_FEATURE_SCHEMA — the two decoders are drop-in
    alternatives for the image leg)."""

    def rows(doc_id, payload):
        p = parse_png(payload)
        px = p["pixels"].astype(np.int64)
        n = p["width"] * p["height"]
        if n:
            sr, sg, sb = (
                int(px[0::3].sum()),
                int(px[1::3].sum()),
                int(px[2::3].sum()),
            )
            mr = float(sr) / n
            mg = float(sg) / n
            mb = float(sb) / n
            # Rec.601 luma mean, HALF-UP rounded to 6 dp in EXACT
            # integer arithmetic: the rational (299*sr + 587*sg
            # + 114*sb) / (1000*n) has a terminating decimal
            # expansion for power-of-two n (1/64000 ends at
            # digit 9), so it can land EXACTLY on the 7th-digit
            # .5 tie — where Spark's BigDecimal HALF_UP and
            # DuckDB's multiply-then-round disagree on the
            # nearest-double approximation (measured 13-in-5000
            # flips at sf0.1). Integer floor-division makes the
            # tie-break exact and engine-independent; the oracle
            # computes the identical formula in BIGINTs.
            num = 299 * sr + 587 * sg + 114 * sb
            den = 1000 * n
            luma = float((2_000_000 * num + den) // (2 * den)) / 1e6
            mx = int(px.max())
        else:
            mr = mg = mb = luma = mx = None
        yield (int(doc_id), p["width"], p["height"], n, mr, mg, mb, luma, mx)

    return map_payload(df, PPM_FEATURE_SCHEMA, rows, id_col)


# ===========================================================================
# MP4 / ISO-BMFF container (mm14) — the VIDEO-CONTAINER leg of the codec
# family. A real multimodal corpus ships video as MP4, and the part a
# training pipeline must get right AT SCALE is the container: walking
# the box tree and resolving the sample table (stts/stsc/stsz/stco) to
# per-sample byte ranges, so frame extraction stays a map-only pass
# over byte offsets instead of a transcode. This is a REAL ISO-BMFF
# parser (ISO/IEC 14496-12 box grammar: 32/64-bit sizes, FullBox
# version+flags, the complete stsc chunk-run resolution), stdlib-only.
# Sample payloads here are uncompressed 8-bit luma frames (sample
# entry 'raw '); compressed track formats (avc1/hvc1/mp4a) raise
# loudly at the sample-entry gate — entropy decode of H.264 is the
# documented out-of-scope leg, exactly like decode_media's PIL/av gate.
# Reference parity anchor: the engine's decode dispatch contract
# (mm1-mm13 family); the reference repo is OHLCV-only and has no
# multimodal surface.
# ===========================================================================
import struct as _struct

MP4_WIDTH = 8
MP4_HEIGHT = 8
MP4_TIMESCALE = 600
MP4_CHUNK_SAMPLES = 4  # frames per chunk — forces real stsc/stco resolution


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return _struct.pack(">I", 8 + len(payload)) + btype + payload


def _mp4_full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _mp4_box(btype, _struct.pack(">I", (version << 24) | flags) + payload)


def _mp4_sample_durations(n: int) -> list[int]:
    """Deterministic per-sample durations 1,2,3,1,2,3,… ticks: every
    run in the encoder's stts is length 1, so the decoder's run
    expansion is exercised on every multi-frame document."""
    return [1 + (i % 3) for i in range(n)]


def encode_mp4(frames: np.ndarray, width: int, height: int) -> bytes:
    """Serialize (n, width*height) uint8 luma frames as a valid ISO-BMFF
    file with a 'raw ' VisualSampleEntry — see ``_encode_mp4_container``
    for the box layout."""
    frames = np.asarray(frames, dtype=np.uint8)
    per = width * height
    if frames.ndim != 2 or frames.shape[1] != per:
        raise ValueError(f"frames must be (n, {per}), got {frames.shape}")
    return _encode_mp4_container(
        [frames[i].tobytes() for i in range(frames.shape[0])],
        width,
        height,
        fmt=b"raw ",
        depth=8,
    )


def encode_mp4_mjpeg(samples: list[bytes], width: int, height: int) -> bytes:
    """Serialize pre-encoded JPEG byte payloads as an MJPEG-in-MP4 file
    (the de-facto 'jpeg' VisualSampleEntry): every sample is one
    complete JFIF stream, sizes vary per sample so the stsz explicit
    table carries real information. The container layout is shared with
    the 'raw ' encoder — see ``_encode_mp4_container``."""
    for i, s in enumerate(samples):
        if s[:2] != b"\xff\xd8":
            raise ValueError(f"MJPEG sample {i} does not start with a JPEG SOI")
    return _encode_mp4_container(
        list(samples), width, height, fmt=b"jpeg", depth=24
    )


def _encode_mp4_container(
    samples: list[bytes],
    width: int,
    height: int,
    fmt: bytes,
    depth: int,
    entry_extension: bytes = b"",
    sync_samples: list[int] | None = None,
    media: str = "video",
) -> bytes:
    """Shared ISO-BMFF mux: ftyp, mdat (samples chunked
    MP4_CHUNK_SAMPLES per chunk), moov/trak/mdia/minf/stbl with the
    given VisualSampleEntry format and a fully populated sample table
    (stts run-length durations, stsc chunk runs, stsz explicit
    per-sample size table, stco absolute offsets). mdat precedes moov
    so chunk offsets are known when stco is built.

    ``entry_extension`` appends child boxes inside the sample entry
    (e.g. the avcC decoder-configuration record for 'avc1' tracks);
    ``sync_samples`` emits an stss box with the given 1-based sample
    numbers (absent box = every sample is sync, per 14496-12)."""
    n = len(samples)
    sizes = [len(s) for s in samples]
    durations = _mp4_sample_durations(n)
    total_ticks = sum(durations)

    ftyp = _mp4_box(b"ftyp", b"isom" + _struct.pack(">I", 512) + b"isomiso2")
    mdat = _mp4_box(b"mdat", b"".join(samples))

    # chunk layout: offsets are absolute file offsets into mdat payload
    mdat_payload_off = len(ftyp) + 8
    n_chunks = (n + MP4_CHUNK_SAMPLES - 1) // MP4_CHUNK_SAMPLES
    chunk_offsets = []
    off = mdat_payload_off
    for k in range(n_chunks):
        chunk_offsets.append(off)
        off += sum(sizes[k * MP4_CHUNK_SAMPLES : (k + 1) * MP4_CHUNK_SAMPLES])

    # stts: run-length encode consecutive equal durations
    stts_runs: list[tuple[int, int]] = []
    for d in durations:
        if stts_runs and stts_runs[-1][1] == d:
            stts_runs[-1] = (stts_runs[-1][0] + 1, d)
        else:
            stts_runs.append((1, d))
    stts = _mp4_full(
        b"stts",
        0,
        0,
        _struct.pack(">I", len(stts_runs))
        + b"".join(_struct.pack(">II", c, d) for c, d in stts_runs),
    )

    # stsc: first_chunk runs (1-based); a short tail chunk gets its own run
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    full = n // MP4_CHUNK_SAMPLES
    tail = n % MP4_CHUNK_SAMPLES
    if full:
        stsc_runs.append((1, MP4_CHUNK_SAMPLES))
    if tail:
        stsc_runs.append((full + 1, tail))
    stsc = _mp4_full(
        b"stsc",
        0,
        0,
        _struct.pack(">I", len(stsc_runs))
        + b"".join(_struct.pack(">III", fc, spc, 1) for fc, spc in stsc_runs),
    )

    # stsz: sample_size=0 + explicit table so the table path is exercised
    # ('raw ' sizes are all width*height; 'jpeg' sizes genuinely vary)
    stsz = _mp4_full(
        b"stsz",
        0,
        0,
        _struct.pack(">II", 0, n) + b"".join(_struct.pack(">I", s) for s in sizes),
    )
    stco = _mp4_full(
        b"stco",
        0,
        0,
        _struct.pack(">I", n_chunks)
        + b"".join(_struct.pack(">I", o) for o in chunk_offsets),
    )

    # VisualSampleEntry (14496-12 §12.1.3): 6 reserved + dref idx,
    # 16 pre_defined/reserved, geometry, 72dpi, frame_count 1, name,
    # depth (8 = grayscale 'raw ', 24 = color 'jpeg'), pre_defined -1.
    # AudioSampleEntry (§12.2.3): 6 reserved + dref idx, 8 reserved,
    # channelcount, samplesize 16, pre_defined/reserved, rate 16.16 —
    # for audio tracks ``width``/``height`` carry (channels, samplerate).
    if media == "audio":
        # the 16.16 legacy rate field tops out at 65535 Hz; higher rates
        # (88.2k/96k) live only in the esds AudioSpecificConfig, the
        # convention real muxers follow
        entry = (
            b"\x00" * 6
            + _struct.pack(">H", 1)
            + b"\x00" * 8
            + _struct.pack(">HHHH", width, 16, 0, 0)  # channels, bits
            + _struct.pack(">I", min(height, 0xFFFF) << 16)  # rate 16.16
        )
    else:
        entry = (
            b"\x00" * 6
            + _struct.pack(">H", 1)
            + b"\x00" * 16
            + _struct.pack(">HH", width, height)
            + _struct.pack(">II", 0x00480000, 0x00480000)
            + b"\x00" * 4
            + _struct.pack(">H", 1)
            + b"\x00" * 32
            + _struct.pack(">Hh", depth, -1)
        )
    stsd = _mp4_full(
        b"stsd", 0, 0, _struct.pack(">I", 1) + _mp4_box(fmt, entry + entry_extension)
    )
    stss = b""
    if sync_samples is not None:
        stss = _mp4_full(
            b"stss",
            0,
            0,
            _struct.pack(">I", len(sync_samples))
            + b"".join(_struct.pack(">I", s) for s in sync_samples),
        )
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stss + stco)

    if media == "audio":
        mhd = _mp4_full(b"smhd", 0, 0, _struct.pack(">HH", 0, 0))
        handler, hname = b"soun", b"SoundHandler\x00"
    else:
        mhd = _mp4_full(b"vmhd", 0, 1, _struct.pack(">HHHH", 0, 0, 0, 0))
        handler, hname = b"vide", b"VideoHandler\x00"
    dref = _mp4_full(
        b"dref", 0, 0, _struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b"")
    )
    dinf = _mp4_box(b"dinf", dref)
    minf = _mp4_box(b"minf", mhd + dinf + stbl)

    hdlr = _mp4_full(
        b"hdlr", 0, 0, b"\x00" * 4 + handler + b"\x00" * 12 + hname
    )
    mdhd = _mp4_full(
        b"mdhd",
        0,
        0,
        _struct.pack(">IIII", 0, 0, MP4_TIMESCALE, total_ticks)
        + _struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)

    tkhd = _mp4_full(
        b"tkhd",
        0,
        3,  # enabled + in movie
        _struct.pack(">IIII", 0, 0, 1, 0)  # times, track_ID 1, reserved
        + _struct.pack(">I", total_ticks)
        + b"\x00" * 8
        + _struct.pack(
            ">hhhh", 0, 0, 0x0100 if media == "audio" else 0, 0
        )  # layer, group, volume (1.0 for audio), reserved
        + _struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + (
            b"\x00" * 8
            if media == "audio"
            else _struct.pack(">II", width << 16, height << 16)
        ),  # 16.16 fixed
    )
    trak = _mp4_box(b"trak", tkhd + mdia)

    mvhd = _mp4_full(
        b"mvhd",
        0,
        0,
        _struct.pack(">IIII", 0, 0, MP4_TIMESCALE, total_ticks)
        + _struct.pack(">IH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10
        + _struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + _struct.pack(">I", 2),  # next_track_ID
    )
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _length_prefixed(sample_nals: list[list[bytes]]) -> list[bytes]:
    """One MP4 sample per NAL list, each NAL preceded by its 4-byte
    big-endian length (the avcC/hvcC records both declare 4-byte
    lengths); ``_sample_nals`` reads them back."""
    return [
        b"".join(len(nal).to_bytes(4, "big") + nal for nal in nals) for nals in sample_nals
    ]


def encode_mp4_avc1(
    sample_nals: list[list[bytes]],
    sps_args: dict,
    sync_samples: list[int],
) -> bytes:
    """Serialize H.264 NAL units as a REAL avc1-in-MP4 track (ISO
    14496-15): the avcC decoder-configuration record (SPS/PPS arrays,
    4-byte NAL length field) rides inside the sample entry, and every
    sample is its NAL units LENGTH-PREFIXED (no Annex-B start codes —
    the framing difference that trips naive demuxers). NAL bodies are
    emulation-prevention escaped exactly as in Annex-B. ``sps_args``
    feeds ``encode_h264_sps`` (profile/level/geometry/crop);
    ``sync_samples`` emits the stss box (1-based)."""
    sps_rbsp = encode_h264_sps(**sps_args)
    sps_nal = b"\x67" + _h264_escape(sps_rbsp)
    p = MsbWriter()
    _write_ue(p, 0)
    _write_ue(p, 0)
    p.write(0, 2)
    _write_ue(p, 0)
    _write_ue(p, 0)
    _write_ue(p, 0)
    p.write(0, 3)
    _write_se(p, 0)
    _write_se(p, 0)
    _write_se(p, 0)
    p.write(0, 3)
    pps_nal = b"\x68" + _h264_escape(_rbsp_trailing(p))
    avcc = (
        bytes(
            [
                1,  # configurationVersion
                sps_args["profile_idc"],
                0,  # profile_compatibility
                sps_args["level_idc"],
                0xFC | 3,  # reserved + lengthSizeMinusOne (4-byte lengths)
                0xE0 | 1,  # reserved + numOfSequenceParameterSets
            ]
        )
        + _struct.pack(">H", len(sps_nal))
        + sps_nal
        + bytes([1])  # numOfPictureParameterSets
        + _struct.pack(">H", len(pps_nal))
        + pps_nal
    )
    v = parse_h264_sps(sps_rbsp)
    return _encode_mp4_container(
        _length_prefixed(sample_nals),
        v["width"],
        v["height"],
        fmt=b"avc1",
        depth=24,
        entry_extension=_mp4_box(b"avcC", avcc),
        sync_samples=sync_samples,
    )


# AAC sampling-frequency-index table (ISO 14496-3 §1.6.3.4)
AAC_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)


def _mp4_descriptor(tag: int, payload: bytes) -> bytes:
    """MPEG-4 systems descriptor with the 7-bit-continued length form
    real muxers emit (14496-1 §8.3.3)."""
    ln = len(payload)
    size = bytearray()
    size.append(ln & 0x7F)
    ln >>= 7
    while ln:
        size.insert(0, 0x80 | (ln & 0x7F))
        ln >>= 7
    return bytes([tag]) + bytes(size) + payload


def encode_mp4_aac(
    frames: list[bytes],
    object_type: int = 2,
    freq_index: int = 3,
    channels: int = 2,
) -> bytes:
    """Serialize opaque AAC access units as a REAL mp4a-in-MP4 audio
    track: AudioSampleEntry + esds carrying the full descriptor chain
    (ES_Descriptor -> DecoderConfigDescriptor(objectTypeIndication
    0x40) -> DecoderSpecificInfo = AudioSpecificConfig with the 5-bit
    audioObjectType / 4-bit samplingFrequencyIndex / 4-bit
    channelConfiguration bit layout). Frame bytes are opaque — routing
    needs the config, not the filterbank."""
    if not (1 <= object_type <= 31):
        raise ValueError(f"audioObjectType {object_type} out of the 5-bit range")
    if not (0 <= freq_index < len(AAC_SAMPLE_RATES)):
        raise ValueError(f"samplingFrequencyIndex {freq_index} out of range")
    if not (1 <= channels <= 7):
        raise ValueError(f"channelConfiguration {channels} out of range")
    asc = bytes(
        [
            (object_type << 3) | (freq_index >> 1),
            ((freq_index & 1) << 7) | (channels << 3),
        ]
    )
    dcd = _mp4_descriptor(
        0x04,
        bytes([0x40, 0x15])  # objectTypeIndication MPEG-4 audio, streamType 5
        + b"\x00\x00\x00"  # bufferSizeDB
        + _struct.pack(">II", 0, 0)  # max/avg bitrate
        + _mp4_descriptor(0x05, asc),
    )
    es = _mp4_descriptor(
        0x03,
        _struct.pack(">HB", 1, 0) + dcd + _mp4_descriptor(0x06, b"\x02"),
    )
    esds = _mp4_full(b"esds", 0, 0, es)
    return _encode_mp4_container(
        list(frames),
        channels,
        AAC_SAMPLE_RATES[freq_index],
        fmt=b"mp4a",
        depth=0,
        entry_extension=esds,
        media="audio",
    )


def _parse_esds(buf: bytes) -> dict:
    """Parse an esds box body (after version/flags): descriptor chain to
    the AudioSpecificConfig. Fails loudly on unknown tags, truncated
    descriptors, or a reserved sampling-frequency index."""

    def desc(pos: int) -> tuple[int, int, int]:
        if pos >= len(buf):
            raise ValueError("esds truncated at a descriptor tag")
        tag = buf[pos]
        pos += 1
        ln = 0
        for _ in range(4):
            if pos >= len(buf):
                raise ValueError("esds truncated inside a descriptor length")
            b = buf[pos]
            pos += 1
            ln = (ln << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        else:
            raise ValueError("descriptor length runs past 4 bytes")
        return tag, ln, pos

    tag, ln, pos = desc(0)
    if tag != 0x03:
        raise ValueError(f"esds must open with ES_Descriptor, got tag 0x{tag:02X}")
    es_flags = buf[pos + 2]
    if es_flags & 0xE0:
        raise ValueError("ES_Descriptor optional fields not supported")
    pos += 3
    tag, ln, pos = desc(pos)
    if tag != 0x04:
        raise ValueError(f"expected DecoderConfigDescriptor, got tag 0x{tag:02X}")
    oti = buf[pos]
    pos += 13  # objectTypeIndication + streamType + bufferSize + bitrates
    tag, ln, pos = desc(pos)
    if tag != 0x05:
        raise ValueError(f"expected DecoderSpecificInfo, got tag 0x{tag:02X}")
    if ln < 2:
        raise ValueError(f"AudioSpecificConfig is {ln} bytes (needs >= 2)")
    b0, b1 = buf[pos], buf[pos + 1]
    object_type = b0 >> 3
    freq_index = ((b0 & 0x07) << 1) | (b1 >> 7)
    channels = (b1 >> 3) & 0x0F
    if freq_index >= len(AAC_SAMPLE_RATES):
        raise ValueError(f"reserved samplingFrequencyIndex {freq_index}")
    return {
        "object_type_indication": oti,
        "object_type": object_type,
        "freq_index": freq_index,
        "sampling_rate": AAC_SAMPLE_RATES[freq_index],
        "channels": channels,
    }


def _parse_avcc(buf: bytes) -> dict:
    """Parse an AVCDecoderConfigurationRecord: version, profile/level,
    NAL length-field size, and the in-record SPS (unescaped and parsed
    through the same exp-Golomb walk as the Annex-B probe). Fails
    loudly on version/counts that don't fit the record."""
    if len(buf) < 7:
        raise ValueError(f"avcC record is {len(buf)} bytes (needs >= 7)")
    if buf[0] != 1:
        raise ValueError(f"avcC configurationVersion {buf[0]} (must be 1)")
    profile, level = buf[1], buf[3]
    length_size = (buf[4] & 0x03) + 1
    n_sps = buf[5] & 0x1F
    if n_sps < 1:
        raise ValueError("avcC carries no SPS")
    pos = 6
    sps = None
    for _ in range(n_sps):
        (ln,) = _struct.unpack(">H", buf[pos : pos + 2])
        nal = buf[pos + 2 : pos + 2 + ln]
        if len(nal) != ln:
            raise ValueError("avcC SPS overruns the record")
        if nal[0] & 0x80 or (nal[0] & 0x1F) != 7:
            raise ValueError(f"avcC SPS slot holds NAL header 0x{nal[0]:02X}")
        if sps is None:
            sps = parse_h264_sps(_h264_unescape(nal[1:]))
        pos += 2 + ln
    if pos >= len(buf):
        raise ValueError("avcC truncated before the PPS count")
    n_pps = buf[pos]
    pos += 1
    for _ in range(n_pps):
        (ln,) = _struct.unpack(">H", buf[pos : pos + 2])
        if pos + 2 + ln > len(buf):
            raise ValueError("avcC PPS overruns the record")
        pos += 2 + ln
    if sps["profile_idc"] != profile or sps["level_idc"] != level:
        raise ValueError(
            f"avcC header profile/level ({profile}/{level}) disagree with "
            f"its SPS ({sps['profile_idc']}/{sps['level_idc']})"
        )
    return {
        "profile_idc": profile,
        "level_idc": level,
        "length_size": length_size,
        "n_pps": n_pps,
        "sps": sps,
    }


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in
    buf[start:end], validating the 32/64-bit size grammar. Fails loudly
    on truncated or impossible sizes — never guesses."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated box header at byte {pos}")
        size = int.from_bytes(buf[pos : pos + 4], "big")
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError(f"truncated largesize box at byte {pos}")
            size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
            body = pos + 16
            if size < 16:
                raise ValueError(f"impossible largesize {size} at byte {pos}")
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        elif size < 8:
            raise ValueError(f"impossible box size {size} at byte {pos}")
        if pos + size > end:
            raise ValueError(
                f"box '{btype.decode('latin1')}' overruns scope: "
                f"{size} bytes at {pos}, {end - pos} remain"
            )
        yield btype, body, pos + size
        pos += size


def _mp4_fullbox(buf: bytes, start: int) -> tuple[int, int, int]:
    """(version, flags, payload_start) of a FullBox body."""
    vf = int.from_bytes(buf[start : start + 4], "big")
    return vf >> 24, vf & 0xFFFFFF, start + 4


def _mp4_child(buf, start, end, wanted: bytes, context: str) -> tuple[int, int]:
    for btype, b, e in _mp4_boxes(buf, start, end):
        if btype == wanted:
            return b, e
    raise ValueError(f"missing required '{wanted.decode('latin1')}' box in {context}")


def parse_mp4(payload: bytes) -> dict:
    """REAL ISO-BMFF demux: validate ftyp, walk the box tree to the
    video track's sample table, expand stts/stsc/stsz/stco to
    per-sample (offset, size, duration), and slice every sample out of
    the file. Only the uncompressed 'raw ' sample entry is decodable
    here — compressed formats (avc1/hvc1/…) raise NotImplementedError
    at the gate, mirroring decode_media. Fails loudly on malformed
    boxes, sample-table inconsistencies, or out-of-range offsets."""
    n_len = len(payload)
    top = list(_mp4_boxes(payload, 0, n_len))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload: first box must be ftyp")
    moov = [(b, e) for t, b, e in top if t == b"moov"]
    if len(moov) != 1:
        raise ValueError(f"expected exactly one moov box, found {len(moov)}")
    mb, me = moov[0]

    # find the VIDEO track (real muxes often list audio first); an
    # audio-only file falls back to its first 'soun' track (mp4a
    # routing — mm23)
    handlers = []
    mdb = mde = None
    audio = None
    for btype, tb, te in _mp4_boxes(payload, mb, me):
        if btype != b"trak":
            continue
        cand_mdb, cand_mde = _mp4_child(payload, tb, te, b"mdia", "trak")
        hb, he = _mp4_child(payload, cand_mdb, cand_mde, b"hdlr", "mdia")
        _, _, p = _mp4_fullbox(payload, hb)
        handler = payload[p + 4 : p + 8]
        handlers.append(handler)
        if handler == b"vide":
            mdb, mde = cand_mdb, cand_mde
            break
        if handler == b"soun" and audio is None:
            audio = (cand_mdb, cand_mde)
    if mdb is None and audio is not None:
        mdb, mde = audio
    if mdb is None:
        raise ValueError(
            f"no video or audio track in moov (track handlers: {handlers!r})"
        )

    # mdhd: timescale + duration (version 0: 32-bit fields, 1: 64-bit)
    hb, he = _mp4_child(payload, mdb, mde, b"mdhd", "mdia")
    ver, _, p = _mp4_fullbox(payload, hb)
    if ver == 1:
        timescale = int.from_bytes(payload[p + 16 : p + 20], "big")
        duration = int.from_bytes(payload[p + 20 : p + 28], "big")
    else:
        timescale = int.from_bytes(payload[p + 8 : p + 12], "big")
        duration = int.from_bytes(payload[p + 12 : p + 16], "big")

    mib, mie = _mp4_child(payload, mdb, mde, b"minf", "mdia")
    sb, se = _mp4_child(payload, mib, mie, b"stbl", "minf")

    def _table(box_start: int, box_end: int, count: int, entry_bytes: int, name: str):
        """Validate a sample-table's declared entry count fits its box."""
        if box_start + count * entry_bytes > box_end:
            raise ValueError(
                f"{name} declares {count} entries but its box holds only "
                f"{box_end - box_start} bytes"
            )

    # stsd: sample entry format + geometry
    db, de = _mp4_child(payload, sb, se, b"stsd", "stbl")
    _, _, p = _mp4_fullbox(payload, db)
    if int.from_bytes(payload[p : p + 4], "big") < 1:
        raise ValueError("stsd has no sample entries")
    entries = list(_mp4_boxes(payload, p + 4, de))
    if not entries:
        raise ValueError("stsd declares entries but its body holds none")
    fmt, eb, ee = entries[0]
    if fmt not in (b"raw ", b"jpeg", b"avc1", b"hvc1", b"mp4a"):
        raise NotImplementedError(
            f"compressed sample entry '{fmt.decode('latin1')}' requires a "
            "codec library; 'raw ' and MJPEG 'jpeg' decode here, 'avc1'/"
            "'hvc1'/'mp4a' demux + route (avcC / hvcC / esds metadata) "
            "without filterbank or pixel decode"
        )
    audio_cfg = None
    if fmt == b"mp4a":
        # AudioSampleEntry layout: channels at +16, 16.16 rate at +24
        width = 0
        height = 0
        entry_channels = int.from_bytes(payload[eb + 16 : eb + 18], "big")
        entry_rate = int.from_bytes(payload[eb + 24 : eb + 26], "big")
        ext = {t: (b, e) for t, b, e in _mp4_boxes(payload, eb + 28, ee)}
        if b"esds" not in ext:
            raise ValueError("mp4a sample entry carries no esds record")
        cb, ce = ext[b"esds"]
        _, _, p = _mp4_fullbox(payload, cb)
        audio_cfg = _parse_esds(payload[p:ce])
        if audio_cfg["channels"] != entry_channels:
            raise ValueError(
                f"sample-entry channel count {entry_channels} disagrees "
                f"with the AudioSpecificConfig ({audio_cfg['channels']})"
            )
        # the legacy 16.16 field saturates at 65535 Hz — cross-check
        # only rates it can actually represent (above that the esds
        # config is the sole authority, per real-muxer convention)
        if (
            audio_cfg["sampling_rate"] <= 0xFFFF
            and audio_cfg["sampling_rate"] != entry_rate
        ):
            raise ValueError(
                f"sample-entry rate {entry_rate} disagrees with the "
                f"AudioSpecificConfig ({audio_cfg['sampling_rate']})"
            )
    else:
        width = int.from_bytes(payload[eb + 24 : eb + 26], "big")
        height = int.from_bytes(payload[eb + 26 : eb + 28], "big")
    avcc = None
    hvcc = None
    if fmt in (b"avc1", b"hvc1"):
        # the VisualSampleEntry fixed prefix is 78 bytes; child boxes
        # (avcC/hvcC, optional btrt/pasp...) follow
        ext = {t: (b, e) for t, b, e in _mp4_boxes(payload, eb + 78, ee)}
        conf = b"avcC" if fmt == b"avc1" else b"hvcC"
        if conf not in ext:
            raise ValueError(
                f"{fmt.decode('latin1')} sample entry carries no "
                f"{conf.decode('latin1')} record"
            )
        cb, ce = ext[conf]
        cfg = (_parse_avcc if fmt == b"avc1" else _parse_hvcc)(payload[cb:ce])
        if (cfg["sps"]["width"], cfg["sps"]["height"]) != (width, height):
            raise ValueError(
                f"sample-entry geometry {width}x{height} disagrees with the "
                f"{conf.decode('latin1')} SPS "
                f"{cfg['sps']['width']}x{cfg['sps']['height']}"
            )
        if fmt == b"avc1":
            avcc = cfg
        else:
            hvcc = cfg

    # stts → per-sample durations
    bb, be = _mp4_child(payload, sb, se, b"stts", "stbl")
    _, _, p = _mp4_fullbox(payload, bb)
    n_runs = int.from_bytes(payload[p : p + 4], "big")
    _table(p + 4, be, n_runs, 8, "stts")
    durations: list[int] = []
    for i in range(n_runs):
        c = int.from_bytes(payload[p + 4 + 8 * i : p + 8 + 8 * i], "big")
        d = int.from_bytes(payload[p + 8 + 8 * i : p + 12 + 8 * i], "big")
        durations.extend([d] * c)

    # stsz → per-sample sizes
    bb, be = _mp4_child(payload, sb, se, b"stsz", "stbl")
    _, _, p = _mp4_fullbox(payload, bb)
    fixed = int.from_bytes(payload[p : p + 4], "big")
    n_samples = int.from_bytes(payload[p + 4 : p + 8], "big")
    if fixed:
        sizes = [fixed] * n_samples
    else:
        _table(p + 8, be, n_samples, 4, "stsz")
        sizes = [
            int.from_bytes(payload[p + 8 + 4 * i : p + 12 + 4 * i], "big")
            for i in range(n_samples)
        ]
    if len(durations) != n_samples:
        raise ValueError(
            f"sample-table mismatch: stts covers {len(durations)} samples, "
            f"stsz declares {n_samples}"
        )
    # 'raw ' samples are exactly one uncompressed luma frame: a size
    # that differs from width*height is a malformed (or stride-padded)
    # track — fail at the gate with the real reason instead of dying in
    # np.vstack with an unrelated shape error, or worse, silently
    # producing misshaped frames when the sizes happen to agree.
    # ('jpeg' sample sizes genuinely vary — no size invariant to check.)
    per = width * height
    if fmt == b"raw ":
        for i, s in enumerate(sizes):
            if s != per:
                raise ValueError(
                    f"'raw ' sample {i} is {s} bytes but geometry "
                    f"{width}x{height} needs {per} — stride-padded or "
                    "malformed track"
                )
    if sum(durations) != duration:
        raise ValueError(
            f"mdhd duration {duration} != stts total {sum(durations)}"
        )

    # stsc runs + stco offsets → per-sample absolute offsets
    bb, be = _mp4_child(payload, sb, se, b"stsc", "stbl")
    _, _, p = _mp4_fullbox(payload, bb)
    n_sc = int.from_bytes(payload[p : p + 4], "big")
    _table(p + 4, be, n_sc, 12, "stsc")
    sc_runs = [
        (
            int.from_bytes(payload[p + 4 + 12 * i : p + 8 + 12 * i], "big"),
            int.from_bytes(payload[p + 8 + 12 * i : p + 12 + 12 * i], "big"),
        )
        for i in range(n_sc)
    ]
    try:
        bb, be = _mp4_child(payload, sb, se, b"stco", "stbl")
        _, _, p = _mp4_fullbox(payload, bb)
        width_bytes = 4
    except ValueError:
        bb, be = _mp4_child(payload, sb, se, b"co64", "stbl")
        _, _, p = _mp4_fullbox(payload, bb)
        width_bytes = 8
    n_chunks = int.from_bytes(payload[p : p + 4], "big")
    _table(p + 4, be, n_chunks, width_bytes, "stco" if width_bytes == 4 else "co64")
    offsets = [
        int.from_bytes(
            payload[p + 4 + width_bytes * i : p + 4 + width_bytes * (i + 1)], "big"
        )
        for i in range(n_chunks)
    ]

    sample_offsets: list[int] = []
    si = 0
    for k in range(1, n_chunks + 1):  # chunks are 1-based
        spc = 0
        for fc, run_spc in sc_runs:
            if fc <= k:
                spc = run_spc
            else:
                break
        off = offsets[k - 1]
        for _ in range(spc):
            if si >= n_samples:
                raise ValueError("stsc assigns more samples than stsz declares")
            sample_offsets.append(off)
            off += sizes[si]
            si += 1
    if si != n_samples:
        raise ValueError(
            f"stsc chunk runs cover {si} samples, stsz declares {n_samples}"
        )

    # stss: sync (random-access) samples — optional; absent box means
    # every sample is sync (14496-12 §8.6.2)
    sync_samples = None
    try:
        bb, be = _mp4_child(payload, sb, se, b"stss", "stbl")
    except ValueError:
        pass
    else:
        _, _, p = _mp4_fullbox(payload, bb)
        n_sync = int.from_bytes(payload[p : p + 4], "big")
        _table(p + 4, be, n_sync, 4, "stss")
        sync_samples = [
            int.from_bytes(payload[p + 4 + 4 * i : p + 8 + 4 * i], "big")
            for i in range(n_sync)
        ]
        for s in sync_samples:
            if not (1 <= s <= n_samples):
                raise ValueError(
                    f"stss names sample {s}, track has {n_samples}"
                )

    frames = []
    for off, sz in zip(sample_offsets, sizes):
        if off + sz > n_len:
            raise ValueError(f"sample at offset {off} overruns the file")
        frames.append(np.frombuffer(payload, dtype=np.uint8, count=sz, offset=off))
    per = width * height
    out = {
        "width": width,
        "height": height,
        "timescale": timescale,
        "duration": duration,
        "n_samples": n_samples,
        "durations": durations,
        "codec": fmt.decode("latin1").strip(),
        "sync_samples": sync_samples,
    }
    if fmt == b"raw ":
        # uniform-size samples stack into one (n, width*height) matrix
        out["frames"] = (
            np.vstack(frames) if frames else np.empty((0, per), dtype=np.uint8)
        )
    else:
        # MJPEG/AVC/HEVC/AAC: per-sample payloads are ragged — hand back slices
        out["samples"] = [f.tobytes() for f in frames]
        if avcc is not None:
            out["avcc"] = avcc
        if hvcc is not None:
            out["hvcc"] = hvcc
        if audio_cfg is not None:
            out["audio"] = audio_cfg
    return out


MP4_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_ticks", LongType(), False),
        StructField("mean_luma", DoubleType(), True),
        StructField("max_luma", LongType(), True),
    ]
)


def with_mp4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic MP4 per row: UTF-8 text bytes become
    consecutive 8x8 mono luma samples (64 bytes each, whole samples
    only — short docs yield a legal 0-sample file). Invertible, so the
    oracle derives decoded stats straight from the characters."""
    per = MP4_WIDTH * MP4_HEIGHT

    def encode(t):
        raw = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        n = len(raw) // per
        return encode_mp4(raw[: n * per].reshape(n, per), MP4_WIDTH, MP4_HEIGHT)

    return synth_payload(df, encode, "video/mp4", cols=(text_col,))


def decode_mp4_features(
    df: DataFrame, id_col: str = "doc_id", stride: int = 4
) -> DataFrame:
    """Demux each MP4 through the real box-tree + sample-table path,
    sample every ``stride``-th frame, and emit per-document geometry,
    tick duration, and exact luma stats over the sampled frames. One
    map-only Arrow pass, zero shuffles; 0-sample files emit NULL stats."""

    def rows(doc_id, payload):
        v = parse_mp4(payload)
        if v["codec"] != "raw":
            # parse_mp4 also demuxes 'jpeg' tracks (ragged
            # samples, no frame matrix) — this RAW-frame
            # consumer must name the mismatch, not die on a
            # missing key inside the Arrow worker
            raise ValueError(
                f"expected an uncompressed 'raw ' track, got "
                f"codec {v['codec']!r} — use decode_mp4_mjpeg_features"
            )
        # stride BEFORE widening: only sampled frames pay the
        # int64 conversion (8x bytes) in the Arrow worker
        picked = v["frames"][::stride].astype(np.int64)
        if picked.shape[0]:
            mean = float(picked.sum()) / picked.size
            mx = int(picked.max())
        else:
            mean = mx = None
        yield (
            int(doc_id),
            v["width"],
            v["height"],
            v["n_samples"],
            v["duration"],
            mean,
            mx,
        )

    return map_payload(df, MP4_FEATURE_SCHEMA, rows, id_col)


def probe_jpeg_header(payload: bytes) -> dict:
    """HEADER-ONLY JPEG probe: walk the marker stream and return
    geometry/stream metadata WITHOUT entropy-decoding a single pixel —
    the cheap first pass a 100-TB ingest runs to route/filter/shard
    images before paying for selective decode (decode cost is ~1000×
    the header walk). Returns width, height, n_components, whether the
    stream is progressive (SOF2 — probe-able even though decode gates
    on it), restart interval, and the total entropy-coded byte count.
    Fails loudly on non-JPEG payloads and truncated segment headers."""
    import struct

    width = height = ncomp = None
    progressive = False
    restart_interval = 0
    scan_bytes = 0
    for marker, seg, scan in _jpeg_segments(payload):
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2: geometry probe-able
            _, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            progressive = marker == 0xC2
        elif marker == 0xDD:
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS: count entropy bytes without decoding
            scan_bytes += len(scan)
    if width is None:
        raise ValueError("JPEG carries no SOF frame header")
    return {
        "width": int(width),
        "height": int(height),
        "n_components": int(ncomp),
        "progressive": progressive,
        "restart_interval": restart_interval,
        "scan_bytes": scan_bytes,
    }


JPEG_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_components", LongType(), False),
        StructField("progressive", BooleanType(), False),
        StructField("restart_interval", LongType(), False),
        StructField("n_pixels", LongType(), False),
    ]
)


def probe_jpeg_features(
    df: DataFrame,
    id_col: str = "doc_id",
    null_width: int = 0,
    null_components: int = 0,
) -> DataFrame:
    """Header-only metadata per payload (no pixel decode) — the
    route/filter pass before selective decode. Map-only Arrow pipeline;
    NULL payloads yield a 0-geometry row whose width/components come
    from the CALLER (the synthesis layer knows what a missing payload
    would have been; this generic operator does not)."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), null_width, 0, null_components, False, 0, 0)
            return
        v = probe_jpeg_header(payload)
        yield (
            int(doc_id),
            v["width"],
            v["height"],
            v["n_components"],
            v["progressive"],
            v["restart_interval"],
            v["width"] * v["height"],
        )

    return map_payload(df, JPEG_PROBE_SCHEMA, rows, id_col)


MJPEG_FRAME_CHARS = 64  # 16 blocks/row x 4 rows: one char per 8x8 block
MJPEG_FRAME_W = 128
MJPEG_FRAME_H = 32


def with_mjpeg_mp4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic MJPEG-in-MP4 per row: every 64
    character bytes become one REAL baseline-JPEG frame (16 constant
    8x8 blocks per row, 4 block rows — the mm13 gray scheme), muxed as
    'jpeg' samples 4 per chunk, so the container carries a genuinely
    varying stsz size table AND every frame needs a full entropy
    decode. Block-constant frames round-trip byte-exactly, so the
    oracle recomputes decoded stats straight from the characters. Short
    docs yield a legal 0-sample file."""

    def encode(t):
        raw = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        n = len(raw) // MJPEG_FRAME_CHARS
        samples = []
        for f in range(n):
            vals = raw[
                f * MJPEG_FRAME_CHARS : (f + 1) * MJPEG_FRAME_CHARS
            ].reshape(4, 16)
            gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
            samples.append(
                encode_jpeg_gray(gray.tobytes(), MJPEG_FRAME_W, MJPEG_FRAME_H)
            )
        return encode_mp4_mjpeg(samples, MJPEG_FRAME_W, MJPEG_FRAME_H)

    return synth_payload(df, encode, "video/mp4", cols=(text_col,))


def decode_mp4_mjpeg_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The 100-TB video-ingest primitive end-to-end: ISO-BMFF demux
    (box tree + stts/stsc/stsz/stco) to per-sample byte slices, THEN a
    full baseline-JPEG decode of every slice (marker walk, Huffman,
    IDCT), emitting per-document geometry, tick duration and exact luma
    stats over all decoded frames. One map-only Arrow pass, zero
    shuffles; 0-sample files emit NULL stats. Non-JPEG codecs fail
    loudly at the stsd gate (parse_mp4)."""

    def rows(doc_id, payload):
        v = parse_mp4(payload)
        if v["codec"] != "jpeg":
            raise ValueError(
                f"expected an MJPEG track, got codec {v['codec']!r}"
            )
        total = cnt = 0
        mx = None
        for s in v["samples"]:
            p = parse_jpeg_gray(s)
            px = p["pixels"].astype(np.int64)
            total += int(px.sum())
            cnt += px.size
            m = int(px.max())
            mx = m if mx is None else max(mx, m)
        yield (
            int(doc_id),
            v["width"],
            v["height"],
            v["n_samples"],
            v["duration"],
            (float(total) / cnt) if cnt else None,
            mx,
        )

    return map_payload(df, MP4_FEATURE_SCHEMA, rows, id_col)


# ===========================================================================
# H.264 / AVC Annex-B stream PROBE (mm21) — the ROUTING layer for the
# one codec family this engine's decode gate documents as out of scope
# (avc1/hvc1 pixel decode at the MP4 stsd wall). A 100-TB video corpus
# is overwhelmingly H.264; the operation a training pipeline needs
# FIRST is not transcoding but routing — filter by resolution, profile,
# level, IDR density — which only requires the bitstream's METADATA
# layer: NAL unit walk (both 3- and 4-byte start codes), emulation-
# prevention unescaping (00 00 03 xx), and the exp-Golomb-coded
# sequence parameter set (profile/level, geometry in macroblocks,
# frame cropping). All of that is implemented here for real from the
# public spec (ITU-T H.264 §7.3/§7.4, Annex B); slice PIXEL decode
# still gates loudly elsewhere. The synthesis plants a mandatory
# 00 00 01 sequence inside every slice body, so a prober that skipped
# unescaping would both miscount NAL units (fake start code) and
# corrupt the byte-sum the oracle recomputes — the escape path is
# certified on every document, not just in unit tests.
# Reference anchor: none (the reference engine is OHLCV-only); this
# extends the engine's own decode_media/probe contract (mm16 family).
# ===========================================================================

H264_SLICE_BYTES = 32  # synthesis: one slice NAL per 32 document bytes
# every synthesized slice body starts with a raw 00 00 01 — illegal in
# an unescaped stream — so emulation prevention MUST fire on encode and
# be reversed on decode for the NAL walk and byte sums to come out
_H264_SLICE_MARKER = b"\x00\x00\x01"


def _write_ue(w: MsbWriter, value: int) -> None:
    """Unsigned exp-Golomb ue(v): value+1 in 2n-1 bits, i.e. n-1 zero
    bits followed by the n significant bits of value+1."""
    if value < 0:
        raise ValueError(f"ue(v) needs a non-negative value, got {value}")
    code = value + 1
    w.write(code, 2 * code.bit_length() - 1)


def _write_se(w: MsbWriter, value: int) -> None:
    _write_ue(w, 2 * value - 1 if value > 0 else -2 * value)


def _rbsp_trailing(w: MsbWriter) -> bytes:
    w.write(1, 1)  # rbsp_stop_one_bit
    w.align()  # rbsp_alignment_zero_bits
    return w.getvalue()


def _read_ue(r: MsbReader) -> int:
    zeros = 0
    while r.read(1) == 0:
        zeros += 1
        if zeros > 31:
            raise ValueError("exp-Golomb prefix over 31 zeros (corrupt)")
    return ((1 << zeros) | r.read(zeros)) - 1


def _read_se(r: MsbReader) -> int:
    k = _read_ue(r)
    return (k + 1) // 2 if k % 2 else -(k // 2)


def _h264_escape(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte: any 00 00 followed by a
    byte <= 03 becomes 00 00 03 xx (H.264 §7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _h264_unescape(ebsp: bytes) -> bytes:
    """Strip emulation_prevention_three_byte (00 00 03 -> 00 00); a bare
    00 00 00/01/02 inside a NAL payload is a spec violation and fails
    loudly (it would alias a start code)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(ebsp)
    while i < n:
        b = ebsp[i]
        if zeros >= 2:
            if b == 3:
                if i + 1 < n and ebsp[i + 1] > 3:
                    raise ValueError(
                        "emulation prevention byte followed by "
                        f"0x{ebsp[i + 1]:02X} (> 3) — corrupt escape"
                    )
                zeros = 0
                i += 1
                continue
            if b <= 2:
                raise ValueError(
                    f"unescaped 00 00 0{b} inside a NAL unit (aliases a start code)"
                )
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def encode_h264_sps(
    profile_idc: int,
    level_idc: int,
    width_mbs: int,
    height_mbs: int,
    crop_right: int = 0,
    crop_bottom: int = 0,
) -> bytes:
    """Serialize a REAL (bit-exact per §7.3.2.1) baseline/main SPS RBSP:
    exp-Golomb fields, pic_order_cnt_type 0, frame_mbs_only, optional
    frame cropping in 2-pixel units. Returns the UNescaped RBSP."""
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError(
            f"high-profile SPS (profile_idc {profile_idc}) carries "
            "chroma/scaling fields this encoder does not emit"
        )
    w = MsbWriter()
    w.write(profile_idc, 8)
    w.write(0, 8)  # constraint_set flags + reserved
    w.write(level_idc, 8)
    _write_ue(w, 0)  # seq_parameter_set_id
    _write_ue(w, 4)  # log2_max_frame_num_minus4
    _write_ue(w, 0)  # pic_order_cnt_type
    _write_ue(w, 4)  # log2_max_pic_order_cnt_lsb_minus4
    _write_ue(w, 1)  # max_num_ref_frames
    w.write(0, 1)  # gaps_in_frame_num_value_allowed_flag
    _write_ue(w, width_mbs - 1)  # pic_width_in_mbs_minus1
    _write_ue(w, height_mbs - 1)  # pic_height_in_map_units_minus1
    w.write(1, 1)  # frame_mbs_only_flag
    w.write(1, 1)  # direct_8x8_inference_flag
    if crop_right or crop_bottom:
        w.write(1, 1)  # frame_cropping_flag
        _write_ue(w, 0)
        _write_ue(w, crop_right)
        _write_ue(w, 0)
        _write_ue(w, crop_bottom)
    else:
        w.write(0, 1)
    w.write(0, 1)  # vui_parameters_present_flag
    return _rbsp_trailing(w)


def parse_h264_sps(rbsp: bytes) -> dict:
    """Parse an (unescaped) SPS RBSP: profile/level, geometry from
    macroblock counts minus crop (CropUnit 2 for 4:2:0 frame coding),
    POC/ref fields walked so the geometry fields land at the right bit
    offsets. Fails loudly on high-profile chroma fields and on
    truncated streams — never guesses."""
    r = MsbReader(rbsp)
    profile_idc = r.read(8)
    r.read(8)  # constraint flags
    level_idc = r.read(8)
    _read_ue(r)  # seq_parameter_set_id
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise NotImplementedError(
            f"high-profile SPS (profile_idc {profile_idc}: chroma format / "
            "scaling matrices) not supported by this probe"
        )
    _read_ue(r)  # log2_max_frame_num_minus4
    poc_type = _read_ue(r)
    if poc_type == 0:
        _read_ue(r)  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.read(1)
        _read_se(r)
        _read_se(r)
        for _ in range(_read_ue(r)):
            _read_se(r)
    elif poc_type != 2:
        raise ValueError(f"impossible pic_order_cnt_type {poc_type}")
    _read_ue(r)  # max_num_ref_frames
    r.read(1)  # gaps_in_frame_num_value_allowed_flag
    width_mbs = _read_ue(r) + 1
    height_map_units = _read_ue(r) + 1
    frame_mbs_only = r.read(1)
    if not frame_mbs_only:
        r.read(1)  # mb_adaptive_frame_field_flag
    r.read(1)  # direct_8x8_inference_flag
    crop = (0, 0, 0, 0)
    if r.read(1):  # frame_cropping_flag
        crop = (_read_ue(r), _read_ue(r), _read_ue(r), _read_ue(r))
    # CropUnitX = 2 (4:2:0); CropUnitY = 2 * (2 - frame_mbs_only_flag)
    crop_y_unit = 2 * (2 - frame_mbs_only)
    height_mbs = height_map_units * (2 - frame_mbs_only)
    width = width_mbs * 16 - 2 * (crop[0] + crop[1])
    height = height_mbs * 16 - crop_y_unit * (crop[2] + crop[3])
    if width <= 0 or height <= 0:
        raise ValueError(f"SPS crop exceeds the frame: {width}x{height}")
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
        "frame_mbs_only": bool(frame_mbs_only),
    }


def encode_h264_annexb(
    payload_blocks: list[bytes],
    profile_idc: int,
    level_idc: int,
    width_mbs: int,
    height_mbs: int,
    crop_right: int = 0,
    crop_bottom: int = 0,
) -> bytes:
    """Mux an Annex-B byte stream: 4-byte-start-code SPS + PPS, then one
    slice NAL per payload block using the 3-byte start code (both legal
    forms exercised in every stream). Every slice body is prefixed with
    a raw 00 00 01 marker BEFORE escaping, so emulation prevention is
    structurally mandatory. Every 8th slice is IDR."""
    sps = _h264_escape(
        encode_h264_sps(
            profile_idc, level_idc, width_mbs, height_mbs, crop_right, crop_bottom
        )
    )
    p = MsbWriter()
    _write_ue(p, 0)  # pic_parameter_set_id
    _write_ue(p, 0)  # seq_parameter_set_id
    p.write(0, 1)  # entropy_coding_mode_flag (CAVLC)
    p.write(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    _write_ue(p, 0)  # num_slice_groups_minus1
    _write_ue(p, 0)  # num_ref_idx_l0_default_active_minus1
    _write_ue(p, 0)  # num_ref_idx_l1_default_active_minus1
    p.write(0, 1)  # weighted_pred_flag
    p.write(0, 2)  # weighted_bipred_idc
    _write_se(p, 0)  # pic_init_qp_minus26
    _write_se(p, 0)  # pic_init_qs_minus26
    _write_se(p, 0)  # chroma_qp_index_offset
    p.write(0, 3)  # deblocking/constrained-intra/redundant-pic flags
    pps = _h264_escape(_rbsp_trailing(p))
    out = bytearray()
    out += b"\x00\x00\x00\x01\x67" + sps  # SPS: nal_ref_idc 3, type 7
    out += b"\x00\x00\x00\x01\x68" + pps  # PPS: type 8
    for i, block in enumerate(payload_blocks):
        header = 0x65 if i % 8 == 0 else 0x41  # IDR (5) / non-IDR (1)
        out += b"\x00\x00\x01" + bytes([header])
        out += _h264_escape(_H264_SLICE_MARKER + block)
    return bytes(out)


def parse_h264_annexb(payload: bytes) -> dict:
    """REAL Annex-B prober: split on 3-/4-byte start codes, validate the
    forbidden_zero_bit, unescape every NAL, parse the SPS (exp-Golomb
    walk, crop arithmetic), count slice types, and sum unescaped slice
    payload bytes (the escape-certification channel). No pixel decode —
    slice bodies past the NAL header are treated as opaque routing
    bytes, which is exactly what a corpus router pays."""
    n = len(payload)
    # collect (start, end) of each NAL's escaped body (after the header byte)
    starts: list[int] = []
    i = 0
    while i + 2 < n:
        if payload[i] == 0 and payload[i + 1] == 0 and payload[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise ValueError("no Annex-B start code found")
    if starts[0] not in (3, 4):
        raise ValueError("stream does not begin with a start code")
    sps = None
    n_slices = n_idr = 0
    payload_sum = 0
    n_nal = len(starts)
    for k, s in enumerate(starts):
        e = starts[k + 1] - 3 if k + 1 < len(starts) else n
        # a 4-byte start code leaves one 00 of the next prefix in this
        # NAL's slice; trim trailing zeros (trailing_zero_8bits are legal)
        while e > s and payload[e - 1] == 0:
            e -= 1
        if e <= s:
            raise ValueError(f"empty NAL unit at offset {s}")
        header = payload[s]
        if header & 0x80:
            raise ValueError(f"forbidden_zero_bit set in NAL header 0x{header:02X}")
        ntype = header & 0x1F
        body = _h264_unescape(payload[s + 1 : e])
        if ntype == 7:
            sps = parse_h264_sps(body)
        elif ntype == 8:
            pass  # PPS walked for NAL count; fields unused by the probe
        elif ntype in (1, 5):
            n_slices += 1
            if ntype == 5:
                n_idr += 1
            if not body.startswith(_H264_SLICE_MARKER):
                raise ValueError(
                    "synthesized slice body lost its 00 00 01 marker — "
                    "emulation-prevention round trip is broken"
                )
            payload_sum += sum(body[len(_H264_SLICE_MARKER) :]) + sum(
                _H264_SLICE_MARKER
            )
        else:
            raise ValueError(f"unexpected NAL unit type {ntype} in probe stream")
    if sps is None:
        raise ValueError("Annex-B stream carries no SPS")
    return {
        **sps,
        "n_nal_units": n_nal,
        "n_slices": n_slices,
        "n_idr": n_idr,
        "payload_byte_sum": payload_sum,
    }


H264_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("profile_idc", LongType(), True),
        StructField("level_idc", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_nal_units", LongType(), False),
        StructField("n_slices", LongType(), False),
        StructField("n_idr", LongType(), False),
        StructField("payload_byte_sum", LongType(), True),
    ]
)


def with_h264_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic H.264 Annex-B stream per row: one
    slice NAL per 32 document bytes (IDR every 8th), SPS geometry and
    crop derived from the length and first bytes, profile/level from
    doc_id — every field the oracle recomputes arithmetically. Docs
    shorter than one slice carry NULL."""

    def encode(doc_id, t):
        raw = t.encode("utf-8")
        ns = len(raw) // H264_SLICE_BYTES
        if ns == 0:
            return None
        blocks = [
            raw[i * H264_SLICE_BYTES : (i + 1) * H264_SLICE_BYTES]
            for i in range(ns)
        ]
        return encode_h264_annexb(
            blocks,
            profile_idc=66 + 11 * (int(doc_id) % 2),
            level_idc=30 + 10 * (int(doc_id) % 3),
            width_mbs=1 + len(raw) % 40,
            height_mbs=1 + (len(raw) // 7) % 30,
            crop_right=raw[0] % 2,
            crop_bottom=raw[1] % 2,
        )

    return synth_payload(
        df, encode, "video/h264", cols=("doc_id", text_col), nullable=True
    )


def probe_h264_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Probe each Annex-B payload through the real NAL walk + SPS parse
    and emit routing metadata — one Arrow pass, zero shuffles, no pixel
    decode anywhere. NULL payloads emit the 0-stream row."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), None, None, None, None, 0, 0, 0, None)
            return
        v = parse_h264_annexb(payload)
        yield (
            int(doc_id),
            v["profile_idc"],
            v["level_idc"],
            v["width"],
            v["height"],
            v["n_nal_units"],
            v["n_slices"],
            v["n_idr"],
            v["payload_byte_sum"],
        )

    return map_payload(df, H264_FEATURE_SCHEMA, rows, id_col)


# ===========================================================================
# avc1-in-MP4 routing (mm22) — mm21's Annex-B probe composed with the
# REAL container a video corpus actually ships: ISO 14496-15 avc1
# tracks, where SPS/PPS ride in the sample entry's avcC record and
# samples carry LENGTH-PREFIXED NAL units (no start codes — the framing
# difference that breaks naive demuxers). parse_mp4 demuxes + routes
# these (avcC parse, SPS geometry cross-checked against the sample
# entry, stss sync table); slice PIXEL decode still gates loudly.
# _length_prefixed writes a sample's length-prefixed NALs and
# _sample_nals is the one walker over them, for avc1 (1-byte NAL
# header) and hvc1 (2-byte header) alike.
# ===========================================================================

AVC1_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("profile_idc", LongType(), True),
        StructField("level_idc", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_samples", LongType(), False),
        StructField("n_sync", LongType(), False),
        StructField("payload_byte_sum", LongType(), True),
    ]
)


def with_avc1_mp4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic avc1-in-MP4 file per row: one MP4
    sample per 32 document bytes, each sample ONE length-prefixed slice
    NAL (IDR every 8th, listed in stss), SPS/PPS in the avcC record
    with the same geometry/profile derivation as the Annex-B synthesis
    (mm21) — so the two probes share one oracle arithmetic. Every slice
    body plants a raw 00 00 01 before escaping (escape certification).
    Docs shorter than one sample carry NULL."""

    def encode(doc_id, t):
        raw = t.encode("utf-8")
        ns = len(raw) // H264_SLICE_BYTES
        if ns == 0:
            return None
        nals = []
        for i in range(ns):
            hdr = 0x65 if i % 8 == 0 else 0x41
            body = _H264_SLICE_MARKER + raw[
                i * H264_SLICE_BYTES : (i + 1) * H264_SLICE_BYTES
            ]
            nals.append([bytes([hdr]) + _h264_escape(body)])
        return encode_mp4_avc1(
            nals,
            dict(
                profile_idc=66 + 11 * (int(doc_id) % 2),
                level_idc=30 + 10 * (int(doc_id) % 3),
                width_mbs=1 + len(raw) % 40,
                height_mbs=1 + (len(raw) // 7) % 30,
                crop_right=raw[0] % 2,
                crop_bottom=raw[1] % 2,
            ),
            sync_samples=[i + 1 for i in range(ns) if i % 8 == 0],
        )

    return synth_payload(
        df, encode, "video/mp4", cols=("doc_id", text_col), nullable=True
    )


def _sample_nals(
    sample: bytes, si: int, length_size: int, header_size: int, nal_type
) -> list[tuple[int, bytes]]:
    """``(nal_type(first header byte), unescaped payload)`` for each NAL
    unit of one MP4 sample, where every NAL is preceded by a
    ``length_size``-byte big-endian length (ISO 14496-15) and carries a
    ``header_size``-byte NAL header (1 for H.264, 2 for HEVC). A length
    that overruns the sample, a NAL shorter than its header and a set
    forbidden_zero_bit raise ``ValueError`` naming sample ``si``."""
    nals = []
    pos = 0
    while pos < len(sample):
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        nal = sample[pos + length_size : pos + length_size + ln]
        if len(nal) != ln:
            raise ValueError(f"sample {si}: NAL length {ln} overruns the sample")
        if ln < header_size:
            raise ValueError(
                f"sample {si}: {ln}-byte NAL has no {header_size}-byte header"
            )
        if nal[0] & 0x80:
            raise ValueError(f"forbidden_zero_bit in sample {si} NAL")
        nals.append((nal_type(nal[0]), _h264_unescape(nal[header_size:])))
        pos += length_size + ln
    return nals


def probe_avc1_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Route each avc1-in-MP4 payload through the real demux (box tree,
    sample table, avcC/SPS parse, stss) plus a per-sample
    length-prefixed NAL walk (unescape + slice classification + byte
    sum). Cross-checks the stss sync list against the IDR NAL types —
    a container whose sync table lies about its bitstream fails
    loudly. One Arrow pass, zero shuffles, no pixel decode."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), None, None, None, None, 0, 0, None)
            return
        v = parse_mp4(payload)
        if v["codec"] != "avc1":
            raise ValueError(f"doc {doc_id}: expected avc1, got {v['codec']}")
        avcc = v["avcc"]
        ls = avcc["length_size"]
        payload_sum = 0
        idr_samples = []
        for si, sample in enumerate(v["samples"]):
            for ntype, body in _sample_nals(sample, si, ls, 1, lambda b: b & 0x1F):
                if ntype not in (1, 5):
                    raise ValueError(
                        f"unexpected NAL type {ntype} in an avc1 sample"
                    )
                if not body.startswith(_H264_SLICE_MARKER):
                    raise ValueError(
                        "slice body lost its marker — escape round "
                        "trip broken"
                    )
                payload_sum += sum(body)
                if ntype == 5:
                    idr_samples.append(si + 1)
        sync = v["sync_samples"] or list(range(1, v["n_samples"] + 1))
        if idr_samples != sync:
            raise ValueError(
                f"stss {sync} disagrees with IDR NALs {idr_samples}"
            )
        yield (
            int(doc_id),
            avcc["profile_idc"],
            avcc["level_idc"],
            v["width"],
            v["height"],
            v["n_samples"],
            len(sync),
            payload_sum,
        )

    return map_payload(df, AVC1_FEATURE_SCHEMA, rows, id_col)


# ===========================================================================
# mp4a/AAC-in-MP4 routing (mm23) — the AUDIO leg of the container
# routing pair (mm22 is video): a real speech/music corpus ships AAC
# in MP4, and routing it (by sample rate, channel layout, object type,
# duration) needs the esds descriptor chain, not the filterbank. The
# AudioSpecificConfig's packed bit fields are cross-checked against
# the AudioSampleEntry's own channel/rate fields — a container whose
# two layers disagree fails loudly. Frame decode stays out of scope.
# ===========================================================================

AAC_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("object_type", LongType(), True),
        StructField("sampling_rate", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("n_samples", LongType(), False),
        StructField("payload_byte_sum", LongType(), True),
    ]
)

# doc_id % 3 -> samplingFrequencyIndex (48000 / 44100 / 16000)
AAC_SYNTH_FREQ_INDEX = (3, 4, 8)


def with_aac_mp4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic mp4a-in-MP4 file per row: one opaque
    32-byte access unit per 32 document bytes, AudioSpecificConfig
    fields derived from doc_id (object type 2/5, rate 48000/44100/16000,
    channels 1/2) so the oracle recomputes them arithmetically. Docs
    shorter than one frame carry NULL."""

    def encode(doc_id, t):
        raw = t.encode("utf-8")
        ns = len(raw) // 32
        if ns == 0:
            return None
        frames = [raw[i * 32 : (i + 1) * 32] for i in range(ns)]
        return encode_mp4_aac(
            frames,
            object_type=2 + 3 * (int(doc_id) % 2),
            freq_index=AAC_SYNTH_FREQ_INDEX[int(doc_id) % 3],
            channels=1 + int(doc_id) % 2,
        )

    return synth_payload(
        df, encode, "audio/mp4", cols=("doc_id", text_col), nullable=True
    )


def probe_aac_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Route each mp4a-in-MP4 payload through the real demux + esds
    descriptor-chain parse (AudioSpecificConfig bit fields cross-checked
    against the sample entry) and sum the sliced access-unit bytes —
    one Arrow pass, zero shuffles, no filterbank decode."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), None, None, None, 0, None)
            return
        v = parse_mp4(payload)
        if v["codec"] != "mp4a":
            raise ValueError(f"doc {doc_id}: expected mp4a, got {v['codec']}")
        a = v["audio"]
        yield (
            int(doc_id),
            a["object_type"],
            a["sampling_rate"],
            a["channels"],
            v["n_samples"],
            sum(sum(s) for s in v["samples"]),
        )

    return map_payload(df, AAC_FEATURE_SCHEMA, rows, id_col)


# ===========================================================================
# HEVC / H.265 hvc1-in-MP4 routing (mm24) — the #2 codec of a real
# video corpus, with a genuinely different metadata layer from H.264:
# 2-byte NAL headers (6-bit type + layer id + temporal id), the
# profile_tier_level structure (profile space/tier/compatibility
# flags/43 reserved bits/level), luma-sample geometry with a
# conformance window in CHROMA units, and the binary
# HEVCDecoderConfigurationRecord (hvcC) carrying parameter-set arrays.
# Same scope contract as mm21/mm22: routing metadata only, slice
# pixel decode gates loudly. Public spec: ITU-T H.265 §7.3.2.2,
# ISO 14496-15 §8.3.3. Emulation prevention is byte-identical to
# H.264, so the escape helpers are shared.
# ===========================================================================


def encode_hevc_sps(
    profile_idc: int,
    tier: int,
    level_idc: int,
    pic_width: int,
    pic_height: int,
    conf_right: int = 0,
    conf_bottom: int = 0,
) -> bytes:
    """Serialize a REAL (bit-exact per H.265 §7.3.2.2) single-layer SPS
    RBSP: profile_tier_level with the 43 reserved bits, 4:2:0 chroma,
    geometry in luma samples, conformance window in chroma units.
    Returns the UNescaped RBSP."""
    w = MsbWriter()
    w.write(0, 4)  # sps_video_parameter_set_id
    w.write(0, 3)  # sps_max_sub_layers_minus1
    w.write(1, 1)  # sps_temporal_id_nesting_flag
    # profile_tier_level(1, 0)
    w.write(0, 2)  # general_profile_space
    w.write(tier, 1)  # general_tier_flag
    w.write(profile_idc, 5)  # general_profile_idc
    w.write(1 << (31 - profile_idc), 32)  # compatibility flags (own bit set)
    w.write(0b1000, 4)  # progressive=1, interlaced/non-packed/frame-only=0
    w.write(0, 43)  # general_reserved_zero_43bits
    w.write(0, 1)  # general_inbld_flag (reserved)
    w.write(level_idc, 8)  # general_level_idc
    _write_ue(w, 0)  # sps_seq_parameter_set_id
    _write_ue(w, 1)  # chroma_format_idc (4:2:0)
    _write_ue(w, pic_width)  # pic_width_in_luma_samples
    _write_ue(w, pic_height)  # pic_height_in_luma_samples
    if conf_right or conf_bottom:
        w.write(1, 1)  # conformance_window_flag
        _write_ue(w, 0)
        _write_ue(w, conf_right)
        _write_ue(w, 0)
        _write_ue(w, conf_bottom)
    else:
        w.write(0, 1)
    _write_ue(w, 0)  # bit_depth_luma_minus8
    _write_ue(w, 0)  # bit_depth_chroma_minus8
    _write_ue(w, 4)  # log2_max_pic_order_cnt_lsb_minus4
    w.write(0, 1)  # sps_sub_layer_ordering_info_present_flag
    _write_ue(w, 1)  # sps_max_dec_pic_buffering_minus1
    _write_ue(w, 0)  # sps_max_num_reorder_pics
    _write_ue(w, 0)  # sps_max_latency_increase_plus1
    _write_ue(w, 0)  # log2_min_luma_coding_block_size_minus3
    _write_ue(w, 2)  # log2_diff_max_min_luma_coding_block_size
    _write_ue(w, 0)  # log2_min_luma_transform_block_size_minus2
    _write_ue(w, 3)  # log2_diff_max_min_luma_transform_block_size
    _write_ue(w, 0)  # max_transform_hierarchy_depth_inter
    _write_ue(w, 0)  # max_transform_hierarchy_depth_intra
    w.write(0, 1)  # scaling_list_enabled_flag
    w.write(0, 1)  # amp_enabled_flag
    w.write(0, 1)  # sample_adaptive_offset_enabled_flag
    w.write(0, 1)  # pcm_enabled_flag
    _write_ue(w, 0)  # num_short_term_ref_pic_sets
    w.write(0, 1)  # long_term_ref_pics_present_flag
    w.write(0, 1)  # sps_temporal_mvp_enabled_flag
    w.write(0, 1)  # strong_intra_smoothing_enabled_flag
    w.write(0, 1)  # vui_parameters_present_flag
    w.write(0, 1)  # sps_extension_present_flag
    return _rbsp_trailing(w)


def parse_hevc_sps(rbsp: bytes) -> dict:
    """Parse an (unescaped) HEVC SPS RBSP through profile_tier_level
    and geometry: profile space/tier/profile/level, chroma format,
    luma-sample dimensions minus the conformance window (chroma-unit
    offsets, SubWidthC/SubHeightC = 2 for 4:2:0). Fails loudly on
    multi-layer streams, profile space != 0, or chroma formats whose
    window units this probe does not model — never guesses."""
    r = MsbReader(rbsp)
    r.read(4)  # sps_video_parameter_set_id
    max_sub_layers = r.read(3)
    if max_sub_layers:
        raise NotImplementedError(
            f"{max_sub_layers + 1}-sub-layer HEVC SPS (per-layer "
            "profile_tier_level) not supported by this probe"
        )
    r.read(1)  # temporal_id_nesting
    profile_space = r.read(2)
    if profile_space:
        raise ValueError(f"general_profile_space {profile_space} (must be 0)")
    tier = r.read(1)
    profile_idc = r.read(5)
    r.read(32)  # compatibility flags
    r.read(4)  # progressive/interlaced/non-packed/frame-only
    if r.read(43):
        raise ValueError("general_reserved_zero_43bits set (corrupt PTL)")
    r.read(1)  # inbld/reserved
    level_idc = r.read(8)
    _read_ue(r)  # sps_seq_parameter_set_id
    chroma = _read_ue(r)
    if chroma == 3:
        r.read(1)  # separate_colour_plane_flag
    if chroma not in (1, 2, 3):
        raise NotImplementedError(
            f"chroma_format_idc {chroma} (monochrome) window units not modeled"
        )
    sub_w = 2 if chroma in (1, 2) else 1
    sub_h = 2 if chroma == 1 else 1
    pic_w = _read_ue(r)
    pic_h = _read_ue(r)
    crop = (0, 0, 0, 0)
    if r.read(1):  # conformance_window_flag
        crop = (_read_ue(r), _read_ue(r), _read_ue(r), _read_ue(r))
    width = pic_w - sub_w * (crop[0] + crop[1])
    height = pic_h - sub_h * (crop[2] + crop[3])
    if width <= 0 or height <= 0:
        raise ValueError(f"conformance window exceeds the frame: {width}x{height}")
    return {
        "profile_idc": profile_idc,
        "tier": tier,
        "level_idc": level_idc,
        "chroma_format_idc": chroma,
        "width": width,
        "height": height,
    }


HEVC_NAL_TRAIL_R = 1
HEVC_NAL_IDR_W_RADL = 19
HEVC_NAL_SPS = 33
HEVC_NAL_PPS = 34


def _hevc_nal(nal_type: int, escaped_body: bytes) -> bytes:
    """2-byte HEVC NAL header (forbidden 0, 6-bit type, layer 0,
    temporal_id_plus1 1) + escaped payload."""
    return bytes([nal_type << 1, 1]) + escaped_body


def encode_mp4_hevc(
    sample_nals: list[list[bytes]],
    sps_args: dict,
    sync_samples: list[int],
) -> bytes:
    """Serialize HEVC NAL units as a REAL hvc1-in-MP4 track: the hvcC
    HEVCDecoderConfigurationRecord (profile/tier/level mirror of the
    SPS, 4-byte NAL length field, SPS/PPS parameter-set arrays) rides
    in the sample entry; samples carry length-prefixed NALs."""
    sps_rbsp = encode_hevc_sps(**sps_args)
    sps_nal = _hevc_nal(HEVC_NAL_SPS, _h264_escape(sps_rbsp))
    # minimal PPS: ids + a run of zero flags/ue's per §7.3.2.3
    p = MsbWriter()
    _write_ue(p, 0)  # pps_pic_parameter_set_id
    _write_ue(p, 0)  # pps_seq_parameter_set_id
    p.write(0, 7)  # dependent/output/extra-bits/sign-hiding/cabac-present...
    _write_ue(p, 0)  # num_ref_idx_l0_default_active_minus1
    _write_ue(p, 0)  # num_ref_idx_l1_default_active_minus1
    _write_se(p, 0)  # init_qp_minus26
    p.write(0, 3)
    _write_se(p, 0)  # pps_cb_qp_offset
    _write_se(p, 0)  # pps_cr_qp_offset
    p.write(0, 8)  # remaining single-bit flags through the extension flag
    pps_nal = _hevc_nal(HEVC_NAL_PPS, _h264_escape(_rbsp_trailing(p)))
    v = parse_hevc_sps(sps_rbsp)
    ptl = (
        bytes([(v["tier"] << 5) | v["profile_idc"]])  # space 0 + tier + profile
        + _struct.pack(">I", 1 << (31 - v["profile_idc"]))  # compat flags
        + b"\x00" * 6  # constraint indicator flags
        + bytes([v["level_idc"]])
    )
    hvcc = (
        bytes([1])  # configurationVersion
        + ptl
        + _struct.pack(">H", 0xF000)  # min_spatial_segmentation_idc
        + bytes([0xFC, 0xFC | v["chroma_format_idc"], 0xF8, 0xF8])
        + _struct.pack(">H", 0)  # avgFrameRate
        + bytes([(0 << 6) | (1 << 3) | (1 << 2) | 3])  # 1 layer, nested, len 4
        + bytes([2])  # numOfArrays
        + bytes([0x80 | HEVC_NAL_SPS])  # array_completeness + type
        + _struct.pack(">HH", 1, len(sps_nal))
        + sps_nal
        + bytes([0x80 | HEVC_NAL_PPS])
        + _struct.pack(">HH", 1, len(pps_nal))
        + pps_nal
    )
    return _encode_mp4_container(
        _length_prefixed(sample_nals),
        v["width"],
        v["height"],
        fmt=b"hvc1",
        depth=24,
        entry_extension=_mp4_box(b"hvcC", hvcc),
        sync_samples=sync_samples,
    )


def _parse_hvcc(buf: bytes) -> dict:
    """Parse an HEVCDecoderConfigurationRecord: header profile/tier/
    level, NAL length-field size, parameter-set arrays; the in-record
    SPS is unescaped and parsed through the same bit walk as the
    stream probe, then cross-checked against the record header."""
    if len(buf) < 23:
        raise ValueError(f"hvcC record is {len(buf)} bytes (needs >= 23)")
    if buf[0] != 1:
        raise ValueError(f"hvcC configurationVersion {buf[0]} (must be 1)")
    tier = (buf[1] >> 5) & 1
    profile = buf[1] & 0x1F
    if buf[1] >> 6:
        raise ValueError("hvcC general_profile_space != 0")
    level = buf[12]
    length_size = (buf[21] & 0x03) + 1
    n_arrays = buf[22]
    pos = 23
    sps = None
    for _ in range(n_arrays):
        if pos + 3 > len(buf):
            raise ValueError("hvcC truncated at an array header")
        ntype = buf[pos] & 0x3F
        (n_nalus,) = _struct.unpack(">H", buf[pos + 1 : pos + 3])
        pos += 3
        for _ in range(n_nalus):
            (ln,) = _struct.unpack(">H", buf[pos : pos + 2])
            nal = buf[pos + 2 : pos + 2 + ln]
            if len(nal) != ln:
                raise ValueError("hvcC NAL overruns the record")
            if ntype == HEVC_NAL_SPS and sps is None:
                if (nal[0] >> 1) & 0x3F != HEVC_NAL_SPS:
                    raise ValueError(
                        f"hvcC SPS array holds NAL type {(nal[0] >> 1) & 0x3F}"
                    )
                sps = parse_hevc_sps(_h264_unescape(nal[2:]))
            pos += 2 + ln
    if sps is None:
        raise ValueError("hvcC carries no SPS")
    if (sps["profile_idc"], sps["tier"], sps["level_idc"]) != (profile, tier, level):
        raise ValueError(
            f"hvcC header PTL ({profile}/{tier}/{level}) disagrees with its "
            f"SPS ({sps['profile_idc']}/{sps['tier']}/{sps['level_idc']})"
        )
    return {
        "profile_idc": profile,
        "tier": tier,
        "level_idc": level,
        "length_size": length_size,
        "sps": sps,
    }


HEVC_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("profile_idc", LongType(), True),
        StructField("tier", LongType(), True),
        StructField("level_idc", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_samples", LongType(), False),
        StructField("n_sync", LongType(), False),
        StructField("payload_byte_sum", LongType(), True),
    ]
)


def with_hevc_mp4_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic hvc1-in-MP4 file per row: one MP4
    sample per 32 document bytes, each ONE length-prefixed HEVC slice
    NAL (IDR_W_RADL every 8th, listed in stss), SPS/PPS in the hvcC
    record; profile (Main/Main10), tier and level derive from doc_id,
    geometry and conformance window from the length and first bytes —
    the same oracle arithmetic family as mm21/mm22. Every slice body
    plants a raw 00 00 01 before escaping. Docs shorter than one
    sample carry NULL."""
    levels = (93, 120, 150)

    def encode(doc_id, t):
        raw = t.encode("utf-8")
        ns = len(raw) // H264_SLICE_BYTES
        if ns == 0:
            return None
        nals = []
        for i in range(ns):
            ntype = HEVC_NAL_IDR_W_RADL if i % 8 == 0 else HEVC_NAL_TRAIL_R
            body = _H264_SLICE_MARKER + raw[
                i * H264_SLICE_BYTES : (i + 1) * H264_SLICE_BYTES
            ]
            nals.append([_hevc_nal(ntype, _h264_escape(body))])
        return encode_mp4_hevc(
            nals,
            dict(
                profile_idc=1 + int(doc_id) % 2,
                tier=int(doc_id) % 2,
                level_idc=levels[int(doc_id) % 3],
                pic_width=16 * (1 + len(raw) % 40),
                pic_height=16 * (1 + (len(raw) // 7) % 30),
                conf_right=raw[0] % 2,
                conf_bottom=raw[1] % 2,
            ),
            sync_samples=[i + 1 for i in range(ns) if i % 8 == 0],
        )

    return synth_payload(
        df, encode, "video/mp4", cols=("doc_id", text_col), nullable=True
    )


def probe_hevc_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Route each hvc1-in-MP4 payload through the real demux (hvcC
    record, profile_tier_level cross-checked against its SPS, geometry
    against the sample entry) plus a per-sample length-prefixed NAL
    walk with the 2-byte HEVC header classification; IRAP placement is
    cross-validated against stss. One Arrow pass, zero shuffles, no
    pixel decode."""

    def rows(doc_id, payload):
        if payload is None:
            yield (int(doc_id), None, None, None, None, None, 0, 0, None)
            return
        v = parse_mp4(payload)
        if v["codec"] != "hvc1":
            raise ValueError(f"doc {doc_id}: expected hvc1, got {v['codec']}")
        cfg = v["hvcc"]
        ls = cfg["length_size"]
        payload_sum = 0
        irap_samples = []
        for si, sample in enumerate(v["samples"]):
            nals = _sample_nals(sample, si, ls, 2, lambda b: (b >> 1) & 0x3F)
            for ntype, body in nals:
                if ntype not in (HEVC_NAL_TRAIL_R, HEVC_NAL_IDR_W_RADL):
                    raise ValueError(
                        f"unexpected NAL type {ntype} in an hvc1 sample"
                    )
                if not body.startswith(_H264_SLICE_MARKER):
                    raise ValueError(
                        "slice body lost its marker — escape round "
                        "trip broken"
                    )
                payload_sum += sum(body)
                if ntype == HEVC_NAL_IDR_W_RADL:
                    irap_samples.append(si + 1)
        sync = v["sync_samples"] or list(range(1, v["n_samples"] + 1))
        if irap_samples != sync:
            raise ValueError(
                f"stss {sync} disagrees with IRAP NALs {irap_samples}"
            )
        yield (
            int(doc_id),
            cfg["profile_idc"],
            cfg["tier"],
            cfg["level_idc"],
            v["width"],
            v["height"],
            v["n_samples"],
            len(sync),
            payload_sum,
        )

    return map_payload(df, HEVC_FEATURE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III) ROUTING probe — the remaining leg of the audio
# routing matrix (mm23 covered AAC-in-MP4). Real corpora ship raw
# .mp3 streams: an optional ID3v2 metadata tag, then a sequence of
# frames whose SIZES are pure header arithmetic
# (144·bitrate/samplerate + padding for MPEG-1 Layer III) — so a
# router can count frames, measure duration and detect VBR without
# touching a single subband sample. Filterbank decode is out of scope
# the same way avc1/hvc1 pixel decode is; the walk below is the
# triage layer. Synthesis is deterministic in (doc_id, text) so the
# oracle recomputes every output arithmetically.
# ---------------------------------------------------------------------------

#: MPEG-1 Layer III bitrate table (kbps), index 1-14; 0=free, 15=bad.
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320
)
_MP3_SAMPLERATES = (44100, 48000, 32000)  # index 0-2; 3 reserved
_MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III
#: synthesis cycle: bitrate indices for (doc_id + frame) % 4
_MP3_SYNTH_KBPS_IDX = (9, 10, 11, 12)  # 128/160/192/224 kbps


def _id3v2_tag(title: str) -> bytes:
    """Minimal real ID3v2.3 tag holding one TIT2 (title) text frame."""
    body = b"TIT2" + (1 + len(title)).to_bytes(4, "big") + b"\x00\x00"
    body += b"\x00" + title.encode("latin-1")  # ISO-8859-1 encoding byte
    size = len(body)
    if size >= 1 << 28:
        raise ValueError("ID3 tag too large for syncsafe size")
    syncsafe = bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    return b"ID3\x03\x00\x00" + syncsafe + body


def encode_mp3(doc_id: int, text: str) -> bytes:
    """Serialize a REAL MPEG-1 Layer III stream shell: ID3v2.3 title
    tag + ``1 + len(text)//24`` frames at 44.1 kHz whose bitrate cycles
    128/160/192/224 kbps by (doc_id + frame) — a VBR stream whenever
    it has >= 2 frames. Odd doc_ids set the protection bit's CRC form
    (2 CRC bytes after the header). Frame payloads are text bytes
    cycled (ASCII corpus — never a false 0xFF sync). Audio payload is
    opaque to the routing layer by design."""
    n_frames = 1 + len(text) // 24
    mode = doc_id % 4
    protected = doc_id % 2 == 1  # protection_bit 0 => CRC present
    fill = text.encode("utf-8") or b"x"
    out = bytearray(_id3v2_tag(f"doc {doc_id}"))
    fpos = 0
    for i in range(n_frames):
        idx = _MP3_SYNTH_KBPS_IDX[(doc_id + i) % 4]
        kbps = _MP3_BITRATES[idx]
        padding = i % 2
        size = (144_000 * kbps) // _MP3_SAMPLERATES[0] + padding
        hdr = (
            (0x7FF << 21)            # sync
            | (0b11 << 19)           # MPEG-1
            | (0b01 << 17)           # Layer III
            | ((0 if protected else 1) << 16)
            | (idx << 12)
            | (0 << 10)              # samplerate index 0 = 44100
            | (padding << 9)
            | (0 << 8)               # private
            | (mode << 6)
            | (0 << 4)               # mode extension
            | (0 << 3) | (0 << 2)    # copyright/original
            | 0b00                   # emphasis: none
        )
        frame = bytearray(hdr.to_bytes(4, "big"))
        if protected:
            frame += b"\xbe\xef"  # CRC slot (router skips, never checks)
        while len(frame) < size:
            take = min(size - len(frame), len(fill) - fpos)
            frame += fill[fpos : fpos + take]
            fpos = (fpos + take) % len(fill)
        out += frame
    return bytes(out)


def probe_mp3(payload: bytes) -> dict:
    """REAL MP3 routing walk: ID3v2 skip (syncsafe size + footer flag),
    then frame-by-frame header validation (sync, version, layer,
    bitrate/samplerate/emphasis codes) and SIZE-arithmetic jumps; the
    walk must land exactly on the stream end. No subband decode.
    Returns geometry + per-frame bitrate stats + the ID3 title."""
    pos = 0
    title = None
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        id3_ver = payload[3]
        if id3_ver not in (3, 4):
            # v2.2 has 3-byte frame ids/sizes — a different grammar;
            # an unimplemented grammar raises, it is never guessed at
            raise ValueError(f"only ID3v2.3/v2.4 implemented (got v2.{id3_ver})")
        flags = payload[5]
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("ID3v2 size bytes must be syncsafe (bit 7 clear)")
        tag_size = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
        body = payload[10 : 10 + tag_size]
        if len(body) != tag_size:
            raise ValueError("truncated ID3v2 tag body")
        # walk tag frames for TIT2 (best-effort metadata, strict sizes)
        bpos = 0
        while bpos + 10 <= len(body) and body[bpos] != 0:
            fid = body[bpos : bpos + 4]
            fsz = body[bpos + 4 : bpos + 8]
            if id3_ver == 4:
                # v2.4 frame sizes are SYNCSAFE; reading them raw
                # desyncs the walk for any frame > 127 bytes
                if any(b & 0x80 for b in fsz):
                    raise ValueError(
                        f"ID3v2.4 frame {fid!r} size bytes must be syncsafe"
                    )
                fsize = (fsz[0] << 21) | (fsz[1] << 14) | (fsz[2] << 7) | fsz[3]
            else:
                fsize = int.from_bytes(fsz, "big")
            content = body[bpos + 10 : bpos + 10 + fsize]
            if len(content) != fsize:
                raise ValueError(f"ID3 frame {fid!r} overruns the tag")
            if fid == b"TIT2" and fsize >= 1:
                title = content[1:].decode("latin-1")
            bpos += 10 + fsize
        pos = 10 + tag_size + (10 if flags & 0x10 else 0)  # footer flag
    n_frames = 0
    sum_frame_bytes = 0
    kbps_seen: list[int] = []
    version = layer = samplerate = mode = None
    has_crc = False
    n = len(payload)
    while pos < n:
        if pos + 4 > n:
            raise ValueError(f"truncated frame header at byte {pos}")
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost frame sync at byte {pos}")
        ver_code = (hdr >> 19) & 0x3
        if ver_code == 0b01:
            raise ValueError("reserved MPEG version code")
        if ver_code != 0b11:
            raise ValueError("only MPEG-1 streams implemented (routing subset)")
        layer_code = (hdr >> 17) & 0x3
        if layer_code != 0b01:
            raise ValueError(
                f"only Layer III implemented (layer code 0b{layer_code:02b})"
            )
        protection = (hdr >> 16) & 1
        idx = (hdr >> 12) & 0xF
        if idx in (0, 15):
            raise ValueError(f"unsupported bitrate index {idx} (free/bad)")
        sr_idx = (hdr >> 10) & 0x3
        if sr_idx == 3:
            raise ValueError("reserved samplerate index")
        padding = (hdr >> 9) & 1
        this_mode = (hdr >> 6) & 0x3
        if hdr & 0x3 == 0b10:
            raise ValueError("reserved emphasis code")
        kbps = _MP3_BITRATES[idx]
        sr = _MP3_SAMPLERATES[sr_idx]
        size = (144_000 * kbps) // sr + padding
        if pos + size > n:
            raise ValueError(
                f"frame at byte {pos} declares {size} bytes, {n - pos} left"
            )
        if version is None:
            version, layer, samplerate, mode = 1, 3, sr, this_mode
            has_crc = protection == 0
        elif (sr, this_mode, protection == 0) != (samplerate, mode, has_crc):
            raise ValueError(
                f"frame at byte {pos} changes stream parameters mid-file"
            )
        kbps_seen.append(kbps)
        n_frames += 1
        sum_frame_bytes += size
        pos += size
    if n_frames == 0:
        raise ValueError("no MP3 frames after the ID3 tag")
    total_samples = n_frames * _MP3_SAMPLES_PER_FRAME
    return {
        "mpeg_version": version,
        "layer": layer,
        "sample_rate": samplerate,
        "channel_mode": mode,
        "has_crc": has_crc,
        "n_frames": n_frames,
        "total_samples": total_samples,
        "duration_ms": total_samples * 1000 // samplerate,
        "sum_frame_bytes": sum_frame_bytes,
        "kbps_min": min(kbps_seen),
        "kbps_max": max(kbps_seen),
        "is_vbr": len(set(kbps_seen)) > 1,
        "id3_title": title,
    }


MP3_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("channel_mode", LongType(), False),
        StructField("has_crc", LongType(), False),
        StructField("total_samples", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("sum_frame_bytes", LongType(), False),
        StructField("kbps_min", LongType(), False),
        StructField("kbps_max", LongType(), False),
        StructField("is_vbr", LongType(), False),
        StructField("id3_title", StringType(), True),
    ]
)


def with_mp3_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach one synthetic MP3 stream per row (Arrow-batched)."""

    return synth_payload(
        df, lambda i, t: encode_mp3(int(i), t), "audio/mpeg", cols=("doc_id", text_col)
    )


def probe_mp3_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Run the routing walk over every payload; one Arrow map pass."""

    def rows(doc_id, payload):
        p = probe_mp3(payload)
        yield (
            int(doc_id),
            p["n_frames"],
            p["sample_rate"],
            p["channel_mode"],
            int(p["has_crc"]),
            p["total_samples"],
            p["duration_ms"],
            p["sum_frame_bytes"],
            p["kbps_min"],
            p["kbps_max"],
            int(p["is_vbr"]),
            p["id3_title"],
        )

    return map_payload(df, MP3_PROBE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# TIFF/EXIF ROUTING probe — the image-metadata leg of the routing
# matrix (video: mm21/mm22/mm24; audio: mm23/mm26; image content:
# mm16). Camera corpora carry orientation / geometry / capture
# metadata in TIFF IFD structures (EXIF is a TIFF sub-IFD); a curation
# pass routes on these without decoding pixels. The walk below parses
# the REAL structures: endian-tagged header, IFD chains, inline-vs-
# offset value packing, the EXIF sub-IFD pointer. BigTIFF and unknown
# field types gate loudly.
# ---------------------------------------------------------------------------

_TIFF_TYPES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}  # type -> bytes/elem
_TAG_WIDTH, _TAG_HEIGHT, _TAG_BPS = 256, 257, 258
_TAG_MAKE, _TAG_STRIPOFF, _TAG_ORIENT, _TAG_STRIPCNT = 271, 273, 274, 279
_TAG_COMPRESSION, _TAG_PHOTOMETRIC = 259, 262
_TAG_SPP, _TAG_ROWSPERSTRIP = 277, 278
_TAG_TILEWIDTH = 322
_TAG_EXIF_IFD = 34665
_TAG_ISO, _TAG_DATETIME_ORIG = 34855, 36867


def encode_tiff_exif(doc_id: int, text: str) -> bytes:
    """A deterministic little-endian TIFF: IFD0 carries geometry,
    orientation (cycling all 8 values), Make, strip pointers to a tiny
    pixel payload, and an EXIF sub-IFD with ISO + DateTimeOriginal.
    Everything derives from (doc_id, len(text))."""
    import struct

    n = len(text)
    width = 1 + n % 500
    height = 1 + (n // 7) % 300
    orient = 1 + doc_id % 8
    iso = 100 * (1 + doc_id % 16)
    date = f"2026:01:{(doc_id % 28) + 1:02d} 00:00:00"  # EXIF format, 19 chars
    make = b"synthcam\x00"
    date_b = date.encode("ascii") + b"\x00"
    pixels = b"\x80" * 8  # strip payload (routing never reads it)

    def entry(tag, typ, count, value_or_off):
        return struct.pack("<HHI", tag, typ, count) + struct.pack("<I", value_or_off)

    # layout: header(8) IFD0 .. exif IFD .. data area
    n0 = 8  # IFD0 entries
    ifd0_at = 8
    exif_at = ifd0_at + 2 + 12 * n0 + 4
    n1 = 2
    data_at = exif_at + 2 + 12 * n1 + 4
    make_at = data_at
    date_at = make_at + len(make)
    pix_at = date_at + len(date_b)

    ifd0 = struct.pack("<H", n0)
    ifd0 += entry(_TAG_WIDTH, 3, 1, width)
    ifd0 += entry(_TAG_HEIGHT, 3, 1, height)
    ifd0 += entry(_TAG_BPS, 3, 1, 8)
    ifd0 += entry(_TAG_MAKE, 2, len(make), make_at)
    ifd0 += entry(_TAG_STRIPOFF, 4, 1, pix_at)
    ifd0 += entry(_TAG_ORIENT, 3, 1, orient)
    ifd0 += entry(_TAG_STRIPCNT, 4, 1, len(pixels))
    ifd0 += entry(_TAG_EXIF_IFD, 4, 1, exif_at)
    ifd0 += struct.pack("<I", 0)  # no next IFD

    exif = struct.pack("<H", n1)
    exif += entry(_TAG_ISO, 3, 1, iso)
    exif += entry(_TAG_DATETIME_ORIG, 2, len(date_b), date_at)
    exif += struct.pack("<I", 0)

    return (
        b"II" + struct.pack("<HI", 42, ifd0_at)
        + ifd0 + exif + make + date_b + pixels
    )


def _walk_tiff(payload: bytes):
    """Shared REAL TIFF structure walk: endian detect (II/MM), magic-42
    check (BigTIFF's 43 gates loudly), IFD chain with inline-vs-offset
    value resolution per field type. Returns ``(endian_char,
    first_ifd_tags, n_ifds, read_ifd)`` so both the EXIF router (mm27)
    and the strip pixel decoder (mm27b) drive one walker. Unknown field
    TYPES and truncated structures fail loudly (unknown TAGS are
    skipped — that is what real files have)."""
    import struct

    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic, ifd_at = struct.unpack(e + "HI", payload[2:8])
    if magic == 43:
        raise ValueError("BigTIFF (magic 43) unsupported")
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")

    def read_value(typ, count, raw):
        size = _TIFF_TYPES.get(typ)
        if size is None:
            raise ValueError(f"unknown TIFF field type {typ}")
        total = size * count
        if total <= 4:
            data = raw[:total]
        else:
            off = struct.unpack(e + "I", raw)[0]
            data = payload[off : off + total]
            if len(data) != total:
                raise ValueError(f"field value at {off} overruns the file")
        if typ == 2:  # ASCII, NUL-terminated
            return data.split(b"\x00", 1)[0].decode("latin-1")
        if typ == 3:
            return list(struct.unpack(e + "H" * count, data))
        if typ == 4:
            return list(struct.unpack(e + "I" * count, data))
        if typ == 5:  # RATIONAL pairs
            vals = struct.unpack(e + "I" * (2 * count), data)
            return [(vals[2 * i], vals[2 * i + 1]) for i in range(count)]
        return data  # BYTE / UNDEFINED

    def read_ifd(at, depth=0):
        if depth > 8:
            raise ValueError("IFD chain deeper than 8 (cycle?)")
        if at + 2 > len(payload):
            raise ValueError(f"IFD at {at} overruns the file")
        (count,) = struct.unpack(e + "H", payload[at : at + 2])
        tags = {}
        for i in range(count):
            ent = payload[at + 2 + 12 * i : at + 14 + 12 * i]
            if len(ent) != 12:
                raise ValueError(f"IFD entry {i} at {at} truncated")
            tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
            tags[tag] = read_value(typ, cnt, ent[8:12])
        (nxt,) = struct.unpack(
            e + "I", payload[at + 2 + 12 * count : at + 6 + 12 * count]
        )
        return tags, nxt

    n_ifds = 0
    first = None
    at = ifd_at
    while at:
        tags, at = read_ifd(at)
        if first is None:
            first = tags
        n_ifds += 1
        if n_ifds > 64:
            raise ValueError("more than 64 IFDs (corrupt next pointer?)")
    return e, first, n_ifds, read_ifd


def parse_tiff_exif(payload: bytes) -> dict:
    """REAL TIFF/EXIF routing walk (see _walk_tiff) + EXIF sub-IFD
    recursion. Returns routing metadata only — no pixel access."""
    e, first, n_ifds, read_ifd = _walk_tiff(payload)
    exif = {}
    if _TAG_EXIF_IFD in first:
        (eat,) = first[_TAG_EXIF_IFD][:1]
        exif, _ = read_ifd(eat, depth=1)

    def one(tags, tag):
        v = tags.get(tag)
        return v[0] if isinstance(v, list) and v else v

    return {
        "endian": "II" if e == "<" else "MM",
        "n_ifds": n_ifds,
        "n_ifd0_entries": len(first),
        "width": one(first, _TAG_WIDTH),
        "height": one(first, _TAG_HEIGHT),
        "orientation": one(first, _TAG_ORIENT),
        "make": first.get(_TAG_MAKE),
        "n_exif_entries": len(exif),
        "iso": one(exif, _TAG_ISO),
        "datetime_original": exif.get(_TAG_DATETIME_ORIG),
    }


TIFF_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("endian", StringType(), False),
        StructField("n_ifds", LongType(), False),
        StructField("n_ifd0_entries", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("orientation", LongType(), True),
        StructField("make", StringType(), True),
        StructField("n_exif_entries", LongType(), False),
        StructField("iso", LongType(), True),
        StructField("datetime_original", StringType(), True),
    ]
)


def with_tiff_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t: encode_tiff_exif(int(i), t),
        "image/tiff",
        cols=("doc_id", text_col),
    )


def probe_tiff_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    def rows(doc_id, payload):
        p = parse_tiff_exif(payload)
        yield (
            int(doc_id),
            p["endian"],
            p["n_ifds"],
            p["n_ifd0_entries"],
            p["width"],
            p["height"],
            p["orientation"],
            p["make"],
            p["n_exif_entries"],
            p["iso"],
            p["datetime_original"],
        )

    return map_payload(df, TIFF_PROBE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# TIFF STRIP PIXEL decode (mm27b) — the feasible dependency-free pixel
# leg of the TIFF row: TIFF 6.0 8-bit grayscale and RGB images stored
# in STRIPS (the layout scanned camera masters and scientific corpora
# actually ship), under the three dependency-free compression schemes:
# 1 (none), 8 (Adobe Deflate — zlib streams per strip), and 32773
# (PackBits — the spec's byte-RLE, rows packed separately). The
# decoder resolves the StripOffsets/StripByteCounts arrays through the
# real inline-vs-offset packing, validates every strip's DECODED size
# against its row span, and reassembles strips IN ORDER — the
# row-weighted checksum certifies assembly order (stats alone are
# strip-order-invariant). LZW/JPEG-in-TIFF compression and tiled
# layouts gate loudly. Public spec: TIFF 6.0 (Adobe, 1992), §7 + §9.
# ---------------------------------------------------------------------------

#: synthesis geometry: gray uses 50-wide rows, RGB 20-wide (60 bytes
#: per row), so both modes exercise multi-strip assembly on real docs
TIFF_GRAY_COLS, TIFF_RGB_COLS = 50, 20
#: compression cycle by doc_id % 3: none / Adobe deflate / PackBits
TIFF_COMPRESSIONS = (1, 8, 32773)


def packbits_encode(data: bytes, row_bytes: int) -> bytes:
    """TIFF PackBits (spec §9): byte RLE with control byte n — n>=0
    copies n+1 literals, n in -127..-1 repeats the next byte 1-n
    times. Each ROW is packed separately as the spec requires."""
    out = bytearray()
    for r0 in range(0, len(data), row_bytes):
        row = data[r0 : r0 + row_bytes]
        i = 0
        lit_start = 0
        while i < len(row):
            run = 1
            while i + run < len(row) and row[i + run] == row[i] and run < 128:
                run += 1
            if run >= 3:
                while lit_start < i:  # flush pending literals
                    chunk = min(128, i - lit_start)
                    out.append(chunk - 1)
                    out += row[lit_start : lit_start + chunk]
                    lit_start += chunk
                out.append(257 - run)  # (1 - run) as unsigned byte
                out.append(row[i])
                i += run
                lit_start = i
            else:
                i += run
        while lit_start < len(row):
            chunk = min(128, len(row) - lit_start)
            out.append(chunk - 1)
            out += row[lit_start : lit_start + chunk]
            lit_start += chunk
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1
            chunk = data[i : i + c + 1]
            if len(chunk) != c + 1:
                raise ValueError("PackBits literal run overruns the strip")
            out += chunk
            i += c + 1
        elif c == 128:  # no-op per spec
            continue
        else:  # repeat next byte 257-c times
            if i >= len(data):
                raise ValueError("PackBits repeat run missing its byte")
            out += bytes([data[i]]) * (257 - c)
            i += 1
    if len(out) != expected or i != len(data):
        raise ValueError(
            f"PackBits strip decoded to {len(out)} of {expected} bytes "
            f"with {len(data) - i} trailing"
        )
    return bytes(out)


def encode_tiff_pixels(doc_id: int, text: str) -> bytes | None:
    """Serialize text bytes as a REAL TIFF: one character byte per
    sample, grayscale (even doc_id, 1 sample/pixel) or RGB (odd,
    3 samples/pixel, consecutive chars = R,G,B), rows split into strips
    of ``1 + doc_id % 5`` rows (the strip count cycles 1..many so the
    offset/count arrays cross the 4-byte inline boundary both ways),
    each strip compressed with the doc_id % 3 scheme (none / deflate /
    PackBits). Docs shorter than one row return None."""
    import struct
    import zlib

    raw = text.encode("utf-8")
    rgb = bool(doc_id % 2)
    width = TIFF_RGB_COLS if rgb else TIFF_GRAY_COLS
    spp = 3 if rgb else 1
    row_bytes = width * spp
    height = len(raw) // row_bytes
    if height == 0:
        return None
    rps = 1 + doc_id % 5
    n_strips = -(-height // rps)
    pixels = raw[: height * row_bytes]
    comp = TIFF_COMPRESSIONS[doc_id % 3]

    strips = []
    for s in range(n_strips):
        lo = s * rps * row_bytes
        rows_s = min(rps, height - s * rps)
        strip = pixels[lo : lo + rows_s * row_bytes]
        if comp == 8:
            strip = zlib.compress(strip, 6)
        elif comp == 32773:
            strip = packbits_encode(strip, row_bytes)
        strips.append(strip)

    def entry(tag, typ, count, value_or_off):
        return struct.pack("<HHI", tag, typ, count) + struct.pack("<I", value_or_off)

    n0 = 9
    ifd0_at = 8
    data_at = ifd0_at + 2 + 12 * n0 + 4
    pos = data_at
    bits_at = 0
    if rgb:  # 3 SHORTs = 6 bytes > 4 -> stored in the data area
        bits_at = pos
        pos += 6
    offs_at = cnts_at = 0
    if n_strips > 1:
        offs_at = pos
        pos += 4 * n_strips
        cnts_at = pos
        pos += 4 * n_strips
    strip_offs, strip_cnts = [], []
    for strip in strips:
        strip_offs.append(pos)
        strip_cnts.append(len(strip))
        pos += len(strip)

    ifd0 = struct.pack("<H", n0)
    ifd0 += entry(_TAG_WIDTH, 3, 1, width)
    ifd0 += entry(_TAG_HEIGHT, 3, 1, height)
    if rgb:
        ifd0 += entry(_TAG_BPS, 3, 3, bits_at)
    else:
        ifd0 += entry(_TAG_BPS, 3, 1, 8)
    ifd0 += entry(_TAG_COMPRESSION, 3, 1, comp)
    ifd0 += entry(_TAG_PHOTOMETRIC, 3, 1, 2 if rgb else 1)
    if n_strips > 1:
        ifd0 += entry(_TAG_STRIPOFF, 4, n_strips, offs_at)
    else:
        ifd0 += entry(_TAG_STRIPOFF, 4, 1, strip_offs[0])
    ifd0 += entry(_TAG_SPP, 3, 1, spp)
    ifd0 += entry(_TAG_ROWSPERSTRIP, 3, 1, rps)
    if n_strips > 1:
        ifd0 += entry(_TAG_STRIPCNT, 4, n_strips, cnts_at)
    else:
        ifd0 += entry(_TAG_STRIPCNT, 4, 1, strip_cnts[0])
    ifd0 += struct.pack("<I", 0)  # no next IFD

    out = bytearray(b"II" + struct.pack("<HI", 42, ifd0_at) + ifd0)
    if rgb:
        out += struct.pack("<HHH", 8, 8, 8)
    if n_strips > 1:
        out += struct.pack(f"<{n_strips}I", *strip_offs)
        out += struct.pack(f"<{n_strips}I", *strip_cnts)
    for strip in strips:
        out += strip
    return bytes(out)


def parse_tiff_pixels(payload: bytes) -> dict:
    """REAL TIFF strip decode: shared IFD walk (_walk_tiff), 8-bit /
    strip-layout gates, per-strip decompression (none / Adobe deflate /
    PackBits) with the DECODED size validated against the row span,
    in-order strip reassembly into an (height, width*spp) matrix.
    Tiled files, LZW/JPEG compression, and non-8-bit depths gate
    loudly."""
    import zlib

    _e, first, _n, _read_ifd = _walk_tiff(payload)

    def one(tag, default=None):
        v = first.get(tag, default)
        return v[0] if isinstance(v, list) and v else v

    if _TAG_TILEWIDTH in first:
        raise NotImplementedError("tiled TIFF layout not supported (strips only)")
    comp = one(_TAG_COMPRESSION, 1)
    if comp not in TIFF_COMPRESSIONS:
        raise NotImplementedError(
            f"TIFF compression scheme {comp} not supported "
            f"(none/deflate/PackBits only)"
        )
    width, height = one(_TAG_WIDTH), one(_TAG_HEIGHT)
    if not width or height is None:
        raise ValueError("missing ImageWidth/ImageLength")
    spp = one(_TAG_SPP, 1)
    photometric = one(_TAG_PHOTOMETRIC)
    if (photometric, spp) not in ((1, 1), (2, 3)):
        raise NotImplementedError(
            f"photometric {photometric} with {spp} samples/pixel not supported"
        )
    bits = first.get(_TAG_BPS, [8])
    bits = bits if isinstance(bits, list) else [bits]
    if len(bits) != spp or any(b != 8 for b in bits):
        raise NotImplementedError(f"only 8-bit samples supported (got {bits})")
    offs = first.get(_TAG_STRIPOFF)
    cnts = first.get(_TAG_STRIPCNT)
    if offs is None or cnts is None:
        raise ValueError("missing StripOffsets/StripByteCounts")
    rps = one(_TAG_ROWSPERSTRIP, height) or height
    n_strips = -(-height // rps) if height else 0
    if len(offs) != n_strips or len(cnts) != n_strips:
        raise ValueError(
            f"strip arrays have {len(offs)}/{len(cnts)} entries, "
            f"geometry implies {n_strips}"
        )
    row_bytes = width * spp
    parts = []
    for s in range(n_strips):
        rows_s = min(rps, height - s * rps)
        expected = rows_s * row_bytes
        if comp == 1 and cnts[s] != expected:
            raise ValueError(
                f"strip {s} declares {cnts[s]} bytes, its {rows_s} rows "
                f"need {expected}"
            )
        data = payload[offs[s] : offs[s] + cnts[s]]
        if len(data) != cnts[s]:
            raise ValueError(f"strip {s} at {offs[s]} overruns the file")
        if comp == 8:
            data = zlib.decompress(data)
            if len(data) != expected:
                raise ValueError(
                    f"deflate strip {s} decoded to {len(data)} of "
                    f"{expected} bytes"
                )
        elif comp == 32773:
            data = packbits_decode(data, expected)
        parts.append(data)
    px = np.frombuffer(b"".join(parts), dtype=np.uint8).reshape(height, row_bytes)
    return {
        "mode": "rgb" if spp == 3 else "gray",
        "width": int(width),
        "height": int(height),
        "spp": int(spp),
        "compression": {1: "none", 8: "deflate", 32773: "packbits"}[comp],
        "n_strips": n_strips,
        "rows_per_strip": int(rps),
        "samples": px,
    }


TIFF_PIXEL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("mode", StringType(), False),
        StructField("compression", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("n_strips", LongType(), False),
        StructField("rows_per_strip", LongType(), False),
        StructField("n_pixels", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("mean_value", DoubleType(), True),
        StructField("max_byte", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("row_weighted_sum", LongType(), True),
        StructField("sum_c0", LongType(), True),
        StructField("sum_c1", LongType(), True),
        StructField("sum_c2", LongType(), True),
    ]
)


def with_tiff_pixel_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t: encode_tiff_pixels(int(i), t),
        "image/tiff",
        cols=("doc_id", text_col),
        nullable=True,
    )


def decode_tiff_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each strip TIFF through the real offset/count/assembly
    path and emit exact stats, the row-ORDER-sensitive checksum that
    certifies strip assembly, and per-channel sums (RGB). NULL payloads
    (docs shorter than one row) yield the 0-geometry row with NULL
    stats. Map-only Arrow pipeline."""

    def rows(doc_id, payload):
        i = int(doc_id)
        rgb = bool(i % 2)
        if payload is None:
            yield (
                i,
                "rgb" if rgb else "gray",
                {1: "none", 8: "deflate", 32773: "packbits"}[
                    TIFF_COMPRESSIONS[i % 3]
                ],
                TIFF_RGB_COLS if rgb else TIFF_GRAY_COLS,
                0, 0, 1 + i % 5, 0, 0,
                None, None, None, None, None, None, None,
            )
            return
        v = parse_tiff_pixels(payload)
        px = v["samples"].astype(np.int64)
        h, spp = v["height"], v["spp"]
        weights = 1 + np.arange(h, dtype=np.int64)
        chan = px.reshape(h, v["width"], spp).sum(axis=(0, 1))
        yield (
            i,
            v["mode"],
            v["compression"],
            v["width"],
            h,
            v["n_strips"],
            v["rows_per_strip"],
            h * v["width"],
            h * v["width"] * spp,
            float(px.sum()) / px.size,
            int(px.max()),
            int(px.min()),
            int((px.sum(axis=1) * weights).sum()),
            int(chan[0]),
            int(chan[1]) if spp == 3 else None,
            int(chan[2]) if spp == 3 else None,
        )

    return map_payload(df, TIFF_PIXEL_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# WebP ROUTING probe — the #1 modern web image format after JPEG, with
# THREE genuinely different header forms inside one RIFF container
# (form 'WEBP', framed by riff/riff_chunks above):
# 'VP8 ' (lossy: frame tag + 0x9D012A start code + 14-bit geometry),
# 'VP8L' (lossless: 0x2F + LSB-packed 14-bit fields + alpha bit), and
# 'VP8X' (extended: feature flags + 24-bit canvas). A curation pass
# routes/filters on geometry and alpha without touching entropy-coded
# pixels — same contract as mm16/mm21/mm26/mm27.
# ---------------------------------------------------------------------------


def encode_webp(doc_id: int, text: str) -> bytes:
    """A deterministic WebP: form cycles lossy/lossless/extended by
    doc_id % 3; geometry derives from len(text). Pixel payloads are
    deterministic filler — the prober reads headers only."""
    import struct

    n = len(text)
    width = 1 + n % 4000
    height = 1 + (n // 11) % 2000
    form = doc_id % 3
    fill = (text.encode("utf-8") or b"p") * 2
    if form == 0:  # VP8 lossy key frame
        # frame tag: keyframe(0) | version<<1 | show<<4 | partsize<<5
        part_size = 1 + n % 512
        tag = (part_size << 5) | (1 << 4) | 0
        body = struct.pack("<I", tag)[:3] + b"\x9d\x01\x2a"
        body += struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        body += fill[: 1 + n % 40]
        chunks = [(b"VP8 ", body)]
    elif form == 1:  # VP8L lossless
        has_alpha = doc_id % 2
        bits = (width - 1) | ((height - 1) << 14) | (has_alpha << 28)  # +3-bit ver 0
        body = b"\x2f" + struct.pack("<I", bits)
        body += fill[: 1 + n % 40]
        chunks = [(b"VP8L", body)]
    else:  # VP8X extended: flags + canvas, then an inner VP8 chunk
        flags = 0
        if doc_id % 2:
            flags |= 0x10  # alpha
        if doc_id % 4 == 3:
            flags |= 0x08  # EXIF metadata present
        body = bytes([flags, 0, 0, 0])
        body += struct.pack("<I", width - 1)[:3] + struct.pack("<I", height - 1)[:3]
        inner_tag = ((1 + n % 512) << 5) | (1 << 4)
        inner = struct.pack("<I", inner_tag)[:3] + b"\x9d\x01\x2a"
        inner += struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        chunks = [(b"VP8X", body), (b"VP8 ", inner + fill[: 1 + n % 16])]
        if doc_id % 4 == 3:
            chunks.append((b"EXIF", encode_tiff_exif(doc_id, text)))
    return riff(b"WEBP", chunks)


def parse_webp(payload: bytes) -> dict:
    """REAL WebP routing walk: RIFF framing (``riff_chunks``: sizes +
    odd-size padding), then per-form header parse — VP8 frame tag +
    start-code + geometry, VP8L LSB-packed fields + version check,
    VP8X flags + 24-bit canvas cross-checked against the inner VP8
    geometry when both carry one. Unknown forms and framing lies fail
    loudly; entropy decode is out of scope by design."""
    chunks = riff_chunks(payload, b"WEBP")
    if not chunks:
        raise ValueError("WebP holds no chunk")
    kinds = [c[0] for c in chunks]
    width = height = None
    has_alpha = False
    if kinds[0] == b"VP8X":
        body = chunks[0][1]
        if len(body) != 10:
            raise ValueError(f"VP8X chunk must be 10 bytes, got {len(body)}")
        flags = body[0]
        if flags & 0x02:
            raise ValueError("animated WebP unsupported (routing subset)")
        has_alpha = bool(flags & 0x10)
        width = int.from_bytes(body[4:7], "little") + 1
        height = int.from_bytes(body[7:10], "little") + 1
        form = "extended"
        inner = next((b for f, b in chunks if f == b"VP8 "), None)
        if inner is not None:
            iw, ih = _parse_vp8_geometry(inner)
            if (iw, ih) != (width, height):
                raise ValueError(
                    f"VP8X canvas {width}x{height} disagrees with the inner "
                    f"VP8 frame {iw}x{ih}"
                )
    elif kinds[0] == b"VP8 ":
        form = "lossy"
        width, height = _parse_vp8_geometry(chunks[0][1])
    elif kinds[0] == b"VP8L":
        form = "lossless"
        body = chunks[0][1]
        if body[:1] != b"\x2f":
            raise ValueError("VP8L missing 0x2F signature byte")
        bits = int.from_bytes(body[1:5], "little")
        width = (bits & 0x3FFF) + 1
        height = ((bits >> 14) & 0x3FFF) + 1
        has_alpha = bool((bits >> 28) & 1)
        version = (bits >> 29) & 0x7
        if version != 0:
            raise ValueError(f"VP8L version {version} reserved (must be 0)")
    else:
        raise ValueError(f"first chunk {kinds[0]!r} is not a WebP image form")
    return {
        "form": form,
        "width": width,
        "height": height,
        "has_alpha": has_alpha,
        "n_chunks": len(chunks),
        "has_exif": b"EXIF" in kinds,
    }


def _parse_vp8_geometry(body: bytes) -> tuple[int, int]:
    if len(body) < 10:
        raise ValueError("VP8 chunk too short for a frame header")
    tag = int.from_bytes(body[:3], "little")
    if tag & 1:
        raise ValueError("VP8 interframe cannot start a WebP (keyframe bit set)")
    if body[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8 keyframe missing the 9D 01 2A start code")
    w = int.from_bytes(body[6:8], "little") & 0x3FFF
    h = int.from_bytes(body[8:10], "little") & 0x3FFF
    return w, h


WEBP_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("form", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("has_alpha", LongType(), False),
        StructField("n_chunks", LongType(), False),
        StructField("has_exif", LongType(), False),
    ]
)


def with_webp_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df, lambda i, t: encode_webp(int(i), t), "image/webp", cols=("doc_id", text_col)
    )


def probe_webp_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    def rows(doc_id, payload):
        p = parse_webp(payload)
        yield (
            int(doc_id),
            p["form"],
            p["width"],
            p["height"],
            int(p["has_alpha"]),
            p["n_chunks"],
            int(p["has_exif"]),
        )

    return map_payload(df, WEBP_PROBE_SCHEMA, rows, id_col)


# ---------------------------------------------------------------------------
# WebM/Matroska ROUTING probe — the #2 video container after MP4, with
# a genuinely different grammar: EBML, where element IDs AND sizes are
# variable-length integers (VINTs) and structure is nested master
# elements. The probe parses the EBML header (DocType/version gates),
# Segment Info (timestamp scale, duration), TrackEntry metadata
# (codecs, geometry, audio params) and counts Clusters/SimpleBlocks —
# the routing layer; block payload decode is out of scope like
# avc1/hvc1.
# ---------------------------------------------------------------------------

_EBML_IDS = {
    "EBML": b"\x1a\x45\xdf\xa3", "DocType": b"\x42\x82",
    "DocTypeVersion": b"\x42\x87", "DocTypeReadVersion": b"\x42\x85",
    "EBMLVersion": b"\x42\x86", "EBMLReadVersion": b"\x42\xf7",
    "Segment": b"\x18\x53\x80\x67", "Info": b"\x15\x49\xa9\x66",
    "TimestampScale": b"\x2a\xd7\xb1", "Duration": b"\x44\x89",
    "MuxingApp": b"\x4d\x80", "WritingApp": b"\x57\x41",
    "Tracks": b"\x16\x54\xae\x6b", "TrackEntry": b"\xae",
    "TrackNumber": b"\xd7", "TrackUID": b"\x73\xc5",
    "TrackType": b"\x83", "CodecID": b"\x86",
    "Video": b"\xe0", "PixelWidth": b"\xb0", "PixelHeight": b"\xba",
    "Audio": b"\xe1", "SamplingFrequency": b"\xb5", "Channels": b"\x9f",
    "Cluster": b"\x1f\x43\xb6\x75", "Timestamp": b"\xe7",
    "SimpleBlock": b"\xa3",
}

_WEBM_VIDEO_CODECS = ("V_VP8", "V_VP9", "V_AV1")
_WEBM_AUDIO_CODECS = ("A_OPUS", "A_VORBIS")


def _vint_size(n: int) -> bytes:
    """Encode n as an EBML size VINT (minimal length)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:  # all-ones is 'unknown size'
            marker = 1 << (7 * length)
            return (marker | n).to_bytes(length, "big")
    raise ValueError(f"size {n} exceeds 8-byte VINT")


def _ebml_el(name: str, payload: bytes) -> bytes:
    return _EBML_IDS[name] + _vint_size(len(payload)) + payload


def _ebml_uint(n: int) -> bytes:
    if n == 0:
        return b"\x00"
    return n.to_bytes((n.bit_length() + 7) // 8, "big")


def encode_webm(doc_id: int, text: str) -> bytes:
    """A deterministic WebM: EBML header, Segment with Info (scale
    1_000_000 ns, duration len(text)*40 ms), one video + one audio
    TrackEntry (codecs cycle by doc_id), and ``1 + len//100`` Clusters
    of 2 SimpleBlocks each. Block payloads are filler; the prober reads
    structure only."""
    import struct

    n = len(text)
    width, height = 16 * (1 + n % 120), 16 * (1 + (n // 5) % 68)
    duration_ms = n * 40
    vcodec = _WEBM_VIDEO_CODECS[doc_id % 3]
    acodec = _WEBM_AUDIO_CODECS[doc_id % 2]
    header = _ebml_el(
        "EBML",
        _ebml_el("EBMLVersion", b"\x01")
        + _ebml_el("EBMLReadVersion", b"\x01")
        + _ebml_el("DocType", b"webm")
        + _ebml_el("DocTypeVersion", b"\x04")
        + _ebml_el("DocTypeReadVersion", b"\x02"),
    )
    info = _ebml_el(
        "Info",
        _ebml_el("TimestampScale", _ebml_uint(1_000_000))
        + _ebml_el("Duration", struct.pack(">d", float(duration_ms)))
        + _ebml_el("MuxingApp", b"pipeline_mf_etl_spark")
        + _ebml_el("WritingApp", b"synth"),
    )
    video_track = _ebml_el(
        "TrackEntry",
        _ebml_el("TrackNumber", b"\x01")
        + _ebml_el("TrackUID", _ebml_uint(doc_id + 1))
        + _ebml_el("TrackType", b"\x01")
        + _ebml_el("CodecID", vcodec.encode("ascii"))
        + _ebml_el(
            "Video",
            _ebml_el("PixelWidth", _ebml_uint(width))
            + _ebml_el("PixelHeight", _ebml_uint(height)),
        ),
    )
    audio_track = _ebml_el(
        "TrackEntry",
        _ebml_el("TrackNumber", b"\x02")
        + _ebml_el("TrackUID", _ebml_uint(doc_id + 1000))
        + _ebml_el("TrackType", b"\x02")
        + _ebml_el("CodecID", acodec.encode("ascii"))
        + _ebml_el(
            "Audio",
            _ebml_el("SamplingFrequency", struct.pack(">d", 48000.0))
            + _ebml_el("Channels", b"\x02"),
        ),
    )
    tracks = _ebml_el("Tracks", video_track + audio_track)
    fill = (text.encode("utf-8") or b"b")
    clusters = b""
    n_clusters = 1 + n // 100
    for c in range(n_clusters):
        blocks = b""
        for b in range(2):
            # SimpleBlock: track VINT + 2-byte timecode + flags + data
            body = b"\x81" + struct.pack(">h", 10 * b) + b"\x80"
            body += fill[: 1 + (c + b) % 16]
            blocks += _ebml_el("SimpleBlock", body)
        clusters += _ebml_el(
            "Cluster",
            _ebml_el("Timestamp", _ebml_uint(40 * c)) + blocks,
        )
    segment = _ebml_el("Segment", info + tracks + clusters)
    return header + segment


def _read_vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one VINT at pos; returns (value, new_pos). ``keep_marker``
    True for element IDs (the marker bit is part of the ID), False for
    sizes (marker stripped). All-ones size = 'unknown' -> -1."""
    if pos >= len(data):
        raise ValueError("EBML VINT at end of data")
    first = data[pos]
    if first == 0:
        raise ValueError(f"invalid VINT lead byte 0x00 at {pos}")
    length = 9 - first.bit_length()
    if pos + length > len(data):
        raise ValueError(f"truncated VINT at {pos}")
    raw = int.from_bytes(data[pos : pos + length], "big")
    if keep_marker:
        return raw, pos + length
    value = raw - (1 << (7 * length))
    if value == (1 << (7 * length)) - 1:
        return -1, pos + length  # unknown size
    return value, pos + length


def parse_webm(payload: bytes) -> dict:
    """REAL EBML walk: VINT IDs/sizes, nested master elements, the
    EBML header gates (DocType must be webm/matroska, read versions
    bounded), Info/Tracks metadata extraction, Cluster/SimpleBlock
    counting. Unknown-size elements and truncation fail loudly."""
    import struct

    def walk(data: bytes, pos: int, end: int):
        while pos < end:
            id_raw, pos = _read_vint(data, pos, keep_marker=True)
            id_len = (id_raw.bit_length() + 7) // 8
            id_bytes = id_raw.to_bytes(id_len, "big")
            size, pos = _read_vint(data, pos, keep_marker=False)
            if size < 0:
                raise ValueError(
                    f"unknown-size element {id_bytes.hex()} unsupported "
                    "(streaming-muxed file)"
                )
            if pos + size > end:
                raise ValueError(
                    f"element {id_bytes.hex()} at {pos} overruns its parent"
                )
            yield id_bytes, data[pos : pos + size]
            pos += size

    top = list(walk(payload, 0, len(payload)))
    if not top or top[0][0] != _EBML_IDS["EBML"]:
        raise ValueError("not an EBML stream (missing EBML header)")
    header = dict(walk(top[0][1], 0, len(top[0][1])))
    doc_type = header.get(_EBML_IDS["DocType"], b"").decode("latin-1")
    if doc_type not in ("webm", "matroska"):
        raise ValueError(f"unsupported EBML DocType {doc_type!r}")
    read_ver = int.from_bytes(header.get(_EBML_IDS["DocTypeReadVersion"], b"\x01"), "big")
    if read_ver > 4:
        raise ValueError(f"DocTypeReadVersion {read_ver} beyond this reader")
    segment = next((b for i, b in top if i == _EBML_IDS["Segment"]), None)
    if segment is None:
        raise ValueError("EBML stream has no Segment")

    scale = 1_000_000
    duration_raw = None
    tracks: list[dict] = []
    n_clusters = n_blocks = 0
    for el_id, body in walk(segment, 0, len(segment)):
        if el_id == _EBML_IDS["Info"]:
            for i2, b2 in walk(body, 0, len(body)):
                if i2 == _EBML_IDS["TimestampScale"]:
                    scale = int.from_bytes(b2, "big")
                elif i2 == _EBML_IDS["Duration"]:
                    if len(b2) == 8:
                        duration_raw = struct.unpack(">d", b2)[0]
                    elif len(b2) == 4:
                        duration_raw = struct.unpack(">f", b2)[0]
                    else:
                        raise ValueError(f"Duration float of {len(b2)} bytes")
        elif el_id == _EBML_IDS["Tracks"]:
            for i2, b2 in walk(body, 0, len(body)):
                if i2 != _EBML_IDS["TrackEntry"]:
                    continue
                t: dict = {}
                for i3, b3 in walk(b2, 0, len(b2)):
                    if i3 == _EBML_IDS["TrackType"]:
                        t["type"] = int.from_bytes(b3, "big")
                    elif i3 == _EBML_IDS["CodecID"]:
                        t["codec"] = b3.decode("latin-1")
                    elif i3 == _EBML_IDS["Video"]:
                        for i4, b4 in walk(b3, 0, len(b3)):
                            if i4 == _EBML_IDS["PixelWidth"]:
                                t["width"] = int.from_bytes(b4, "big")
                            elif i4 == _EBML_IDS["PixelHeight"]:
                                t["height"] = int.from_bytes(b4, "big")
                    elif i3 == _EBML_IDS["Audio"]:
                        for i4, b4 in walk(b3, 0, len(b3)):
                            if i4 == _EBML_IDS["SamplingFrequency"]:
                                t["sampling_hz"] = struct.unpack(">d", b4)[0]
                            elif i4 == _EBML_IDS["Channels"]:
                                t["channels"] = int.from_bytes(b4, "big")
                tracks.append(t)
        elif el_id == _EBML_IDS["Cluster"]:
            n_clusters += 1
            for i2, _b2 in walk(body, 0, len(body)):
                if i2 == _EBML_IDS["SimpleBlock"]:
                    n_blocks += 1
    video = next((t for t in tracks if t.get("type") == 1), {})
    audio = next((t for t in tracks if t.get("type") == 2), {})
    duration_ms = (
        int(round(duration_raw * scale / 1_000_000))
        if duration_raw is not None
        else None
    )
    return {
        "doc_type": doc_type,
        "timestamp_scale": scale,
        "duration_ms": duration_ms,
        "n_tracks": len(tracks),
        "video_codec": video.get("codec"),
        "audio_codec": audio.get("codec"),
        "width": video.get("width"),
        "height": video.get("height"),
        "sampling_hz": audio.get("sampling_hz"),
        "channels": audio.get("channels"),
        "n_clusters": n_clusters,
        "n_blocks": n_blocks,
    }


WEBM_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("doc_type", StringType(), False),
        StructField("duration_ms", LongType(), True),
        StructField("n_tracks", LongType(), False),
        StructField("video_codec", StringType(), True),
        StructField("audio_codec", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("n_clusters", LongType(), False),
        StructField("n_blocks", LongType(), False),
    ]
)


def with_webm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df, lambda i, t: encode_webm(int(i), t), "video/webm", cols=("doc_id", text_col)
    )


def probe_webm_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    def rows(doc_id, payload):
        p = parse_webm(payload)
        yield (
            int(doc_id),
            p["doc_type"],
            p["duration_ms"],
            p["n_tracks"],
            p["video_codec"],
            p["audio_codec"],
            p["width"],
            p["height"],
            p["channels"],
            p["n_clusters"],
            p["n_blocks"],
        )

    return map_payload(df, WEBM_PROBE_SCHEMA, rows, id_col)
