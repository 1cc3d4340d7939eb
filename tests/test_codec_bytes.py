"""Byte-level contracts shared by the in-house codecs.

``test_encoder_output_is_pinned`` fixes the sha256 of every encoder's
output on small deterministic inputs, so a change to the bit writers
(or anything else on an encode path) that alters a single output bit
fails here instead of only in a round trip. ``test_corrupt_input_raises
_value_error`` pins the decoders' failure contract: malformed input
raises ``ValueError``, never an ``IndexError`` from an unchecked index.
``test_container_framing_has_one_home`` keeps the RIFF, JPEG-segment and
length-prefixed NAL framings at one reader and one writer each.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

import numpy as np
import pytest

from pipeline_mf_etl_spark.operators import flac, multimodal as mm, vp8l
from pipeline_mf_etl_spark.sources import bzip2, zstdframe

_TEXT = (
    "The quick brown fox jumps over the lazy dog. "
    "Pack my box with five dozen liquor jugs! 0123456789 "
) * 6


def _pcm(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    wave = 6000 * np.sin(t / 7.0) + 2500 * np.sin(t / 2.3)
    return (wave + rng.normal(0, 300, n)).astype(np.int16)


def _gray(width: int, height: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:height, 0:width]
    img = 4 * xx + 2 * yy + rng.integers(0, 24, (height, width))
    return np.clip(img, 0, 255).astype(np.uint8).tobytes()


def _h264_nals(n: int) -> list[list[bytes]]:
    out = []
    for i in range(n):
        hdr = 0x65 if i % 8 == 0 else 0x41
        out.append(
            [bytes([hdr]) + mm._h264_escape(mm._H264_SLICE_MARKER + bytes([40 + i] * 32))]
        )
    return out


def _hevc_nals(n: int) -> list[list[bytes]]:
    out = []
    for i in range(n):
        t = mm.HEVC_NAL_IDR_W_RADL if i % 8 == 0 else mm.HEVC_NAL_TRAIL_R
        out.append(
            [mm._hevc_nal(t, mm._h264_escape(mm._H264_SLICE_MARKER + bytes([60 + i] * 32)))]
        )
    return out


_ENCODERS = {
    "flac_mono": lambda: flac.encode_flac(_pcm(1500, 1), block_size=256),
    "flac_stereo": lambda: flac.encode_flac(
        np.stack([_pcm(1200, 2), _pcm(1200, 3)]), block_size=192
    ),
    "webp_lossless": lambda: b"".join(
        vp8l.encode_webp_lossless(i, _TEXT[: 80 + 37 * i]) or b"" for i in range(8)
    ),
    "bzip2_multistream": lambda: bzip2.encode_bzip2_multistream(
        [_TEXT.encode(), (_TEXT[::-1] * 3).encode(), b"\x00" * 700],
        level=3,
        block_bytes=512,
    )[0],
    "zstd_frame": lambda: zstdframe.encode_zstd_frame(
        (_TEXT * 5).encode() + b"z" * 3000 + bytes(range(256)) * 3
    ),
    "jpeg_gray": lambda: mm.encode_jpeg_gray(_gray(40, 24, 4), 40, 24),
    "jpeg_gray_restart": lambda: mm.encode_jpeg_gray(
        _gray(40, 24, 5), 40, 24, restart_interval=3
    ),
    "jpeg_progressive_gray": lambda: mm.encode_jpeg_progressive_gray(
        _gray(48, 32, 6), 48, 32
    ),
    "jpeg_ycbcr420": lambda: mm.encode_jpeg_ycbcr420(
        _gray(32, 32, 7), _gray(16, 16, 8), _gray(16, 16, 9), 32, 32,
        restart_interval=2,
    ),
    "h264_annexb": lambda: mm.encode_h264_annexb(
        [bytes([30 + i] * 32) for i in range(10)], 77, 40, 5, 3, 1, 1
    ),
    "mp4_avc1": lambda: mm.encode_mp4_avc1(
        _h264_nals(10),
        dict(profile_idc=66, level_idc=30, width_mbs=7, height_mbs=4,
             crop_right=1, crop_bottom=0),
        [1, 9],
    ),
    "hevc_sps": lambda: mm.encode_hevc_sps(2, 1, 120, 80, 48, 1, 1),
    "mp4_hevc": lambda: mm.encode_mp4_hevc(
        _hevc_nals(11),
        dict(profile_idc=1, tier=0, level_idc=93, pic_width=64, pic_height=64),
        [1, 9],
    ),
    "wav_pcm16": lambda: mm.encode_wav_pcm16(_pcm(999, 10), sample_rate=11025),
    "wav_adpcm_mono": lambda: mm.encode_wav_adpcm(_pcm(500, 11)),
    "wav_adpcm_stereo": lambda: mm.encode_wav_adpcm(
        np.stack([_pcm(400, 12), _pcm(400, 13)]), sample_rate=16000
    ),
    "wav_adpcm_codes": lambda: mm.encode_wav_adpcm_codes(
        [(-300, 5), (1200, 40), (0, 0), (32767, 88)],
        [(7 * i) % 16 for i in range(32)],
        channels=2,
    ),
    # encode_webp's form is doc_id % 3 (lossy, lossless, extended); the
    # extended form carries an EXIF chunk when doc_id % 4 == 3
    "webp_lossy": lambda: mm.encode_webp(0, _TEXT[:124]),
    "webp_lossless_header": lambda: mm.encode_webp(1, _TEXT[:89]),
    "webp_extended": lambda: mm.encode_webp(2, _TEXT[:201]),
    "webp_extended_exif": lambda: mm.encode_webp(11, _TEXT[:77]),
}

# sha256 of each encoder's output. The wav_* pins and the four
# encode_webp pins were recorded before the RIFF writers were merged
# into multimodal.riff; the others before the codecs' private bit
# writers were merged into pipeline_mf_etl_spark/bitio.py.
_GOLDEN = {
    "bzip2_multistream": "f3a29986ce0371379ae4d67eed23a594ec68eb1132ba987147dc44ee0ec6b1d9",
    "flac_mono": "137df14ac1b8b612d160a8b07bb32726f5793f5bf35071380e0d4d5e44118bb9",
    "flac_stereo": "fb4e983fc12ee32e4703428d3a6d420a3f81102d57a3a2dd925ef69551eb4cf9",
    "h264_annexb": "fac9613575036aaaeabc87e667a75db04f93b3d44a8200bfcad5847f272890ab",
    "hevc_sps": "22ae2e17a534a831ec090094d307b0fb70138cf074166d2af449ebb330d59048",
    "jpeg_gray": "d35ef0f1dd505932725ece1f73cde9133fad5e660d44cb02f09c42988056ff60",
    "jpeg_gray_restart": "2e237238fd32edcba04c8dcb38cb1ee5363ab1c5029ce1b38fd9bbfb0faea671",
    "jpeg_progressive_gray": "f1dccc649b6c3f8954c01f2e8198c8cf48b0109caaa68b2849e76243bd202f61",
    "jpeg_ycbcr420": "752ef918dfa02f7a8b897a6da0cf11e0cba289644068e11102b6cb092fa78036",
    "mp4_avc1": "45bdadef0ef0118a519584997b9633067c38a48e9488b8f07c91a07c41ed0fe3",
    "mp4_hevc": "c0de836425dc5abcf0770bf70cb72ae17a73e808cfec62cb4a3aa5a4b3faf3a7",
    "wav_adpcm_codes": "7078fb2d136e14e45f464f4964dc5f04f45e3bfc4c1088029fec7ee5334527ae",
    "wav_adpcm_mono": "51287f3149af25ce3edba150815829bd72df1d9df35daff21ec7f503ff365cd8",
    "wav_adpcm_stereo": "5d8ec8ba29649f4f27fbf387cfbab398d4b2670977aacd6dee2e62a7f701cf0d",
    "wav_pcm16": "b4aa4af34da3a14facc089b2f385e95187397fe01c486e1390ab1aa09923f92f",
    "webp_extended": "d88e28c67e7c54d4dd1fafff297c514176c4aa59d81cf816790c1cc1c8cba78e",
    "webp_extended_exif": "af6f3c95967c6e46f92ff05811bdaecd725618b572684173fc33eb313f31ed9e",
    "webp_lossless": "512a4a18f1d4554f5f2f5aed305d22aecfca24cd22b620c7a3fb8a14728ff0e6",
    "webp_lossless_header": "ca5c93a75221b45d2319d2b52f434a9f352710525c0664f1c352eb61f0b332c2",
    "webp_lossy": "5be6958ac368dafd9ea000a551a81474abab5df677b27a959942b807f974833a",
    "zstd_frame": "36407fd0f23b0b1c369383f963641b0a2bbc7b7e18a7d0d5de45b576d56a375b",
}


@pytest.mark.parametrize("name", sorted(_ENCODERS))
def test_encoder_output_is_pinned(name):
    assert hashlib.sha256(_ENCODERS[name]()).hexdigest() == _GOLDEN[name]


def _jpeg_dht_overrun() -> bytes:
    """A baseline JPEG whose AC table declares one more code than the
    DHT segment carries values for."""
    blob = bytearray(mm.encode_jpeg_gray(bytes(range(64)) * 2, 16, 8))
    seg = blob.index(b"\xff\xc4") + 4
    assert blob[seg + 29] == 0x10  # the AC table follows the 29-byte DC one
    blob[seg + 30 + 15] += 1  # one more 16-bit code
    return bytes(blob)


def _jpeg_dht_repeated_symbol() -> bytes:
    """A baseline JPEG whose DC table lists DC category 0 twice (in place
    of category 1), so two codes would decode to one symbol."""
    blob = bytearray(mm.encode_jpeg_gray(bytes(range(64)) * 2, 16, 8))
    seg = blob.index(b"\xff\xc4") + 4
    assert blob[seg + 17 : seg + 19] == b"\x00\x01"  # DC values 0, 1, ...
    blob[seg + 18] = 0
    return bytes(blob)


def _decode_zstd_block(body: bytes) -> dict:
    """Decode a single-segment zstd frame holding one last compressed
    block with ``body`` as its content."""
    header = 1 | (2 << 1) | (len(body) << 3)
    return zstdframe.decode_zstd_stream(
        (0xFD2FB528).to_bytes(4, "little") + bytes([0x20, 10])
        + header.to_bytes(3, "little") + body
    )


def _adpcm_riff_size_off_by_two() -> bytes:
    """An IMA-ADPCM WAV whose RIFF size field claims two bytes more than
    the file holds."""
    blob = bytearray(mm.encode_wav_adpcm(_pcm(90, 14)))
    blob[4:8] = (len(blob) - 8 + 2).to_bytes(4, "little")
    return bytes(blob)


def _webp_lossless_trailing_partial_chunk() -> bytes:
    """A lossless WebP followed by a JUNK chunk that declares 16 bytes but
    carries 2; the RIFF size covers the bytes present, so only the chunk
    itself is cut short."""
    blob = vp8l.encode_webp_lossless(3, _TEXT[:150]) + b"JUNK" + (16).to_bytes(4, "little") + b"ab"
    return b"RIFF" + (len(blob) - 8).to_bytes(4, "little") + blob[8:]


_CORRUPT = {
    "bzip2_header_without_level": lambda: bzip2.decode_bzip2_stream(b"BZh"),
    "zstd_magic_without_header": lambda: zstdframe.decode_zstd_stream(
        (0xFD2FB528).to_bytes(4, "little")
    ),
    # compressed blocks cut inside the literals / sequences headers
    "zstd_block_empty": lambda: _decode_zstd_block(b""),
    "zstd_block_literals_header_cut": lambda: _decode_zstd_block(b"\x04"),
    "zstd_block_no_sequences_header": lambda: _decode_zstd_block(b"\x00"),
    "zstd_block_rle_sequence_symbol_cut": lambda: _decode_zstd_block(b"\x00\x01\x40"),
    "jpeg_dht_counts_exceed_values": lambda: mm.parse_jpeg(_jpeg_dht_overrun()),
    "jpeg_dht_repeated_symbol": lambda: mm.parse_jpeg(_jpeg_dht_repeated_symbol()),
    "bzip2_oversubscribed_huffman_lengths": lambda: bzip2._huff_decode_table(
        [1, 1, 1]
    ),
    "wav_trailing_bytes": lambda: mm.parse_wav(
        mm.encode_wav_pcm16(_pcm(64, 15)) + b"\x00\x00\x00"
    ),
    "wav_adpcm_riff_size_altered": lambda: mm.parse_wav_adpcm(
        _adpcm_riff_size_off_by_two()
    ),
    "webp_lossless_trailing_partial_chunk": lambda: vp8l.parse_webp_lossless(
        _webp_lossless_trailing_partial_chunk()
    ),
    "wav_short_fmt_chunk": lambda: mm.parse_wav(
        mm.riff(b"WAVE", [(b"fmt ", b"\x01\x00"), (b"data", b"")])
    ),
    "wav_adpcm_short_fact_chunk": lambda: mm.parse_wav_adpcm(
        mm.riff(b"WAVE", [(b"fmt ", bytes(20)), (b"fact", b"\x01"), (b"data", b"")])
    ),
    "webp_without_chunks": lambda: mm.parse_webp(mm.riff(b"WEBP", [])),
    # an MP4 sample holding one zero-length NAL (no header byte to classify)
    "nal_sample_empty_nal": lambda: mm._sample_nals(bytes(4), 0, 4, 1, lambda b: b),
}


@pytest.mark.parametrize("name", sorted(_CORRUPT))
def test_corrupt_input_raises_value_error(name):
    with pytest.raises(ValueError):
        _CORRUPT[name]()


def _is_le32_length(node: ast.AST) -> bool:
    """``struct.pack("<I", len(x))``, ``len(x).to_bytes(4, "little")`` or
    ``_le32(len(x))``: a little-endian 32-bit length field."""
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    if isinstance(func, ast.Attribute) and func.attr == "to_bytes":
        return (
            isinstance(func.value, ast.Call)
            and getattr(func.value.func, "id", None) == "len"
            and [getattr(a, "value", None) for a in node.args] == [4, "little"]
        )
    name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
    has_len = any(
        isinstance(a, ast.Call) and getattr(a.func, "id", None) == "len" for a in node.args
    )
    if name == "pack":
        return has_len and getattr(node.args[0], "value", None) == "<I"
    return name == "_le32" and has_len


def _is_chunk_header(node: ast.AST) -> bool:
    """A four-character code followed by a little-endian 32-bit length:
    ``tag + <le32 len>`` with ``tag`` a 4-byte literal or a name, or one
    ``struct.pack`` whose little-endian format holds ``4sI``."""
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        tag = node.left
        is_tag = isinstance(tag, (ast.Name, ast.Attribute)) or (
            isinstance(tag, ast.Constant) and isinstance(tag.value, bytes) and len(tag.value) == 4
        )
        return is_tag and _is_le32_length(node.right)
    if isinstance(node, ast.Call) and node.args:
        fmt = getattr(node.args[0], "value", None)
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        return name == "pack" and isinstance(fmt, str) and fmt.startswith("<") and "4sI" in fmt
    return False


def _engine_nodes():
    """(module path, qualified name of the innermost enclosing function,
    node) for every AST node of the engine package."""
    import pipeline_mf_etl_spark

    root = Path(pipeline_mf_etl_spark.__file__).parent

    def visit(node, rel, qual):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, rel, f"{qual}.{child.name}" if qual else child.name)
                continue
            yield rel, qual, child
            yield from visit(child, rel, qual)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        yield from visit(ast.parse(path.read_text(), filename=str(path)), rel, "")


def test_container_framing_has_one_home():
    """Drift guard: RIFF is read by ``riff_chunks`` and written by
    ``riff``; JPEG marker segments are walked by ``_jpeg_segments`` (the
    only caller of ``_jpeg_scan_end``); length-prefixed NAL units are cut
    out of an MP4 sample by ``_sample_nals`` alone."""
    riff_magic, scan_end_calls, nal_slices, chunk_headers = set(), set(), set(), set()
    for rel, qual, node in _engine_nodes():
        where = (rel, qual)
        if isinstance(node, ast.Constant) and node.value == b"RIFF":
            riff_magic.add(where)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_jpeg_scan_end":
            scan_end_calls.add(where)
        if (
            isinstance(node, ast.Subscript)
            and getattr(node.value, "id", None) == "sample"
            and isinstance(node.slice, ast.Slice)
            and isinstance(node.slice.upper, ast.BinOp)
            and ast.dump(node.slice.upper.left) == ast.dump(node.slice.lower)
        ):
            nal_slices.add(where)
        if _is_chunk_header(node):
            chunk_headers.add(where)
    mm_ = "operators/multimodal.py"
    assert riff_magic == {(mm_, "riff_chunks"), (mm_, "riff")}
    assert scan_end_calls == {(mm_, "_jpeg_segments")}
    assert nal_slices == {(mm_, "_sample_nals")}
    assert chunk_headers == {(mm_, "riff")}
