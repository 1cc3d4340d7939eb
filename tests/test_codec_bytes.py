"""Byte-level contracts shared by the in-house codecs.

``test_encoder_output_is_pinned`` fixes the sha256 of every encoder's
output on small deterministic inputs, so a change to the bit writers
(or anything else on an encode path) that alters a single output bit
fails here instead of only in a round trip. ``test_corrupt_input_raises
_value_error`` pins the decoders' failure contract: malformed input
raises ``ValueError``, never an ``IndexError`` from an unchecked index.
"""

from __future__ import annotations

import hashlib

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
}

# sha256 of each encoder's output, recorded before the codecs' private
# bit writers were merged into pipeline_mf_etl_spark/bitio.py
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
    "webp_lossless": "512a4a18f1d4554f5f2f5aed305d22aecfca24cd22b620c7a3fb8a14728ff0e6",
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
}


@pytest.mark.parametrize("name", sorted(_CORRUPT))
def test_corrupt_input_raises_value_error(name):
    with pytest.raises(ValueError):
        _CORRUPT[name]()
