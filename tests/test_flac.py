"""FLAC codec tests (operators/flac.py): exact round-trips across the
subframe/channel matrix, integrity-check behavior (CRC-8/CRC-16/MD5),
format gates, and the Spark synthesis/decode layer. The mm25 oracle
parity runs in tests/test_corpus_ingest.py with the other r11-pending
queries."""

from __future__ import annotations

import numpy as np
import pytest

from pipeline_mf_etl_spark.bitio import MsbReader, MsbWriter
from pipeline_mf_etl_spark.operators.flac import (
    _utf8_decode_number,
    _utf8_encode_number,
    crc8,
    crc16,
    decode_flac_features,
    encode_flac,
    parse_flac,
    with_flac_payload,
)

SF = "/root/testdata/sf0.001"


def _rt(arr, **kw):
    out = parse_flac(encode_flac(arr, **kw))
    want = arr.reshape(1, -1) if arr.ndim == 1 else arr
    assert np.array_equal(out["samples"], want)
    return out


class TestRoundTrip:
    def test_mono_noise_and_smooth(self):
        rng = np.random.RandomState(7)
        for n in (1, 16, 100, 4096, 4097, 9000):
            _rt(rng.randint(-32768, 32768, n).astype(np.int16))
            _rt(
                np.cumsum(rng.randint(-50, 51, n))
                .clip(-30000, 30000)
                .astype(np.int16)
            )

    def test_constant_block_uses_constant_subframe(self):
        blob = encode_flac(np.full(4096, 123, dtype=np.int16))
        # CONSTANT subframe: whole stream far below raw size
        assert len(blob) < 200
        _rt(np.full(4096, 123, dtype=np.int16))

    def test_noise_escapes_to_verbatim(self):
        rng = np.random.RandomState(3)
        noise = rng.randint(-32768, 32768, 8192).astype(np.int16)
        blob = encode_flac(noise)
        assert len(blob) <= 2 * len(noise) + 200  # never blows up
        _rt(noise)

    def test_extreme_values(self):
        _rt(np.array([32767, -32768] * 500, dtype=np.int16))

    @pytest.mark.parametrize(
        "mode", ["independent", "left_side", "right_side", "mid_side", None]
    )
    def test_stereo_modes(self, mode):
        rng = np.random.RandomState(11)
        st = np.stack(
            [
                np.cumsum(rng.randint(-40, 41, 5000)).clip(-20000, 20000),
                np.cumsum(rng.randint(-40, 41, 5000)).clip(-20000, 20000),
            ]
        ).astype(np.int16)
        out = _rt(st, channel_mode=mode)
        assert out["n_channels"] == 2

    def test_mid_side_odd_parity(self):
        # the side&1 reconstruction bit: odd l+r sums must survive
        st = np.array([[1, 2, -3, 32767], [2, 5, -8, -32768]], dtype=np.int16)
        _rt(np.repeat(st, 8, axis=1), channel_mode="mid_side")

    def test_multi_frame_partitions(self):
        rng = np.random.RandomState(5)
        x = np.cumsum(rng.randint(-9, 10, 1000)).clip(-30000, 30000).astype(np.int16)
        out = _rt(x, block_size=64, partition_order=2)
        assert out["n_frames"] == (1000 + 63) // 64

    def test_compression_on_smooth_signal(self):
        rng = np.random.RandomState(1)
        sm = np.cumsum(rng.randint(-30, 31, 50000)).clip(-30000, 30000).astype(np.int16)
        assert len(encode_flac(sm)) < 0.55 * 2 * len(sm)


class TestIntegrity:
    def _blob(self):
        rng = np.random.RandomState(2)
        return encode_flac(
            np.cumsum(rng.randint(-40, 41, 6000)).clip(-25000, 25000).astype(np.int16)
        )

    def test_frame_bitflip_fails_crc(self):
        blob = bytearray(self._blob())
        blob[len(blob) // 2] ^= 0x10  # somewhere inside a frame body
        with pytest.raises(ValueError, match="CRC|sync|exhaust|int16|rice|corrupt"):
            parse_flac(bytes(blob))

    def test_streaminfo_md5_guards_pcm(self):
        blob = bytearray(self._blob())
        # flip one bit inside the STREAMINFO MD5 field (bytes 8+18..8+33)
        blob[8 + 20] ^= 0x01
        with pytest.raises(ValueError, match="MD5"):
            parse_flac(bytes(blob))

    def test_bad_magic(self):
        with pytest.raises(ValueError, match="magic"):
            parse_flac(b"fLaD" + self._blob()[4:])

    def test_truncated_stream(self):
        with pytest.raises(ValueError):
            parse_flac(self._blob()[:-10])

    def test_total_samples_mismatch(self):
        blob = bytearray(self._blob())
        # STREAMINFO total-samples field: last 4 bits of byte 8+13 +
        # bytes 8+14..8+17; bump the count by one
        blob[8 + 17] ^= 0x01
        with pytest.raises(ValueError):
            parse_flac(bytes(blob))


class TestLpc:
    def test_sinusoid_round_trips_and_compresses(self):
        # LPC's home turf: fixed polynomial predictors cannot model a
        # sinusoid, the order-8 LPC can — the ratio is the proof the
        # LPC path (not FIXED) actually carried the stream
        sine = (12000 * np.sin(np.arange(50000) * 0.01)).astype(np.int16)
        blob = encode_flac(sine)
        assert len(blob) < 0.2 * 2 * len(sine)
        assert np.array_equal(parse_flac(blob)["samples"][0], sine)

    def test_noisy_sinusoid_round_trips(self):
        rng = np.random.RandomState(9)
        x = (9000 * np.sin(np.arange(7000) * 0.05) + rng.randint(-30, 31, 7000)).astype(
            np.int16
        )
        _rt(x, block_size=512, partition_order=2)

    def test_lpc_stereo_side_channel(self):
        # 17-bit side channel through the LPC path
        left = (8000 * np.sin(np.arange(5000) * 0.03)).astype(np.int16)
        right = (8000 * np.sin(np.arange(5000) * 0.031 + 1)).astype(np.int16)
        _rt(np.stack([left, right]), channel_mode="mid_side")


class TestGates:
    def test_rewritten_subframe_type_caught_by_crc(self):
        # flip a CONSTANT subframe header to LPC: the frame CRC-16 must
        # catch the corruption before any mis-decode escapes
        blob = bytearray(encode_flac(np.full(64, 5, dtype=np.int16), block_size=64))
        frame = 42  # 4 magic + 4 block header + 34 STREAMINFO
        sub = frame + 8  # 4 fixed header + 1 utf8 + 2 blocksize + 1 crc8
        assert blob[sub] >> 1 == 0  # CONSTANT subframe header (type 0)
        blob[sub] = 0b01000000  # LPC order 1, no padding bit
        with pytest.raises(ValueError, match="CRC|exhaust|order|residual coding"):
            parse_flac(bytes(blob))

    def test_wrong_dtype_rejected(self):
        with pytest.raises(ValueError, match="int16"):
            encode_flac(np.zeros(10, dtype=np.int32))

    def test_empty_rejected(self):
        with pytest.raises(ValueError, match="empty"):
            encode_flac(np.zeros(0, dtype=np.int16))

    def test_bad_shape_rejected(self):
        with pytest.raises(ValueError, match="samples must be"):
            encode_flac(np.zeros((3, 10), dtype=np.int16))


class TestPrimitives:
    def test_utf8_number_round_trip(self):
        for n in (0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000, (1 << 36) - 1):
            enc = _utf8_encode_number(n)
            assert _utf8_decode_number(MsbReader(enc)) == n

    def test_crc_vectors(self):
        # published check values: CRC-8/ATM ("123456789") = 0xF4,
        # CRC-16/BUYPASS = 0xFEE8
        assert crc8(b"123456789") == 0xF4
        assert crc16(b"123456789") == 0xFEE8


class TestSpark:
    def test_decode_matches_synthesis(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(90)
        out = decode_flac_features(with_flac_payload(docs)).collect()
        orig = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert len(out) == sum(1 for t in orig.values() if len(t) >= 1)
        for r in out:
            t = orig[r["doc_id"]]
            b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
            pcm = (b - 128) * 256
            if r["doc_id"] % 3 == 0 and len(pcm) >= 2:
                n = len(pcm) // 2
                ch0 = pcm[0 : 2 * n : 2]
                assert r["n_channels"] == 2
                assert r["total_samples"] == n
                assert r["sum_samples"] == int(pcm[: 2 * n].sum())
            else:
                ch0 = pcm
                assert r["n_channels"] == 1
                assert r["sum_samples"] == int(pcm.sum())
            assert r["dot0"] == int((ch0 * (np.arange(len(ch0)) + 1)).sum())
            assert r["n_frames"] == (r["total_samples"] + 63) // 64

    def test_plan_map_only(self, spark):
        from pipeline_mf_etl_spark.queries import all_queries

        fn = all_queries()["mm25_flac_decode"].spark
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert plan.count("Exchange roundrobinpartitioning") <= 1  # fan-out

class TestVectorizedBitWriter:
    """The rice/raw encode loops write bulk NumPy bit vectors; these pin
    byte-exact equality against the per-sample scalar path."""

    def test_rice_bits_matches_scalar_rice_codes(self):
        from pipeline_mf_etl_spark.operators.flac import (
            _rice_bits,
            _signed_bits,
            _zigzag,
        )

        rng = np.random.default_rng(11)
        for param in (0, 1, 3, 7, 14):
            res = rng.integers(-(1 << 12), 1 << 12, 257).astype(np.int64)
            u = _zigzag(res)
            vec = MsbWriter()
            vec.write_bits_array(_rice_bits(u, param))
            vec.align()
            ref = MsbWriter()
            for val in u:
                ref.write(1, (int(val) >> param) + 1)  # unary quotient
                if param:
                    ref.write(int(val) & ((1 << param) - 1), param)
            ref.align()
            assert vec.getvalue() == ref.getvalue(), f"param {param}"
        # raw two's-complement fields (escape partitions / verbatim)
        for raw_bits in (1, 5, 17):
            seg = rng.integers(-(1 << (raw_bits - 1)), 1 << (raw_bits - 1), 64)
            vec = MsbWriter()
            vec.write_bits_array(_signed_bits(seg, raw_bits))
            vec.align()
            ref = MsbWriter()
            for v in seg:
                ref.write(int(v) & ((1 << raw_bits) - 1), raw_bits)
            ref.align()
            assert vec.getvalue() == ref.getvalue(), f"raw_bits {raw_bits}"
