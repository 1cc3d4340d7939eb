"""WebP-lossless (VP8L) codec tests: bit IO, canonical prefix codes,
LZ77 value split, color cache, the four transforms, round-trip across
all synthesis variants, corrupt-stream/loud-gate behavior, and the
mm28b oracle-parity plan shape (the value parity itself runs with the
other corpus-ingest compares in tests/test_corpus_ingest.py)."""

from __future__ import annotations

import numpy as np
import pytest

from pipeline_mf_etl_spark.bitio import LsbReader, LsbWriter
from pipeline_mf_etl_spark.operators import vp8l as V

SF = "/root/testdata/sf0.001"


class TestBitIO:
    def test_lsb_first_round_trip(self):
        bw = LsbWriter()
        vals = [(5, 3), (0, 1), (1023, 10), (1, 1), (77, 8), (16383, 14)]
        for v, n in vals:
            bw.write(v, n)
        br = LsbReader(bw.getvalue())
        for v, n in vals:
            assert br.read(n) == v

    def test_write_code_reverses_bits(self):
        bw = LsbWriter()
        V.write_code(bw, 0b110, 3)  # MSB of the code enters the stream first
        br = LsbReader(bw.getvalue())
        assert [br.read(1) for _ in range(3)] == [1, 1, 0]

    def test_exhaustion_raises(self):
        br = LsbReader(b"\xff")
        br.read(8)
        with pytest.raises(ValueError, match="exhausted"):
            br.read(1)


class TestPrefixCodes:
    def test_canonical_assignment_matches_deflate_rule(self):
        codes = V.canonical_codes({0: 2, 1: 1, 2: 3, 3: 3})
        assert codes[1] == (0b0, 1)
        assert codes[0] == (0b10, 2)
        assert codes[2] == (0b110, 3)
        assert codes[3] == (0b111, 3)

    def test_balanced_lengths_complete(self):
        for n in range(2, 40):
            lens = V.balanced_lengths(list(range(n)))
            assert abs(sum(2.0 ** -ln for ln in lens.values()) - 1.0) < 1e-12

    def test_incomplete_code_rejected(self):
        with pytest.raises(ValueError, match="not complete"):
            V.PrefixDecoder({0: 2, 1: 2, 2: 2})  # Kraft 3/4

    def test_normal_path_round_trip_with_16_17_18(self):
        # 300-symbol alphabet, 37 used -> zeros force 17/18, the
        # balanced plateau forces 16 runs
        hist = {s: 1 for s in range(10, 300, 8)}
        bw = LsbWriter()
        V._write_prefix_code(bw, hist, 304)
        dec = V._read_prefix_code(LsbReader(bw.getvalue()), 304)
        lens = V.balanced_lengths(sorted(hist))
        codes = V.canonical_codes(lens)
        bw2 = LsbWriter()
        for s in sorted(hist):
            c, n = codes[s]
            V.write_code(bw2, c, n)
        br = LsbReader(bw2.getvalue())
        assert [dec.read(br) for _ in sorted(hist)] == sorted(hist)

    def test_simple_paths_round_trip(self):
        for used in ([0], [1], [200], [3, 250]):
            bw = LsbWriter()
            V._write_prefix_code(bw, {s: 1 for s in used}, 280)
            br = LsbReader(bw.getvalue())
            dec = V._read_prefix_code(br, 280)
            if len(used) == 1:
                assert dec.read(br) == used[0]  # consumes no bits
            else:
                bw2 = LsbWriter()
                bw2.write(0, 1)
                bw2.write(1, 1)
                br2 = LsbReader(bw2.getvalue())
                assert dec.read(br2) == used[0]
                assert dec.read(br2) == used[1]

    def test_max_symbol_header_supported(self):
        # hand-write a normal code using the explicit max_symbol header:
        # symbols 0 and 1 with length 1 each, then max_symbol cuts off
        bw = LsbWriter()
        bw.write(0, 1)  # normal
        bw.write(0, 4)  # num_code_lengths = 4 -> order 17,18,0,1
        for ln in (0, 0, 1, 1):  # CL code: syms {0,1} at length 1
            bw.write(ln, 3)
        bw.write(1, 1)  # use max_symbol
        bw.write(0, 3)  # length_nbits = 2
        bw.write(0, 2)  # max_symbol = 2
        cl_codes = V.canonical_codes({0: 1, 1: 1})
        for sym in (1, 1):  # two symbols of length 1
            c, n = cl_codes[sym]
            V.write_code(bw, c, n)
        dec = V._read_prefix_code(LsbReader(bw.getvalue()), 256)
        assert dec.max_len == 1


class TestLz77Split:
    def test_prefix_value_round_trip(self):
        for v in list(range(1, 70)) + [127, 128, 500, 4096, 100000]:
            sym, extra, ebits = V._prefix_encode(v)
            bw = LsbWriter()
            if ebits:
                bw.write(extra, ebits)
            br = LsbReader(bw.getvalue() or b"\x00")
            assert V._prefix_decode(sym, br) == v
            assert sym < 40 or v > 1 << 20


class TestTransforms:
    def _pix(self, seed, n):
        rng = np.random.RandomState(seed)
        return [
            V._argb(255, int(r), int(g), int(b))
            for r, g, b in rng.randint(0, 256, (n, 3))
        ]

    def test_subtract_green_round_trip(self):
        px = self._pix(1, 96)
        t = V._fwd_subtract_green(px)
        V._inv_subtract_green(t)
        assert t == px

    def test_predictor_all_modes_round_trip(self):
        w, h = 9, 7
        px = self._pix(2, w * h)
        for mode in range(14):
            res = V._fwd_predictor(px, w, h, mode)
            V._inv_predictor(res, w, h, 6, [V._argb(0, 0, mode, 0)], 1)
            assert res == px, mode

    def test_cross_color_round_trip(self):
        px = self._pix(3, 64)
        for g2r, g2b, r2b in ((0, 0, 0), (17, 200, 91), (255, 128, 1)):
            t = V._fwd_color(px, g2r, g2b, r2b)
            V._inv_color(t, 8, 8, 6, [V._argb(0, r2b, g2b, g2r)], 1)
            assert t == px

    def test_palette_bundling_round_trip(self):
        for psize in (2, 4, 13, 64):
            wb = V._palette_width_bits(psize)
            w, h = 21, 5
            idx = [(3 * i) % psize for i in range(w * h)]
            packed = V._pack_indices(idx, w, h, wb)
            pal = [V._palette_entry(i) for i in range(psize)]
            out = V._inv_palette(packed, w, h, pal, wb)
            assert out == [pal[i] for i in idx]

    def test_palette_index_out_of_range_fails(self):
        pal = [V._palette_entry(i) for i in range(3)]
        packed = [V._argb(255, 0, 5, 0)]  # index 5 > 2
        with pytest.raises(ValueError, match="palette index"):
            V._inv_palette(packed, 1, 1, pal, 0)


class TestVp8lRoundTrip:
    def test_all_variants_exact(self):
        for doc_id in range(25):
            text = f"vp8l doc {doc_id} " * (20 + doc_id * 9)
            blob = V.encode_webp_lossless(doc_id, text)
            exp = V.synth_pixels(doc_id, text)
            if exp is None:
                assert blob is None
                continue
            px, w, h = exp
            got = V.parse_webp_lossless(blob)
            flat = np.array(px, dtype=np.uint32).reshape(h, w)
            arr = got["pixels"]
            rec = (
                (arr[..., 0].astype(np.uint32) << 24)
                | (arr[..., 1].astype(np.uint32) << 16)
                | (arr[..., 2].astype(np.uint32) << 8)
                | arr[..., 3]
            )
            assert (rec == flat).all(), (doc_id, got["variant"])

    def test_row_cap(self):
        got = V.parse_webp_lossless(V.encode_webp_lossless(0, "x" * 20000))
        assert got["height"] == V.VP8L_MAX_ROWS

    def test_short_doc_none(self):
        assert V.encode_webp_lossless(0, "x" * 71) is None
        assert V.encode_webp_lossless(4, "x" * 47) is None

    def test_lossy_vp8_gates(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_webp

        # doc_id 0 % 3 == 0 -> mm28's synthesizer emits lossy VP8
        with pytest.raises(NotImplementedError, match="lossy VP8"):
            V.parse_webp_lossless(encode_webp(0, "x" * 300))

    def test_bad_signature_gates(self):
        blob = bytearray(V.encode_webp_lossless(0, "y" * 400))
        at = blob.find(b"VP8L") + 8
        assert blob[at] == 0x2F
        blob[at] = 0x30
        with pytest.raises(ValueError, match="0x2F"):
            V.parse_webp_lossless(bytes(blob))

    def test_truncated_stream_fails(self):
        blob = V.encode_webp_lossless(1, "z" * 700)
        body = V.unwrap_webp(blob)
        with pytest.raises(ValueError):
            V.decode_vp8l(body[: len(body) // 2])

    def test_short_distance_codes_gate_via_stream(self):
        """Build the gate stream with the real writer machinery: encode
        ops by hand with a distance VALUE of 1 (neighborhood range)."""
        bw = LsbWriter()
        bw.write(0x2F, 8)
        bw.write(3, 14)  # width 4
        bw.write(0, 14)  # height 1
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no huffman image
        hists = [{40: 1, 256: 1}, {1: 1}, {2: 1}, {255: 1}, {0: 1}]
        alphabets = (280, 256, 256, 256, 40)
        for h, a in zip(hists, alphabets):
            V._write_prefix_code(bw, h, a)
        codes = V.canonical_codes({40: 1, 256: 1})
        c, n = codes[40]
        V.write_code(bw, c, n)  # literal green 40
        c, n = codes[256]
        V.write_code(bw, c, n)  # copy len 1 ...
        # distance code: simple single-symbol 0 -> dist_code = 1 (2D map)
        with pytest.raises(NotImplementedError, match="neighborhood"):
            V.decode_vp8l(bw.getvalue())


class TestVp8lSpark:
    def test_decode_plan_map_only(self, spark):
        from pipeline_mf_etl_spark.queries import all_queries

        fn = all_queries()["mm28b_webp_lossless_decode"].spark
        plan = (
            fn(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .lower()
        )
        assert "exchange hashpartitioning" not in plan
        assert plan.count("exchange roundrobinpartitioning") <= 1  # fan-out
