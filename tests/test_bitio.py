"""Shared bit I/O (pipeline_mf_etl_spark/bitio.py): round trips in both
bit orders, zero-padded peeks, loud exhaustion and overflow, the bulk
MSB-first writer, and a drift guard that keeps codec modules from
growing private bit reader/writer classes again."""

from __future__ import annotations

import ast
import random
from pathlib import Path

import numpy as np
import pytest

from pipeline_mf_etl_spark.bitio import LsbReader, LsbWriter, MsbReader, MsbWriter


def _random_fields(seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    out = []
    for _ in range(rng.randint(0, 80)):
        n = rng.randint(0, 40)
        out.append((rng.getrandbits(n) if n else 0, n))
    return out


def _msb_bytes(fields: list[tuple[int, int]]) -> bytes:
    w = MsbWriter()
    for v, n in fields:
        w.write(v, n)
    w.align()
    return w.getvalue()


@pytest.mark.parametrize("seed", range(40))
def test_msb_round_trip(seed):
    fields = _random_fields(seed)
    data = _msb_bytes(fields)
    assert len(data) == (sum(n for _, n in fields) + 7) // 8
    r = MsbReader(data)
    for v, n in fields:
        assert r.peek(n) == v
        assert r.read(n) == v
    r.align()
    assert r.pos == r.nbits == len(data) * 8


@pytest.mark.parametrize("seed", range(40))
def test_lsb_round_trip(seed):
    fields = _random_fields(seed)
    w = LsbWriter()
    for v, n in fields:
        w.write(v, n)
    data = w.getvalue()
    assert len(data) == (sum(n for _, n in fields) + 7) // 8
    r = LsbReader(data)
    for v, n in fields:
        assert r.peek(n) == v
        assert r.read(n) == v


def test_bit_orders_within_a_byte():
    m = MsbWriter()
    m.write(1, 1)
    m.align()
    assert m.getvalue() == b"\x80"
    lw = LsbWriter()
    lw.write(1, 1)
    assert lw.getvalue() == b"\x01"


def test_msb_reader_cursor_jumps():
    fields = _random_fields(99)
    data = _msb_bytes(fields)
    starts = np.cumsum([0] + [n for _, n in fields]).tolist()
    r = MsbReader(data)
    for i in reversed(range(len(fields))):  # jump backwards, mid-byte
        r.pos = starts[i]
        assert r.read(fields[i][1]) == fields[i][0]
        assert r.pos == starts[i + 1]
    assert MsbReader(data, pos=starts[3]).read(fields[3][1]) == fields[3][0]
    with pytest.raises(ValueError):
        r.pos = len(data) * 8 + 1


@pytest.mark.parametrize("reader", [MsbReader, LsbReader])
def test_peek_zero_pads_and_exhaustion_raises(reader):
    r = reader(b"\xff")
    assert r.peek(12) == (0xFF0 if reader is MsbReader else 0x0FF)
    r.read(5)
    assert r.peek(8) == (0b11100000 if reader is MsbReader else 0b111)
    with pytest.raises(ValueError, match="exhausted"):
        r.skip(4)
    with pytest.raises(ValueError, match="exhausted"):
        r.read(4)
    assert r.read(3) == 0b111
    assert r.read(0) == 0
    with pytest.raises(ValueError, match="exhausted"):
        r.read(1)


def test_msb_align_stops_at_the_last_real_bit():
    r = MsbReader(b"\xa5\x0f")
    assert r.read(3) == 0b101
    r.align()
    assert r.pos == 8
    r.align()  # already aligned: no-op
    assert r.read(8) == 0x0F
    r.align()  # at the end of the stream: stays there
    assert r.pos == 16


@pytest.mark.parametrize("writer", [MsbWriter, LsbWriter])
@pytest.mark.parametrize("value, nbits", [(256, 8), (2, 1), (1, 0), (-1, 8), (1 << 40, 32)])
def test_write_rejects_values_that_do_not_fit(writer, value, nbits):
    with pytest.raises(ValueError, match="does not fit"):
        writer().write(value, nbits)


def test_msb_getvalue_refuses_a_partial_byte():
    w = MsbWriter()
    w.write(0b101, 3)
    assert w.pos == 3
    with pytest.raises(ValueError, match="byte-aligned"):
        w.getvalue()
    w.align()
    assert w.getvalue() == b"\xa0"


def test_write_bits_array_matches_per_bit_writes():
    rng = np.random.default_rng(7)
    for trial in range(20):
        bits = rng.integers(0, 2, int(rng.integers(1, 200))).astype(np.uint8)
        lead = int(rng.integers(0, 8))  # misalign the accumulator
        a, b = MsbWriter(), MsbWriter()
        for w in (a, b):
            if lead:
                w.write(trial & ((1 << lead) - 1), lead)
        a.write_bits_array(bits)
        for bit in bits.tolist():
            b.write(int(bit), 1)
        a.write(5, 3)  # the accumulator keeps working after a bulk write
        b.write(5, 3)
        a.align(), b.align()
        assert a.getvalue() == b.getvalue(), f"trial {trial} lead {lead}"
        r = MsbReader(a.getvalue(), pos=lead)
        assert [r.read(1) for _ in range(len(bits))] == bits.tolist()


# zstd reads its entropy payloads BACKWARD, down from a sentinel 1 bit in
# the last byte; that is a different stream format from the forward
# readers/writers above, so it keeps its own pair
_BIT_CLASS_EXEMPT = {
    ("sources/zstdframe.py", "_BackBits"),
    ("sources/zstdframe.py", "_BitWriter"),
}


def test_bit_io_lives_in_bitio():
    """Drift guard: no module but bitio.py defines a class whose name
    contains ``Bit``, except zstd's backward-stream pair."""
    import pipeline_mf_etl_spark

    root = Path(pipeline_mf_etl_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "bitio.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef) and "Bit" in node.name:
                found.add((rel, node.name))
    assert found == _BIT_CLASS_EXEMPT
