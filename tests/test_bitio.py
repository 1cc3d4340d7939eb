"""Shared bit I/O (pipeline_mf_etl_spark/bitio.py): round trips in both
bit orders, zero-padded peeks, loud exhaustion and overflow, the bulk
MSB-first writer, the LEB128 varint pair and the per-format rules
layered on it, and drift guards that keep codec modules from growing
private bit reader/writer classes or varint loops again."""

from __future__ import annotations

import ast
import random
from pathlib import Path

import numpy as np
import pytest

from pipeline_mf_etl_spark.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    canonical_codes,
    uvarint_decode,
    uvarint_encode,
)


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


@pytest.mark.parametrize(
    "value, encoded",
    [(0, b"\x00"), (1, b"\x01"), (127, b"\x7f"), (128, b"\x80\x01"), (300, b"\xac\x02"),
     ((1 << 64) - 1, b"\xff" * 9 + b"\x01")],
)
def test_uvarint_vectors(value, encoded):
    assert uvarint_encode(value) == encoded
    assert uvarint_decode(b"\xaa" + encoded + b"\xbb", 1, 10) == (value, 1 + len(encoded))


def test_uvarint_round_trip_and_errors():
    rng = random.Random(5)
    for _ in range(500):
        v = rng.getrandbits(rng.randint(0, 63))
        enc = uvarint_encode(v)
        assert uvarint_decode(enc, 0, 9) == (v, len(enc))
        with pytest.raises(ValueError, match="truncated varint"):
            uvarint_decode(enc[:-1], 0, 10)
    with pytest.raises(ValueError, match="longer than 5 bytes"):
        uvarint_decode(uvarint_encode(1 << 35), 0, 5)
    assert uvarint_decode(uvarint_encode((1 << 35) - 1), 0, 5) == ((1 << 35) - 1, 5)
    with pytest.raises(ValueError, match="negative"):
        uvarint_encode(-1)


def test_format_rules_over_the_shared_varint():
    from pipeline_mf_etl_spark.sources.avro_io import _zigzag_decode, _zigzag_encode
    from pipeline_mf_etl_spark.sources.tfrecord import _read_uvarint
    from pipeline_mf_etl_spark.sources.xz import _varint

    for n, enc in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        assert _zigzag_encode(n) == enc and _zigzag_decode(enc, 0) == (n, len(enc))
    for n in (-(1 << 63), (1 << 63) - 1):
        assert _zigzag_decode(_zigzag_encode(n), 0) == (n, 10)
    with pytest.raises(ValueError, match="exceeds 64 bits"):
        _read_uvarint(uvarint_encode(1 << 64), 0)
    assert _varint(b"\x00", 0) == (0, 1)
    with pytest.raises(ValueError, match="padding byte"):
        _varint(b"\x81\x00", 0)
    with pytest.raises(ValueError, match="longer than 9 bytes"):
        _varint(b"\x80" * 9 + b"\x01", 0)


# 7-bit length groups most significant first (MPEG-4 descriptor sizes,
# ISO 14496-1 §8.3.3): a different encoding from LEB128
_VARINT_LOOP_EXEMPT = {
    ("operators/multimodal.py", "_mp4_descriptor"),
    ("operators/multimodal.py", "desc"),
}


def _seven_bit_group_loops(tree: ast.AST) -> set[str]:
    """Functions holding a loop with ``& 0x7F``, a 0x80 bit operation and
    a shift: the shape of a hand-rolled varint."""
    found = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, (ast.For, ast.While)):
                nodes = list(ast.walk(child))
                consts = {
                    side.value
                    for n in nodes
                    if isinstance(n, ast.BinOp) and isinstance(n.op, (ast.BitAnd, ast.BitOr))
                    for side in (n.left, n.right)
                    if isinstance(side, ast.Constant)
                }
                shifts = any(
                    isinstance(n, (ast.BinOp, ast.AugAssign))
                    and isinstance(n.op, (ast.LShift, ast.RShift))
                    for n in nodes
                )
                if {0x7F, 0x80} <= consts and shifts:
                    found.add(fn)
            visit(child, fn)

    visit(tree, "<module>")
    return found


def test_varints_live_in_bitio():
    """Drift guard: no module but bitio.py hand-rolls a 7-bit-group
    varint loop, except the MPEG-4 big-endian descriptor lengths."""
    import pipeline_mf_etl_spark

    root = Path(pipeline_mf_etl_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        found |= {(rel, fn) for fn in _seven_bit_group_loops(tree)}
    assert ("bitio.py", "uvarint_decode") in found  # the guard sees the real loop
    assert found - {("bitio.py", "uvarint_decode"), ("bitio.py", "uvarint_encode")} == (
        _VARINT_LOOP_EXEMPT
    )


def _code_assignment_loops(tree: ast.AST) -> set[str]:
    """Functions holding a loop that both ``+= 1`` and ``<<=`` the same
    name: the shape of a hand-rolled canonical prefix-code builder."""
    found = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, (ast.For, ast.While)):
                aug = [
                    n for n in ast.walk(child)
                    if isinstance(n, ast.AugAssign) and isinstance(n.target, ast.Name)
                ]
                shifted = {n.target.id for n in aug if isinstance(n.op, ast.LShift)}
                counted = {
                    n.target.id
                    for n in aug
                    if isinstance(n.op, ast.Add)
                    and isinstance(n.value, ast.Constant)
                    and n.value.value == 1
                }
                if shifted & counted:
                    found.add(fn)
            visit(child, fn)

    visit(tree, "<module>")
    return found


def test_canonical_codes_live_in_bitio():
    """Drift guard: VP8L, bzip2 and JPEG assign canonical prefix codes
    through bitio.canonical_codes; no other module loops over lengths
    handing out consecutive codes."""
    import pipeline_mf_etl_spark

    root = Path(pipeline_mf_etl_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        found |= {(rel, fn) for fn in _code_assignment_loops(tree)}
    assert found == {("bitio.py", "canonical_codes")}


@pytest.mark.parametrize(
    "pairs, want",
    [
        # (length, symbol) order, the VP8L/bzip2 rule
        ([(1, 1), (0, 2), (2, 3), (3, 3)], {1: (0, 1), 0: (2, 2), 2: (6, 3), 3: (7, 3)}),
        # JPEG table order: 0xF0 precedes 0x01 within length 2
        ([(0x00, 2), (0xF0, 2), (0x01, 2), (0x02, 3)],
         {0x00: (0, 2), 0xF0: (1, 2), 0x01: (2, 2), 0x02: (6, 3)}),
    ],
)
def test_canonical_codes_follow_the_given_order(pairs, want):
    assert canonical_codes(pairs) == want
