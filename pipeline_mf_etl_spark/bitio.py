"""Bit-level readers and writers shared by the in-house codecs.

One reader and one writer per bit order:

- MSB-first (:class:`MsbWriter`, :class:`MsbReader`): FLAC, bzip2,
  JPEG entropy data, H.264/HEVC parameter sets. The first bit of the
  stream is the most significant bit of the first byte.
- LSB-first (:class:`LsbWriter`, :class:`LsbReader`): WebP lossless
  (VP8L) and zstd's forward-read FSE table descriptions. The first bit
  of the stream is the least significant bit of the first byte.

The contract is the same for both orders. ``write(value, n)`` raises
``ValueError`` when ``value`` does not fit in ``n`` bits, instead of
masking it. Reads past the end raise ``ValueError``, and ``peek(n)``
zero-pads past the end so a table-driven decoder may look ahead further
than the stream has. Codec-specific framing (padding values, byte
stuffing, exp-Golomb, rice codes, prefix-code bit order) stays in the
codec modules as functions over these classes.

Byte-aligned LEB128 varints (protobuf/TFRecord, snappy, xz, Avro) are
one pair here too: :func:`uvarint_encode` and :func:`uvarint_decode`,
7 bits per byte, least significant group first, high bit set on every
byte but the last. The decoder takes the format's maximum byte length;
running off the buffer raises one ``ValueError``. Per-format rules (a
64-bit range check, xz's padding byte, Avro's zigzag) stay with the
format.

Canonical prefix codes (VP8L, bzip2, JPEG) come from one builder,
:func:`canonical_codes`: it assigns consecutive codes to ``(symbol,
length)`` pairs in the order given, shifting left whenever the length
grows. The order is the format's rule and stays with the caller: VP8L
and bzip2 sort by (length, symbol); a JPEG DHT lists symbols in its own
order within each length.

Every state update is O(1): bits live in a small accumulator or behind
a bit cursor into the byte buffer, never in one big int that covers the
whole stream, where each shift would cost O(stream) and make large
blocks quadratic.
"""

from __future__ import annotations

import numpy as np


class MsbWriter:
    """MSB-first bit writer. Whole bytes drain into a bytearray as they
    fill; at most 7 bits wait in the accumulator."""

    __slots__ = ("_out", "_acc", "_nbits")

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if value < 0 or value >> nbits:
            raise ValueError(f"value {value} does not fit in {nbits} bits")
        acc = (self._acc << nbits) | value
        n = self._nbits + nbits
        if n >= 8:
            rem = n & 7
            self._out += (acc >> rem).to_bytes(n >> 3, "big")
            acc &= (1 << rem) - 1
            n = rem
        self._acc = acc
        self._nbits = n

    def write_bits_array(self, bits: np.ndarray) -> None:
        """Append a 0/1 uint8 bit vector in bulk. Byte-identical to
        writing each bit through :meth:`write`: any pending sub-byte
        accumulator is flushed into the vector first, whole bytes go
        through one ``np.packbits``, and the sub-byte tail goes back into
        the accumulator."""
        if self._nbits:
            head = np.empty(self._nbits, dtype=np.uint8)
            acc = self._acc
            for i in range(self._nbits):  # <= 7 iterations
                head[self._nbits - 1 - i] = acc & 1
                acc >>= 1
            bits = np.concatenate([head, bits])
            self._acc = 0
            self._nbits = 0
        nfull = (len(bits) >> 3) << 3
        if nfull:
            self._out += np.packbits(bits[:nfull]).tobytes()
        acc = 0
        for b in bits[nfull:].tolist():  # <= 7 iterations
            acc = (acc << 1) | int(b)
        self._nbits = len(bits) - nfull
        self._acc = acc

    def align(self) -> None:
        """Pad with zero bits to the next byte boundary."""
        if self._nbits:
            self.write(0, 8 - self._nbits)

    @property
    def pos(self) -> int:
        """Bits written so far."""
        return len(self._out) * 8 + self._nbits

    def getvalue(self) -> bytes:
        """The bytes written so far; the stream must be byte-aligned."""
        if self._nbits:
            raise ValueError("bit writer not byte-aligned")
        return bytes(self._out)


class MsbReader:
    """MSB-first bit reader over ``data``, starting at bit ``pos``.

    Bytes are pulled into a small accumulator as reads need them. The
    bit cursor ``pos`` is settable, so a bulk decoder can consume a span
    with NumPy and jump the reader past it; the cursor never passes the
    end of the stream, so :meth:`align` cannot run out of bits."""

    __slots__ = ("data", "nbits", "_byte", "_acc", "_have")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.nbits = len(data) * 8
        self.pos = pos

    @property
    def pos(self) -> int:
        return (self._byte << 3) - self._have

    @pos.setter
    def pos(self, pos: int) -> None:
        if not 0 <= pos <= self.nbits:
            raise ValueError(f"bit position {pos} outside a {self.nbits}-bit stream")
        byte, off = pos >> 3, pos & 7
        if off:
            self._acc = self.data[byte] & (0xFF >> off)
            self._have = 8 - off
            self._byte = byte + 1
        else:
            self._acc = 0
            self._have = 0
            self._byte = byte

    def read(self, nbits: int) -> int:
        have = self._have
        acc = self._acc
        if have < nbits:
            data = self.data
            byte = self._byte
            while have < nbits:
                if byte >= len(data):
                    raise ValueError("bitstream exhausted")
                acc = (acc << 8) | data[byte]
                byte += 1
                have += 8
            self._byte = byte
        have -= nbits
        self._have = have
        self._acc = acc & ((1 << have) - 1)
        return acc >> have

    def peek(self, nbits: int) -> int:
        """The next ``nbits`` bits without consuming them; bits past the
        end of the stream read as 0 (callers must consume only real
        bits, which :meth:`skip` enforces)."""
        have = self._have
        if have < nbits:
            data = self.data
            byte = self._byte
            acc = self._acc
            while have < nbits and byte < len(data):
                acc = (acc << 8) | data[byte]
                byte += 1
                have += 8
            self._byte = byte
            self._acc = acc
            self._have = have
            if have < nbits:
                return acc << (nbits - have)
        return self._acc >> (have - nbits)

    def skip(self, nbits: int) -> None:
        if nbits > self._have:
            self.read(nbits)
            return
        self._have -= nbits
        self._acc &= (1 << self._have) - 1

    def align(self) -> None:
        """Skip to the next byte boundary."""
        drop = self._have & 7
        if drop:
            self._have -= drop
            self._acc &= (1 << self._have) - 1


class LsbWriter:
    """LSB-first bit writer; :meth:`getvalue` zero-pads the last byte."""

    def __init__(self) -> None:
        self._bits = 0
        self._n = 0
        self._out = bytearray()

    def write(self, value: int, nbits: int) -> None:
        if value < 0 or value >> nbits:
            raise ValueError(f"value {value} does not fit in {nbits} bits")
        self._bits |= value << self._n
        self._n += nbits
        while self._n >= 8:
            self._out.append(self._bits & 0xFF)
            self._bits >>= 8
            self._n -= 8

    def getvalue(self) -> bytes:
        out = bytes(self._out)
        if self._n:
            out += bytes([self._bits & 0xFF])
        return out


class LsbReader:
    """LSB-first bit reader with a public bit cursor ``pos``."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self.pos = 0
        self._nbits = len(data) * 8

    def read(self, nbits: int) -> int:
        p = self.pos
        end = p + nbits
        if end > self._nbits:
            raise ValueError("bitstream exhausted")
        # LSB-first: one small little-endian slice instead of a per-bit loop
        chunk = int.from_bytes(self._data[p >> 3 : (end + 7) >> 3], "little")
        self.pos = end
        return (chunk >> (p & 7)) & ((1 << nbits) - 1)

    def peek(self, nbits: int) -> int:
        """Next ``nbits`` LSB-first without consuming; bits past the end
        of the stream read as 0 (callers must skip() only real bits)."""
        p = self.pos
        end = min(p + nbits, self._nbits)
        chunk = int.from_bytes(self._data[p >> 3 : (end + 7) >> 3], "little")
        return (chunk >> (p & 7)) & ((1 << nbits) - 1)

    def skip(self, nbits: int) -> None:
        if self.pos + nbits > self._nbits:
            raise ValueError("bitstream exhausted")
        self.pos += nbits


def canonical_codes(pairs) -> dict[int, tuple[int, int]]:
    """``symbol -> (code, length)`` for ``(symbol, length)`` pairs given
    in assignment order (non-decreasing length, distinct symbols)."""
    out: dict[int, tuple[int, int]] = {}
    code = prev_len = 0
    for sym, ln in pairs:
        code <<= ln - prev_len
        out[sym] = (code, ln)
        code += 1
        prev_len = ln
    return out


def uvarint_encode(n: int) -> bytes:
    """LEB128 bytes of the non-negative int ``n``."""
    if n < 0:
        raise ValueError(f"varint of negative value {n}")
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def uvarint_decode(data: bytes, pos: int, max_len: int) -> tuple[int, int]:
    """Read the LEB128 varint at ``data[pos]`` of at most ``max_len``
    bytes; return ``(value, position after it)``."""
    n = 0
    for i in range(max_len):
        if pos + i >= len(data):
            raise ValueError("truncated varint")
        b = data[pos + i]
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return n, pos + i + 1
    raise ValueError(f"varint longer than {max_len} bytes")
