"""Table-driven CRCs shared by the in-house codecs.

One table builder and one update function cover every CRC the codecs
check: FLAC's CRC-8/CRC-16 and bzip2's CRC-32 (MSB-first), and xz's
CRC-64 and snappy/TFRecord's CRC-32C (reflected, LSB-first). ``poly``
is always given in normal (MSB-first) notation; a reflected CRC
reflects it once, when its table is built. Init and final-xor values
stay with the caller, which passes the running register to
:func:`crc_update` and applies its own final xor.
"""

from __future__ import annotations

from typing import NamedTuple


class CrcTable(NamedTuple):
    table: list[int]
    width: int
    reflected: bool


def crc_table(poly: int, width: int, reflected: bool = False) -> CrcTable:
    """The 256-entry table of the ``width``-bit CRC with generator
    ``poly``, for MSB-first or reflected (LSB-first) processing."""
    table = []
    if reflected:
        rpoly = int(f"{poly:0{width}b}"[::-1], 2)
        for byte in range(256):
            crc = byte
            for _ in range(8):
                crc = (crc >> 1) ^ rpoly if crc & 1 else crc >> 1
            table.append(crc)
    else:
        top = 1 << (width - 1)
        mask = (1 << width) - 1
        for byte in range(256):
            crc = byte << (width - 8)
            for _ in range(8):
                crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
            table.append(crc & mask)
    return CrcTable(table, width, reflected)


def crc_update(spec: CrcTable, crc: int, data: bytes) -> int:
    """Feed ``data`` through the CRC register ``crc`` (no init or final
    xor applied here)."""
    tbl = spec.table
    if spec.reflected:
        for b in data:
            crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return crc
    shift = spec.width - 8
    mask = (1 << spec.width) - 1
    for b in data:
        crc = ((crc << 8) & mask) ^ tbl[(crc >> shift) ^ b]
    return crc
