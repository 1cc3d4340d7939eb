"""ZIP shards — dependency-free reader/writer for the container code
corpora ship in (GitHub dumps, Kaggle datasets, document bundles).

Tar (sources/webdataset.py) is the sequential-read training format; ZIP
is the RANDOM-ACCESS one — the central directory at the end of the file
lets a reader list and slice individual members without scanning the
archive, which is exactly what a selective-extraction pass over a
100 TB code corpus wants. This module walks the real structures, not a
library facade:

- EOCD (end-of-central-directory) scan from the tail, comment-tolerant;
- central-directory entries (names, method, CRC-32, sizes, local
  offsets), cross-checked against each member's LOCAL header — the two
  places real-world corrupt/hostile zips disagree;
- STORED (0) and DEFLATE (8) members, inflated via stdlib zlib raw
  streams, with CRC-32 and both size fields VERIFIED on extraction;
- loud gates for encryption, zip64, multi-disk archives, and any other
  compression method.

The writer emits deterministic archives (fixed DOS timestamp, no extra
fields, method per member) so synthesized shards are byte-stable and
the oracle can recompute extraction results from the characters.

Reference parity: none — engine ADDITION for the LLM-training-data
surface. Query ``c2_zip_extract`` runs the extraction against a DuckDB
oracle that recomputes every column from the characters.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.payload import map_payload, synth_payload

_LOCAL_SIG = b"PK\x03\x04"
_CD_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"
#: fixed DOS date/time (1980-01-01 00:00:00) for deterministic bytes
_DOS_TIME = 0
_DOS_DATE = 0x21

STORED, DEFLATED = 0, 8


def encode_zip(members: list[tuple[str, bytes, int]]) -> bytes:
    """Serialize ``[(name, payload, method)]`` as a deterministic ZIP:
    fixed timestamps, no extra fields, entries in the given order."""
    out = bytearray()
    cd = bytearray()
    for name, payload, method in members:
        nb = name.encode("utf-8")
        if method == STORED:
            data = payload
        elif method == DEFLATED:
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = c.compress(payload) + c.flush()
        else:
            raise ValueError(f"unsupported compression method {method}")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if max(len(data), len(payload)) >= 0xFFFFFFFF:
            raise ValueError("member needs zip64 (unsupported)")
        offset = len(out)
        local = struct.pack(
            "<4sHHHHHIIIHH",
            _LOCAL_SIG, 20, 0, method, _DOS_TIME, _DOS_DATE,
            crc, len(data), len(payload), len(nb), 0,
        )
        out += local + nb + data
        cd += struct.pack(
            "<4sHHHHHHIIIHHHHHII",
            _CD_SIG, 20, 20, 0, method, _DOS_TIME, _DOS_DATE,
            crc, len(data), len(payload), len(nb), 0, 0, 0, 0, 0, offset,
        ) + nb
    cd_offset = len(out)
    out += cd
    out += struct.pack(
        "<4sHHHHIIH",
        _EOCD_SIG, 0, 0, len(members), len(members), len(cd), cd_offset, 0,
    )
    return bytes(out)


def parse_zip(data: bytes) -> list[dict]:
    """Walk a ZIP archive into members via the REAL structures.

    Returns ``[{"name", "method", "payload", "compressed_size"}]`` in
    central-directory order. Verifies: EOCD location and counts, CD
    entry signatures, local-header agreement (method/name), CRC-32 of
    every extracted payload, and both size fields. Gates loudly on
    encryption (flag bit 0), zip64 markers, multi-disk archives, and
    unknown compression methods.
    """
    # EOCD: scan backwards through the (≤64 KiB) comment space
    tail_start = max(0, len(data) - 0xFFFF - 22)
    pos = data.rfind(_EOCD_SIG, tail_start)
    if pos < 0:
        raise ValueError("not a ZIP archive (no end-of-central-directory)")
    if pos + 22 > len(data):
        raise ValueError("truncated end-of-central-directory record")
    (_, disk, cd_disk, n_here, n_total, cd_size, cd_offset, comment_len) = (
        struct.unpack("<4sHHHHIIH", data[pos : pos + 22])
    )
    if disk != 0 or cd_disk != 0 or n_here != n_total:
        raise ValueError("multi-disk ZIP archives unsupported")
    if n_total == 0xFFFF or cd_offset == 0xFFFFFFFF or cd_size == 0xFFFFFFFF:
        raise ValueError("zip64 archives unsupported")
    if pos + 22 + comment_len != len(data):
        raise ValueError("EOCD comment length disagrees with file size")
    if cd_offset + cd_size != pos:
        raise ValueError("central directory does not abut the EOCD record")

    members: list[dict] = []
    cpos = cd_offset
    for i in range(n_total):
        if data[cpos : cpos + 4] != _CD_SIG:
            raise ValueError(f"central-directory entry {i}: bad signature")
        (
            _, _ver_made, _ver_need, flags, method, _t, _d,
            crc, csize, usize, name_len, extra_len, comment_len2,
            _disk, _iattr, _eattr, local_off,
        ) = struct.unpack("<4sHHHHHHIIIHHHHHII", data[cpos : cpos + 46])
        if flags & 0x1:
            raise ValueError(f"entry {i}: encrypted members unsupported")
        if 0xFFFFFFFF in (csize, usize, local_off):
            raise ValueError(f"entry {i}: zip64 markers unsupported")
        name = data[cpos + 46 : cpos + 46 + name_len].decode("utf-8")
        cpos += 46 + name_len + extra_len + comment_len2

        # cross-check the local header — the spot hostile zips lie in
        lh = data[local_off : local_off + 30]
        if lh[:4] != _LOCAL_SIG:
            raise ValueError(f"member {name!r}: bad local-header signature")
        (_, _lver, lflags, lmethod, _lt, _ld, _lcrc, _lcsize, _lusize,
         lname_len, lextra_len) = struct.unpack("<4sHHHHHIIIHH", lh)
        lname = data[local_off + 30 : local_off + 30 + lname_len].decode("utf-8")
        if lname != name or lmethod != method:
            raise ValueError(
                f"member {name!r}: local header disagrees with the central "
                f"directory (name {lname!r}, method {lmethod} vs {method})"
            )
        dstart = local_off + 30 + lname_len + lextra_len
        raw = data[dstart : dstart + csize]
        if len(raw) != csize:
            raise ValueError(f"member {name!r}: truncated data ({len(raw)}/{csize})")
        if method == STORED:
            payload = bytes(raw)
        elif method == DEFLATED:
            d = zlib.decompressobj(wbits=-15)
            try:
                payload = d.decompress(raw) + d.flush()
            except zlib.error as exc:
                raise ValueError(f"member {name!r}: corrupt deflate stream: {exc}") from exc
        else:
            raise ValueError(f"member {name!r}: compression method {method} unsupported")
        if len(payload) != usize:
            raise ValueError(
                f"member {name!r}: inflated to {len(payload)} bytes, "
                f"directory declares {usize}"
            )
        if zlib.crc32(payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"member {name!r}: CRC-32 mismatch")
        members.append(
            {"name": name, "method": method, "payload": payload,
             "compressed_size": csize, "data_offset": dstart}
        )
    return members


# ---------------------------------------------------------------------------
# Spark layer — synthesis + extraction (map-only)
# ---------------------------------------------------------------------------

ZIP_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_members", LongType(), False),
        StructField("n_deflated", LongType(), False),
        StructField("n_stored", LongType(), False),
        StructField("total_uncompressed", LongType(), False),
        StructField("text_out", StringType(), True),
        StructField("meta_len", LongType(), False),
    ]
)

_README = b"synthetic corpus bundle\n"


def synth_zip(doc_id: int, text: str) -> bytes:
    """One deterministic 3-member bundle per document: the text
    (DEFLATE — the real-corpus common case), a metadata JSON (STORED),
    and a fixed README (method alternates by doc_id so both paths are
    exercised on every corpus)."""
    meta = (
        '{"doc_id": ' + str(doc_id) + ', "n_chars": ' + str(len(text)) + "}"
    ).encode("utf-8")
    return encode_zip(
        [
            (f"doc_{doc_id}/text.txt", text.encode("utf-8"), DEFLATED),
            (f"doc_{doc_id}/meta.json", meta, STORED),
            ("README", _README, DEFLATED if doc_id % 2 else STORED),
        ]
    )


def with_zip_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t: synth_zip(int(i), t),
        "application/zip",
        cols=("doc_id", text_col),
    )


def extract_zip_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Extract every bundle (full CRC-verified walk) and emit the
    member accounting plus the text payload — one Arrow map pass."""

    def rows(doc_id, payload):
        members = parse_zip(payload)
        by_name = {m["name"]: m for m in members}
        text_m = by_name.get(f"doc_{doc_id}/text.txt")
        meta_m = by_name.get(f"doc_{doc_id}/meta.json")
        if text_m is None or meta_m is None:
            raise ValueError(f"doc {doc_id}: bundle missing text/meta member")
        yield (
            int(doc_id),
            len(members),
            sum(1 for m in members if m["method"] == DEFLATED),
            sum(1 for m in members if m["method"] == STORED),
            sum(len(m["payload"]) for m in members),
            text_m["payload"].decode("utf-8"),
            len(meta_m["payload"]),
        )

    return map_payload(df, ZIP_DOC_SCHEMA, rows, id_col)
