"""TFRecord source/sink — the TensorFlow training-data container.

Large training pipelines interchange examples as TFRecord shards: a
flat stream of length-prefixed records, each integrity-checked with the
same masked CRC-32C the snappy framing format uses, and each payload a
``tf.Example`` protocol-buffer message (a string-keyed map of
bytes/float/int64 lists). Both layers here are dependency-free and
derived from the published specs only:

- **Record framing** (TFRecord format, tensorflow/core/lib/io/
  record_writer.cc documentation): ``uint64-LE length`` +
  ``uint32-LE masked-crc32c(length-bytes)`` + ``payload`` +
  ``uint32-LE masked-crc32c(payload)``; ``mask(c) = ((c >> 15) |
  (c << 17)) + 0xa282ead8``. The CRC-32C and mask are shared with
  ``sources/snappyframe.py`` (validated there against the published
  check value ``crc32c("123456789") == 0xE3069283``).
- **tf.Example wire format** (protobuf encoding spec +
  tensorflow/core/example/{example,feature}.proto): ``Example.features
  = 1`` -> ``Features.feature = 1`` (a ``map<string, Feature>``, i.e.
  repeated entry messages with ``key = 1``/``value = 2``) ->
  ``Feature`` one-of ``bytes_list = 1 / float_list = 2 /
  int64_list = 3``; each list is ``repeated value = 1`` (bytes
  length-delimited; floats 4-byte LE, int64 varints — numeric lists
  are written PACKED, the proto3 default, and the decoder accepts both
  packed and unpacked forms as the spec requires of parsers).

Encoding is deterministic: map entries are emitted in sorted-key order
(protobuf serialization order is unspecified, so a decoder can never
assume it; ours accepts any order). Decoding is strict: unknown fields,
wrong wire types, varint overflow, truncated lengths, and both CRC
mismatches all raise — a corrupt shard must never decode silently (the
c1/c5/c9 contract).

Reference parity: the reference ingests delimited text only
(ingest/read_txt.py); TFRecord is an engine ADDITION for the
training-data export surface, the same family as the seekable-zstd
(c10) and bzip2-dump (c12) layouts.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

from pipeline_mf_etl_spark.bitio import uvarint_decode, uvarint_encode
from pipeline_mf_etl_spark.sources.snappyframe import _mask_crc, crc32c

#: Feature kinds, in the field-number order of the Feature one-of.
KINDS = ("bytes", "float", "int64")

_U64 = struct.Struct("<Q")
_U32 = struct.Struct("<I")
_I64_MASK = (1 << 64) - 1


# ---------------------------------------------------------------------------
# protobuf primitives
# ---------------------------------------------------------------------------


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    n, pos = uvarint_decode(data, pos, 10)  # an int64 varint is at most 10 bytes
    if n > _I64_MASK:
        raise ValueError("tfrecord: varint exceeds 64 bits")
    return n, pos


def _read_tag(data: bytes, pos: int) -> tuple[int, int, int]:
    tag, pos = _read_uvarint(data, pos)
    return tag >> 3, tag & 7, pos


def _read_len_delimited(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_uvarint(data, pos)
    if pos + n > len(data):
        raise ValueError("tfrecord: length-delimited field overruns buffer")
    return data[pos : pos + n], pos + n


def _ld(field: int, payload: bytes) -> bytes:
    """A length-delimited (wire type 2) field."""
    return uvarint_encode((field << 3) | 2) + uvarint_encode(len(payload)) + payload


# ---------------------------------------------------------------------------
# tf.Example encode
# ---------------------------------------------------------------------------


def _encode_feature(kind: str, values: list) -> bytes:
    if kind == "bytes":
        body = b"".join(_ld(1, v) for v in values)
        return _ld(1, body)
    if kind == "float":
        # packed repeated float: one length-delimited run of 4-byte LE
        body = b"".join(struct.pack("<f", float(v)) for v in values)
        return _ld(2, _ld(1, body) if values else b"")
    if kind == "int64":
        body = b"".join(uvarint_encode(int(v) & _I64_MASK) for v in values)
        return _ld(3, _ld(1, body) if values else b"")
    raise ValueError(f"tfrecord: unknown feature kind {kind!r}")


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Serialize ``{name: (kind, values)}`` as a ``tf.Example`` message.

    ``kind`` is one of :data:`KINDS`; bytes values must be ``bytes``
    (callers encode text as UTF-8 themselves so the byte contract is
    explicit). Entries are emitted in sorted-key order for determinism.
    """
    body = bytearray()
    for name in sorted(features):
        kind, values = features[name]
        if kind == "bytes" and any(not isinstance(v, bytes) for v in values):
            raise TypeError(f"tfrecord: feature {name!r} bytes values must be bytes")
        entry = _ld(1, name.encode("utf-8")) + _ld(2, _encode_feature(kind, values))
        body += _ld(1, entry)
    return bytes(_ld(1, bytes(body)))


# ---------------------------------------------------------------------------
# tf.Example decode (strict walk)
# ---------------------------------------------------------------------------


def _decode_bytes_list(data: bytes) -> list:
    out, pos = [], 0
    while pos < len(data):
        field, wt, pos = _read_tag(data, pos)
        if field != 1 or wt != 2:
            raise ValueError(f"tfrecord: BytesList field {field} wire {wt}")
        v, pos = _read_len_delimited(data, pos)
        out.append(v)
    return out


def _decode_float_list(data: bytes) -> list:
    out, pos = [], 0
    while pos < len(data):
        field, wt, pos = _read_tag(data, pos)
        if field != 1:
            raise ValueError(f"tfrecord: FloatList field {field}")
        if wt == 5:  # unpacked single float
            if pos + 4 > len(data):
                raise ValueError("tfrecord: truncated float")
            out.append(struct.unpack_from("<f", data, pos)[0])
            pos += 4
        elif wt == 2:  # packed run
            run, pos = _read_len_delimited(data, pos)
            if len(run) % 4:
                raise ValueError("tfrecord: packed float run not 4-aligned")
            out.extend(
                struct.unpack(f"<{len(run) // 4}f", run) if run else ()
            )
        else:
            raise ValueError(f"tfrecord: FloatList wire type {wt}")
    return out


def _i64(n: int) -> int:
    return n - (1 << 64) if n >= 1 << 63 else n


def _decode_int64_list(data: bytes) -> list:
    out, pos = [], 0
    while pos < len(data):
        field, wt, pos = _read_tag(data, pos)
        if field != 1:
            raise ValueError(f"tfrecord: Int64List field {field}")
        if wt == 0:  # unpacked single varint
            n, pos = _read_uvarint(data, pos)
            out.append(_i64(n))
        elif wt == 2:  # packed run
            run, pos = _read_len_delimited(data, pos)
            p = 0
            while p < len(run):
                n, p = _read_uvarint(run, p)
                out.append(_i64(n))
        else:
            raise ValueError(f"tfrecord: Int64List wire type {wt}")
    return out


def _decode_feature(data: bytes) -> tuple[str, list]:
    pos = 0
    kind: str | None = None
    values: list = []
    while pos < len(data):
        field, wt, pos = _read_tag(data, pos)
        if wt != 2 or field not in (1, 2, 3):
            raise ValueError(f"tfrecord: Feature field {field} wire {wt}")
        if kind is not None:
            raise ValueError("tfrecord: Feature sets more than one list kind")
        body, pos = _read_len_delimited(data, pos)
        kind = KINDS[field - 1]
        values = (
            _decode_bytes_list(body)
            if field == 1
            else _decode_float_list(body)
            if field == 2
            else _decode_int64_list(body)
        )
    if kind is None:
        raise ValueError("tfrecord: Feature with no list kind")
    return kind, values


def decode_example(payload: bytes) -> dict[str, tuple[str, list]]:
    """Parse a ``tf.Example`` message back to ``{name: (kind, values)}``.

    Accepts map entries in any order and numeric lists in packed or
    unpacked form; duplicate feature names, unknown fields, and wire-
    type violations raise.
    """
    pos = 0
    feats: dict[str, tuple[str, list]] = {}
    while pos < len(payload):
        field, wt, pos = _read_tag(payload, pos)
        if field != 1 or wt != 2:
            raise ValueError(f"tfrecord: Example field {field} wire {wt}")
        features_msg, pos = _read_len_delimited(payload, pos)
        ep = 0
        while ep < len(features_msg):
            efield, ewt, ep = _read_tag(features_msg, ep)
            if efield != 1 or ewt != 2:
                raise ValueError(
                    f"tfrecord: Features field {efield} wire {ewt}"
                )
            entry, ep = _read_len_delimited(features_msg, ep)
            name = ""
            feature: bytes | None = None
            kp = 0
            while kp < len(entry):
                kfield, kwt, kp = _read_tag(entry, kp)
                if kwt != 2 or kfield not in (1, 2):
                    raise ValueError(
                        f"tfrecord: map entry field {kfield} wire {kwt}"
                    )
                body, kp = _read_len_delimited(entry, kp)
                if kfield == 1:
                    name = body.decode("utf-8")
                else:
                    feature = body
            if feature is None:
                raise ValueError(f"tfrecord: map entry {name!r} has no value")
            if name in feats:
                raise ValueError(f"tfrecord: duplicate feature {name!r}")
            feats[name] = _decode_feature(feature)
    return feats


# ---------------------------------------------------------------------------
# record framing
# ---------------------------------------------------------------------------


def frame_record(payload: bytes) -> bytes:
    """One framed TFRecord: length + masked length-CRC + data + data-CRC."""
    ln = _U64.pack(len(payload))
    return (
        ln
        + _U32.pack(_mask_crc(crc32c(ln)))
        + payload
        + _U32.pack(_mask_crc(crc32c(payload)))
    )


def framed_length(payload_length: int) -> int:
    """Bytes a record of ``payload_length`` occupies in the stream."""
    return 16 + payload_length


def write_tfrecord(payloads: Iterable[bytes]) -> bytes:
    """Frame an iterable of record payloads into one TFRecord stream."""
    return b"".join(frame_record(p) for p in payloads)


def iter_tfrecord(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Walk a TFRecord stream, yielding ``(offset, framed_len, payload)``
    with both CRCs verified per record. Truncation at any point raises."""
    pos = 0
    while pos < len(data):
        if pos + 12 > len(data):
            raise ValueError("tfrecord: truncated record header")
        ln_bytes = data[pos : pos + 8]
        if _U32.unpack_from(data, pos + 8)[0] != _mask_crc(crc32c(ln_bytes)):
            raise ValueError(f"tfrecord: length CRC mismatch at offset {pos}")
        (n,) = _U64.unpack(ln_bytes)
        end = pos + 16 + n
        if end > len(data):
            raise ValueError(f"tfrecord: truncated record at offset {pos}")
        payload = data[pos + 12 : pos + 12 + n]
        if _U32.unpack_from(data, pos + 12 + n)[0] != _mask_crc(
            crc32c(payload)
        ):
            raise ValueError(f"tfrecord: data CRC mismatch at offset {pos}")
        yield pos, 16 + n, payload
        pos = end


def read_tfrecord_at(data: bytes) -> bytes:
    """Parse EXACTLY one framed record (the point-lookup unit: ``data``
    is the byte range an index row addresses). Verifies both CRCs and
    that the range holds one whole record, nothing more."""
    records = list(iter_tfrecord(data))
    if len(records) != 1:
        raise ValueError(
            f"tfrecord: byte range holds {len(records)} records, expected 1"
        )
    return records[0][2]
