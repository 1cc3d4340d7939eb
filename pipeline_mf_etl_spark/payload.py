"""The one Arrow-batch path for every per-document codec step.

A codec island is a map-only pair of Python steps over Arrow batches:
a synthesizer that appends an opaque ``payload`` BinaryType column
(plus a literal ``mime``) computed per row from typed columns, and a
decoder that reads ``(id, payload)`` and emits zero, one or many typed
rows per document. :func:`synth_payload` and :func:`map_payload` are
the only places those steps meet ``mapInPandas``, so batch size, Arrow
conversion and any future batch tuning are set here and nowhere else.

Each codec keeps its own per-row function and its own NULL-payload
policy: :func:`map_payload` hands ``None`` through for a NULL payload
and lets the row function decide whether to skip the document or emit
a placeholder row.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType


def synth_payload(
    df: DataFrame,
    encode: Callable[..., bytes | None],
    mime: str,
    cols: Sequence[str] = ("doc_id", "text"),
    nullable: bool = False,
) -> DataFrame:
    """Append ``payload = encode(*row[cols])`` and ``mime = lit(mime)``
    to every row of ``df``, keeping its columns. ``nullable`` is the
    declared nullability of ``payload``: True only when ``encode`` may
    return ``None``."""
    schema = StructType(df.schema.fields + [StructField("payload", BinaryType(), nullable)])

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [encode(*row) for row in zip(*(pdf[c] for c in cols))]
            yield pdf

    return df.mapInPandas(synth, schema).withColumn("mime", F.lit(mime))


def map_payload(
    df: DataFrame,
    schema: StructType,
    rows: Callable[[object, bytes | None], Iterable[tuple]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode ``df``'s ``(id_col, payload)`` pairs into ``schema`` rows.
    ``rows(doc_id, payload)`` gets the id as read from the batch and the
    payload as ``bytes`` (``None`` when NULL), and yields zero, one or
    many tuples in ``schema``'s field order."""
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            out = [
                r
                for doc_id, payload in zip(pdf[id_col], pdf["payload"])
                for r in rows(doc_id, None if payload is None else bytes(payload))
            ]
            yield pd.DataFrame(out, columns=names)

    return df.select(id_col, "payload").mapInPandas(run, schema)


def content_digest(content: bytes) -> tuple[int, str, str]:
    """``(size, md5 hex, first line)`` of decompressed content: the
    integrity columns every compression extractor emits."""
    return (
        len(content),
        hashlib.md5(content).hexdigest(),
        content.decode("utf-8").split("\n", 1)[0],
    )
