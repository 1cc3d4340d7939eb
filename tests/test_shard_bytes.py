"""Byte-level contracts of the corpus shard layouts.

``test_shard_layout_is_pinned`` writes one fixed documents frame (non-
ASCII text, JSON-escaped characters, NULL cells, a NULL id) and one
fixed embeddings frame through every shard writer of
``sources/corpus_io.py`` at ``n_shards=2``, then pins the sha256 of each
shard file, of the sorted ``_index`` rows and of the ``_index`` schema
JSON, plus the sorted rows every point-lookup and full-scan reader
returns for that layout. A refactor of the shared shard machinery that
moves one byte of a shard file, one index row or one decoded value
fails here instead of only in a round trip.

``test_corpus_io_has_one_shard_skeleton`` guards against the per-format
copies of that machinery growing back.
"""

from __future__ import annotations

import ast
import hashlib
import os

import pytest

from pipeline_mf_etl_spark.sources import corpus_io as ci

_WORDS = [
    "alpha", "naïve", "café", "日本語", "Ωμέγα", "🚀", 'quo"te',
    "tab\tsep", "line\nbreak", "straße", "back\\slash", "zeta",
]


def _doc_rows() -> list[tuple]:
    rows = []
    for i in range(1, 41):
        text = " ".join(_WORDS[(i * k) % len(_WORDS)] for k in range(1, 4 + i % 9))
        rows.append(
            (
                i,
                None if i % 13 == 0 else text,
                None if i % 7 == 0 else ("ja" if i % 3 == 0 else "en"),
                None if i % 11 == 0 else f"src-{i % 4}",
                None if i % 5 == 0 else len(text),
            )
        )
    rows.append((None, "no id", "en", "src-x", 5))
    return rows


def _docs(spark):
    return spark.createDataFrame(_doc_rows(), ci.DOCUMENTS_SCHEMA)


def _order(spark):
    # three assignment shards over two tasks: one task owns two shards
    return spark.createDataFrame(
        [(i % 3, i, (i * 7) % 41) for i in range(1, 41)],
        "shard long, doc_id long, pos long",
    )


def _embeddings(spark):
    return spark.createDataFrame(
        [(i, [i * 0.25 - k * 1.5 for k in range(4)], i % 3) for i in range(1, 25)],
        ci.EMBEDDINGS_SCHEMA,
    )


_EMB = {"schema": ci.EMBEDDINGS_SCHEMA, "id_col": "vec_id"}

_WRITERS = {
    "jsonl_zst": lambda s, out: ci.write_jsonl_zst_corpus(
        _docs(s), out, n_shards=2, frame_content_size=256
    ),
    "jsonl_zst_ordered": lambda s, out: ci.export_ordered_jsonl_zst(
        _docs(s), _order(s), out, n_shards=2, frame_content_size=256
    ),
    "jsonl_bz2_dump": lambda s, out: ci.write_jsonl_bz2_dump(
        _docs(s), out, n_shards=2, docs_per_stream=8
    ),
    "tfrecord": lambda s, out: ci.write_tfrecord_corpus(_docs(s), out, n_shards=2),
    "tfrecord_gzip": lambda s, out: ci.write_tfrecord_corpus(
        _docs(s), out, n_shards=2, compression="gzip"
    ),
    "tfrecord_embeddings": lambda s, out: ci.write_tfrecord_corpus(
        _embeddings(s), out, n_shards=2, **_EMB
    ),
    "tfrecord_ordered": lambda s, out: ci.export_ordered_tfrecord(
        _docs(s), _order(s), out, n_shards=2
    ),
    "arrow": lambda s, out: ci.write_arrow_corpus(
        _docs(s), out, n_shards=2, batch_rows=8
    ),
    "arrow_embeddings": lambda s, out: ci.write_arrow_corpus(
        _embeddings(s), out, n_shards=2, batch_rows=8, **_EMB
    ),
    "arrow_ordered": lambda s, out: ci.export_ordered_arrow(
        _docs(s), _order(s), out, n_shards=2, batch_rows=8
    ),
    "safetensors": lambda s, out: ci.write_safetensors_corpus(
        _embeddings(s), out, n_shards=2
    ),
    "npz": lambda s, out: ci.write_npz_corpus(_embeddings(s), out, n_shards=2),
}


def _zst_one_by_one(s, index, out):
    return [
        tuple(
            ci.read_jsonl_zst_doc(
                os.path.join(out, r["shard"]), r["offset"], r["length"]
            ).values()
        )
        for r in index.collect()
    ]


_ZST_READERS = {
    "docs": lambda s, index, out: ci.read_jsonl_zst_docs(index, out).collect(),
    "doc": _zst_one_by_one,
}
_TFRECORD_READERS = {
    "docs": lambda s, index, out: ci.read_tfrecord_docs(index, out).collect(),
    "scan": lambda s, index, out: ci.read_tfrecord_corpus(s, out).collect(),
}
_ARROW_READERS = {
    "docs": lambda s, index, out: ci.read_arrow_docs(index, out).collect(),
    "scan": lambda s, index, out: ci.read_arrow_corpus(s, out).collect(),
}

_READERS = {
    "jsonl_zst": _ZST_READERS,
    "jsonl_zst_ordered": _ZST_READERS,
    "jsonl_bz2_dump": {
        "docs": lambda s, index, out: ci.read_jsonl_bz2_docs(index, out).collect(),
    },
    "tfrecord": _TFRECORD_READERS,
    "tfrecord_gzip": _TFRECORD_READERS,
    "tfrecord_ordered": _TFRECORD_READERS,
    "tfrecord_embeddings": {
        "docs": lambda s, index, out: ci.read_tfrecord_docs(
            index, out, schema=ci.EMBEDDINGS_SCHEMA
        ).collect(),
        "scan": lambda s, index, out: ci.read_tfrecord_corpus(
            s, out, schema=ci.EMBEDDINGS_SCHEMA
        ).collect(),
    },
    "arrow": _ARROW_READERS,
    "arrow_ordered": _ARROW_READERS,
    "arrow_embeddings": {
        "docs": lambda s, index, out: ci.read_arrow_docs(
            index, out, schema=ci.EMBEDDINGS_SCHEMA
        ).collect(),
        "scan": lambda s, index, out: ci.read_arrow_corpus(
            s, out, schema=ci.EMBEDDINGS_SCHEMA
        ).collect(),
    },
    "safetensors": {
        "rows": lambda s, index, out: ci.read_safetensors_rows(index, out).collect(),
        "scan": lambda s, index, out: ci.read_safetensors_corpus(s, out).collect(),
    },
    "npz": {
        "rows": lambda s, index, out: ci.read_npz_rows(index, out).collect(),
        "scan": lambda s, index, out: ci.read_npz_corpus(s, out).collect(),
    },
}


def _sha(data: bytes | str) -> str:
    if isinstance(data, str):
        data = data.encode("utf-8")
    return hashlib.sha256(data).hexdigest()


def _rows_sha(rows) -> str:
    return _sha("\n".join(sorted(repr(tuple(r)) for r in rows)))


def shard_digests(spark, name: str, out: str) -> dict:
    """Write case ``name`` to ``out`` and digest its files, index and
    reader outputs."""
    index = _WRITERS[name](spark, out)
    files = {}
    for fn in sorted(os.listdir(out)):
        if not fn.startswith(("_", ".")):
            with open(os.path.join(out, fn), "rb") as fh:
                files[fn] = _sha(fh.read())
    return {
        "files": files,
        "index": _rows_sha(index.collect()),
        "schema": _sha(index.schema.json()),
        "reads": {
            k: _rows_sha(read(spark, index, out))
            for k, read in sorted(_READERS[name].items())
        },
    }


# recorded before the shard writers and readers were folded onto one
# skeleton (_write_shards / _fetch_shards / _scan_shards)
_PINS: dict[str, dict] = {
    "arrow": {
        "files": {
            "shard-00001.arrow": "5423531b017466cde7add26c697ebb82d952b788da5bf08cf23f111553517bd3",
        },
        "index": "5dec397ea3eca6adc97aea6b56af1abb2bfeecf9b151b6c395097cad5ec4794a",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
            "scan": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "0d348e274ec50fcdcb04bd544be7f161d9a925bce881c2011b86622f8d97aa52",
    },
    "arrow_embeddings": {
        "files": {
            "shard-00001.arrow": "ef12d07e3944e707df157cfdce3815eba7fa59f578b885d2d084eb5a271e838b",
        },
        "index": "d89e8f93f41acd794a4c036023ba36607b1577e112cdc727c3ba7d902f760ac4",
        "reads": {
            "docs": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "0d348e274ec50fcdcb04bd544be7f161d9a925bce881c2011b86622f8d97aa52",
    },
    "arrow_ordered": {
        "files": {
            "shard-00000.arrow": "e6eed1a83d74c4c5020de4a71ef80349acca26d4273596219b7141b1da1bcdb3",
            "shard-00001.arrow": "481b4e8b7481732a480f13da722f07a5ac04d36958d9215088a71ba352289e91",
            "shard-00002.arrow": "8847b2b68a06cc4bf65d3518d8fd127727ddee0a960d5a7719b1af5b12a94d73",
        },
        "index": "3289ae91d8554b3dd9cbe3dc7a6a808bca5cdb9161d86cf8c5743e79ef7a39fd",
        "reads": {
            "docs": "5dd8d804cc63503ddcb24e79995b8b5ffeb409c986a1ae39bc2b59287a5d0c63",
            "scan": "5dd8d804cc63503ddcb24e79995b8b5ffeb409c986a1ae39bc2b59287a5d0c63",
        },
        "schema": "bebb9b99157e4eca66a4c2ef2c448af808c1582be8043d5a872df910dab4a828",
    },
    "jsonl_bz2_dump": {
        "files": {
            "dump-00001.jsonl.bz2": "fd21ca220ba8e563ebc1428c5dfccb563a03ada1ca4d505993966993921a279d",
        },
        "index": "4c02c2eabfe11e6b7da74fbebe63e32ddf258753cd4b1dcb42fa297d1bdf03c0",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "8d50c5cb18433bde46b69096984bdd74b42bb2e464b9b7a47d8befa92827d380",
    },
    "jsonl_zst": {
        "files": {
            "shard-00001.jsonl.zst": "b7a4ff78e39944bca6adb5886cc895fa6a93207e5e6ea7fcde14eeebdb25043f",
        },
        "index": "4c41bfdba038b48a5c8a162a8c587ccd5a15fb8c6ec4b8341c9abf9e9ebffe51",
        "reads": {
            "doc": "eddaa01c2652645964881d4c179f1cdcaa068a7e4743ee31609e1301ee04429c",
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "jsonl_zst_ordered": {
        "files": {
            "shard-00000.jsonl.zst": "18b6761e59f9d3d94baa6cecb213966c7cde4cbdc8da88a58d3266875a5c905b",
            "shard-00001.jsonl.zst": "f9598163b7befdfabb65b257dc43bdaf05123fe56f8a16b6d944dac260735633",
            "shard-00002.jsonl.zst": "3e6f4e99460f67702525368d16664c0ac0f1ebea35a8c1c56e765f4e987ebf2a",
        },
        "index": "372b534b38180ca509c4e5d45987c7d7967ea5106bd7e7a45c2104648715fa93",
        "reads": {
            "doc": "c2ec3f1d72c6f79455b83d2ff3c429885acd1e342190dfba98acc10dc4f05cda",
            "docs": "5dd8d804cc63503ddcb24e79995b8b5ffeb409c986a1ae39bc2b59287a5d0c63",
        },
        "schema": "10da6297881c3e78be2295bf46ed65f518384bc7d7c58433f6d52634b79f9864",
    },
    "npz": {
        "files": {
            "shard-00001.npz": "420feed92092880c3dec8b87bd693721f5b3e3b426630796fc641b238f0a0365",
        },
        "index": "aca05170787a945e12de8d68e3686b6b56be1d165ea74f502e776b7b9282357e",
        "reads": {
            "rows": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "583287a7be8187d5d7a6a107c3499b72eab8ec56b6c25f1774424d401f154c51",
    },
    "safetensors": {
        "files": {
            "shard-00001.safetensors": "fd671bda0b836b7b40d87cbafea90d3b16913b40aa5eea6a40e680dc1b2a798b",
        },
        "index": "a2b71e1535f51e454b9c2330b71b84c2377818e0ac24e5826705b555f2256312",
        "reads": {
            "rows": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "583287a7be8187d5d7a6a107c3499b72eab8ec56b6c25f1774424d401f154c51",
    },
    "tfrecord": {
        "files": {
            "shard-00001.tfrecord": "783a7ef99d0bbaf29745d84f16dbb6e74434b360bfa97eef82134557bbd9cc8e",
        },
        "index": "ef35a92a686379ed41df3532afa835be4dd4c342c11de5b593bf958b022015b7",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
            "scan": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "tfrecord_embeddings": {
        "files": {
            "shard-00001.tfrecord": "8fd43a1492380f250387c891c30a9cf6d057b8bd07d68325a8cf81376dc0e85b",
        },
        "index": "4fb1cf01e00c2faf50ec894a6d359aa6c84e5f22714a840b6cea9595b662ef44",
        "reads": {
            "docs": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "tfrecord_gzip": {
        "files": {
            "shard-00001.tfrecord.gz": "f1fbab48b6982897366f35ba9d4d5050c14d4c2950929b51335c49734afdb742",
        },
        "index": "410971a02cb51c0d41002e147d0034b695c5ac08a896d66d2a910c81244caf2e",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
            "scan": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "tfrecord_ordered": {
        "files": {
            "shard-00000.tfrecord": "1b05db8a10a2905f035767b08823fccff3c988405df8acaef98a627c9a76d0d0",
            "shard-00001.tfrecord": "15f24fa398beb60f5ef7131a22b678ae09782ca997f59039f6077e20d9ce2e8c",
            "shard-00002.tfrecord": "079a523d7f768803dfcb400ffbb5b01ec0e8dd72d428f471b9fde818e39ff891",
        },
        "index": "23e9009c86a54b242c29260304885ae570f8784efc95328ef0a1106dbea8865c",
        "reads": {
            "docs": "5dd8d804cc63503ddcb24e79995b8b5ffeb409c986a1ae39bc2b59287a5d0c63",
            "scan": "5dd8d804cc63503ddcb24e79995b8b5ffeb409c986a1ae39bc2b59287a5d0c63",
        },
        "schema": "10da6297881c3e78be2295bf46ed65f518384bc7d7c58433f6d52634b79f9864",
    },
}


@pytest.mark.parametrize("name", sorted(_WRITERS))
def test_shard_layout_is_pinned(spark, tmp_path, name):
    assert shard_digests(spark, name, str(tmp_path / name)) == _PINS[name]


def test_bz2_lookup_keeps_unicode_line_separators(spark, tmp_path):
    """json.dumps leaves U+2028, U+2029 and U+0085 unescaped, so the
    dump reader must split a decoded stream on the newline byte only."""
    text = "para graph next\x85line"
    df = spark.createDataFrame(
        [(1, text, "en", "s", len(text)), (2, "after", "en", "s", 5)],
        ci.DOCUMENTS_SCHEMA,
    )
    out = str(tmp_path / "dump")
    index = ci.write_jsonl_bz2_dump(df, out, n_shards=1)
    got = sorted(tuple(r) for r in ci.read_jsonl_bz2_docs(index, out).collect())
    assert got == [(1, text, "en", "s", len(text)), (2, "after", "en", "s", 5)]


def _attribute_counts(tree: ast.AST) -> dict[str, int]:
    counts: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            keys = [node.attr]
            if isinstance(node.value, ast.Name):
                keys.append(f"{node.value.id}.{node.attr}")
            for key in keys:
                counts[key] = counts.get(key, 0) + 1
    return counts


def test_corpus_io_has_one_shard_skeleton():
    """Drift guard: placement, publish, task identity and the shard-file
    listing each appear once in corpus_io.py (in _write_shards,
    _fetch_shards and _scan_shards), not once per format."""
    with open(ci.__file__, encoding="utf-8") as fh:
        counts = _attribute_counts(ast.parse(fh.read()))
    assert {
        k: counts.get(k, 0)
        for k in ("mapInPandas", "os.replace", "TaskContext.get", "createDataFrame")
    } == {"mapInPandas": 3, "os.replace": 1, "TaskContext.get": 1, "createDataFrame": 1}
