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


# Reads and schemas recorded before the shard writers and readers were
# folded onto one skeleton (_write_shards / _fetch_shards / _scan_shards).
# The hash-placed layouts' files and index were re-recorded when
# placement moved onto the shard-value path the ordered layouts use:
# pmod(id, 2) now fills both shards.
_PINS: dict[str, dict] = {
    "arrow": {
        "files": {
            "shard-00000.arrow": "33af757acd617bdc3995db8f0cf85d5f4da09c7b84857d805667f195e7338f5f",
            "shard-00001.arrow": "d3f9e85c85a736b454aa9dc47f5ab25ed17bf01117ef635b44f3e9015f47a7eb",
        },
        "index": "ec95ba224bb1a7fc097148bce59e407a5c8030242ab02b5bae62dc055f52398d",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
            "scan": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "0d348e274ec50fcdcb04bd544be7f161d9a925bce881c2011b86622f8d97aa52",
    },
    "arrow_embeddings": {
        "files": {
            "shard-00000.arrow": "616c6195c41516baa158c501527c1c1d0bd481d3c1561c561fa5939f231c6f70",
            "shard-00001.arrow": "7e6eee67fa34afd519b228f49da8cd4ebdc33ee19b5ef97e465291a0f30cf8d4",
        },
        "index": "73317075027203ad597f5d95e8109eca96f58a71ad2f646e88deaf442d8d4c2d",
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
            "dump-00000.jsonl.bz2": "d0f0591905ad7ce23291dd5c54c98a25ccfc171b11d273e276e49034fad38354",
            "dump-00001.jsonl.bz2": "14c7b2ae07e8adbe4972906cb602bbfd9cffc8db21bc5a1228f3321bf3ed4b70",
        },
        "index": "41502376fb5870f687abf9290448d1da330acccbc809c16e1c6d98adc4d72c19",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "8d50c5cb18433bde46b69096984bdd74b42bb2e464b9b7a47d8befa92827d380",
    },
    "jsonl_zst": {
        "files": {
            "shard-00000.jsonl.zst": "3662ca8cf774e22fb721951fa5379ef77a8d21c1ae8418e93744983f4ccdc93a",
            "shard-00001.jsonl.zst": "13a561b9b89378a573cc6dee08fc62876ac19ee7d9b232ed4a42764ddb198b5d",
        },
        "index": "697aaa12b111cf7d119ccecc6d12ee57b0c44d612fa76ea4c077b73804be7d4a",
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
            "shard-00000.npz": "e0b91781ebe1bf351c4c63a522e5ca62c746ed656b57d9421bef699c8e9565be",
            "shard-00001.npz": "63e90471a63a2a530df2956f41fd91fdc4fd526b7ae7df5c7727712baccbd26b",
        },
        "index": "97871e9f4202e45a12318955c919b731ad57703b2537bf19b1dca1517d34ebe4",
        "reads": {
            "rows": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "583287a7be8187d5d7a6a107c3499b72eab8ec56b6c25f1774424d401f154c51",
    },
    "safetensors": {
        "files": {
            "shard-00000.safetensors": "f78351a54ae726c43c945d0e96ee7cb2c32011395ce7daffd4f9d8bae728348a",
            "shard-00001.safetensors": "bbd998fb819a6a4a9cf3a743095e98230855ed2b7ac56fe9c89667eb51e64d83",
        },
        "index": "c0a5b427483be68cf62d75267fdc750bfee546c2315e6476604dbe49dc9daa39",
        "reads": {
            "rows": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "583287a7be8187d5d7a6a107c3499b72eab8ec56b6c25f1774424d401f154c51",
    },
    "tfrecord": {
        "files": {
            "shard-00000.tfrecord": "2eb1e507086b6891bcf537b2682842850a4d16f50dc746a42a679d75acf299ce",
            "shard-00001.tfrecord": "d3b22eeb817a8e84b0ea42797a3c2b1afb8fc571f3b03d45ac318e2a1c8b9f23",
        },
        "index": "11c737cb0497a7682343dbb84857ad16a62a63368f2cd570a6ca958bd141fb5a",
        "reads": {
            "docs": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
            "scan": "caf5203c270e8de94dcce0a0bac9cd7f7d069e345c09511f1ce2c93a0f226650",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "tfrecord_embeddings": {
        "files": {
            "shard-00000.tfrecord": "b90e0fb2b5ba66f013bfec47d965e57fd8e904842c780e0af7d46a876f57a0e9",
            "shard-00001.tfrecord": "0427da272c000ee5d7db9a10a976518ad84a87c056a77b33cd74845b26ef04cc",
        },
        "index": "d3e8c871390ddeb937741c57556c52a8779f28d166c71366d45874a0e07d8232",
        "reads": {
            "docs": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
            "scan": "f601f3116f9941f2b690fd7ad5e82e6f77ea4eab13da6b6165d8dadc59a9673e",
        },
        "schema": "11bab6a1711a7c29ff753aa6ab6ef2d5da6a1309aca7f9a3970a3125d4678fda",
    },
    "tfrecord_gzip": {
        "files": {
            "shard-00000.tfrecord.gz": "d52fdf3cc3a442856d9a2d19319c109f8f11fe04b188d896f8e15ec56354578d",
            "shard-00001.tfrecord.gz": "b833dec81a73b3e6096f080ac5eaeec6f202f06960f147b84b619a7f5d798bbb",
        },
        "index": "5cf0348ed421b56d4128459a701196b832db3d4761adb9fa8da39066ef33ba72",
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
    got = shard_digests(spark, name, str(tmp_path / name))
    if not name.endswith("_ordered"):
        # the pinned frames hold ids of both parities, so hash placement
        # at n_shards=2 must write both shard files
        assert len(got["files"]) == 2, sorted(got["files"])
    assert got == _PINS[name]


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
    """Drift guard: placement, publish and the shard-file listing each
    appear once in corpus_io.py (in _write_shards, _fetch_shards and
    _scan_shards), not once per format; no writer names a shard file by
    its task id."""
    with open(ci.__file__, encoding="utf-8") as fh:
        counts = _attribute_counts(ast.parse(fh.read()))
    assert {
        k: counts.get(k, 0)
        for k in ("mapInPandas", "os.replace", "TaskContext.get", "createDataFrame")
    } == {"mapInPandas": 3, "os.replace": 1, "TaskContext.get": 0, "createDataFrame": 1}
