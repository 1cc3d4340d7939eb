"""Contract of the frame-lifetime helper (``pipeline_mf_etl_spark.pin``).

``df.storageLevel`` asks the cache manager, which keys entries by
analyzed plan: two frames with the same plan report the same level, so
these checks see exactly what a lazy builder's returned plan would read.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pipeline_mf_etl_spark
from pipeline_mf_etl_spark import pin as pin_mod
from pipeline_mf_etl_spark.pin import pin, release
from tests.conftest import SF_ORACLE, SF_SMOKE

_SLOT = "test_pin"


def _evens(spark, n):
    return spark.range(n).selectExpr("id * 2 AS v")


def test_same_plan_repin_stays_cached(spark):
    """Evict-before-persist: persisting the second frame first would be a
    no-op on the shared plan entry, and evicting the first frame after it
    would then drop that entry."""
    first, second = _evens(spark, 10), _evens(spark, 10)
    try:
        pin(_SLOT, first)
        pin(_SLOT, second)
        assert second.storageLevel.useMemory
        assert pin_mod._SLOTS[_SLOT] is second
    finally:
        release(_SLOT)


def test_new_plan_evicts_previous(spark):
    first, other = _evens(spark, 10), _evens(spark, 7)
    try:
        pin(_SLOT, first)
        assert first.storageLevel.useMemory
        pin(_SLOT, other)
        assert not first.storageLevel.useMemory
        assert other.storageLevel.useMemory
    finally:
        release(_SLOT)


def test_release_empties_slot(spark):
    df = _evens(spark, 10)
    pin(_SLOT, df)
    release(_SLOT)
    assert _SLOT not in pin_mod._SLOTS
    assert not df.storageLevel.useMemory
    release(_SLOT)  # releasing an empty slot is a no-op


def test_pin_keeps_cache_storage_level(spark):
    """read_jsonl_corpus used ``.cache()``; ``pin`` must persist at the
    same level."""
    cached = _evens(spark, 5).cache()
    level = cached.storageLevel
    cached.unpersist()
    try:
        assert pin(_SLOT, _evens(spark, 5)).storageLevel == level
    finally:
        release(_SLOT)


def test_t9_releases_previous_trigram_counts(spark, monkeypatch):
    """t9's trigram-count table lives in a slot: a call over a new corpus
    evicts the table the previous call pinned instead of holding one per
    corpus for the session."""
    from pipeline_mf_etl_spark.queries.text import t9_trigram_lm

    frame_cls = type(spark.range(1))
    persist = frame_cls.persist
    persisted = []

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", recording_persist)
    t9_trigram_lm(spark, SF_SMOKE).collect()
    monkeypatch.undo()
    assert persisted
    t9_trigram_lm(spark, SF_ORACLE)
    assert not any(df.storageLevel.useMemory for df in persisted)


def test_pin_is_the_only_frame_slot_owner():
    """No engine module other than the helper keeps a module-level
    DataFrame slot or its own checkpoint-freeing routine."""
    root = Path(pipeline_mf_etl_spark.__file__).parent
    helper = root / "pin.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == helper:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(root)
        for node in tree.body:
            if isinstance(node, ast.AnnAssign) and "DataFrame" in ast.unparse(
                node.annotation
            ):
                offenders.append(f"{rel}:{node.lineno} {ast.unparse(node.target)}")
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name in (
                "free_checkpoint",
                "_free_local_checkpoint",
            ):
                offenders.append(f"{rel}:{node.lineno} def {node.name}")
    assert not offenders, offenders
