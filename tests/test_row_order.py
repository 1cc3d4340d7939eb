"""Results must not depend on input row order or shuffle partitioning.

Each case stages seeded row permutations of an sf0.1 table under
``tmp_path`` (split into several files, so the scan also runs as
several tasks), runs the query on every copy at 1 and at 4 shuffle
partitions, and asserts the collected rows are identical, unrounded.
For v4 this checks that the HMM decode fold sees each series' rows in
series order whatever order they arrive in.
sf0.1 rather than sf0.01: with 10x the rows per group, a task-order
double sum drifts far enough to cross a 2-dp rounding boundary (a1's
``sum_disc_price`` did), where at sf0.01 the rounding still hides it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pipeline_mf_etl_spark.queries import all_queries
from pipeline_mf_etl_spark.queries.export import _EXPORT_ROOT, _tag
from pipeline_mf_etl_spark.queries.ml import _HMM_EXPORT_CACHE
from tests.conftest import SF_SMOKE

SF_BENCH = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def _stage_shuffled(table: str, dst: str, seed: int, n_files: int = 3) -> None:
    """Write a seeded row permutation of ``table`` as ``n_files`` parquet
    files under ``dst/<table>.parquet/``."""
    t = pq.read_table(os.path.join(SF_BENCH, f"{table}.parquet"))
    t = t.take(pa.array(np.random.default_rng(seed).permutation(t.num_rows)))
    out = os.path.join(dst, f"{table}.parquet")
    os.makedirs(out)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step), os.path.join(out, f"part-{i}.parquet"))


# dimension tables a query joins; staged shuffled next to its fact table
_DIMS = {"j2_broadcast_enrich": ("part", "supplier", "nation")}


@pytest.mark.parametrize(
    "name, table",
    [
        ("a1_grouped_stats", "lineitem"),
        ("j2_broadcast_enrich", "lineitem"),
        ("v4_hmm_ribbon", "events"),
    ],
)
def test_rows_ignore_row_order_and_shuffle_partitions(spark, tmp_path, name, table):
    fn = all_queries()[name].spark
    dirs = [str(tmp_path / f"seed{s}") for s in range(3)]
    for s, d in enumerate(dirs):
        for t in (table, *_DIMS.get(name, ())):
            _stage_shuffled(t, d, s)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in (1, 4):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            for d in dirs:
                # v4's decode is memoized per (session, sf dir): without
                # this the 4-partition leg would read the 1-partition export
                _HMM_EXPORT_CACHE.clear()
                results[(d, parts)] = sorted(tuple(r) for r in fn(spark, d).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        for d in dirs:  # v4's per-sf-dir export lands in the shared export root
            shutil.rmtree(os.path.join(_EXPORT_ROOT, _tag(d)), ignore_errors=True)
    first = next(iter(results.values()))
    assert first
    for key, rows in results.items():
        assert rows == first, key
