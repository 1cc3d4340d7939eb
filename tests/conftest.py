from __future__ import annotations

import math
import os

import duckdb
import pytest

from pipeline_mf_etl_spark.session import get_spark
from pipeline_mf_etl_spark.sources.readers import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session", autouse=True)
def _drop_tmp_exports(tmp_path_factory):
    """An export dir (``.artifacts/ml_export/<tag>/<name>``) written for
    a corpus under this session's basetemp is never read again once that
    corpus is gone; remove each one at session end. Exports of the
    shared testdata dirs stay for the next run."""
    yield
    import glob
    import json
    import shutil

    from pipeline_mf_etl_spark.queries.export import _EXPORT_ROOT

    base = os.path.realpath(tmp_path_factory.getbasetemp())
    for meta_path in glob.glob(os.path.join(_EXPORT_ROOT, "*", "*", "_meta.json")):
        with open(meta_path) as fh:
            sf_dir = os.path.realpath(json.load(fh).get("sf_dir", ""))
        if os.path.commonpath([base, sf_dir]) == base:
            shutil.rmtree(os.path.dirname(meta_path))
            tag_dir = os.path.dirname(os.path.dirname(meta_path))
            if not os.listdir(tag_dir):
                os.rmdir(tag_dir)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_ORACLE, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def canonical_rows(rows, colnames):
    """Order-insensitive canonical form: sort columns by name, normalize
    values (floats rounded, date/ts to iso), sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, bool):
            return f"b:{int(v)}"
        if isinstance(v, float):
            if math.isnan(v):
                return "f:nan"
            return f"f:{round(v, 9):.9f}"
        if isinstance(v, int):
            return f"i:{v}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return f"s:{v}"

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out
