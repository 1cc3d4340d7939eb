"""Core scalar helpers shared across every layer.

These re-express the reference's most repeated scalar patterns as Spark
column expressions (SURVEY.md §2.10):

- epsilon-guarded safe division (reference: silver/features_base.py:54-57,
  silver/indicators_twiggs.py:35-38, gold/features_v1.py:41-42)
- finite-only normalization (reference: research/forward_labels.py:23-38,
  validation/dataset_adapters.py:111-128)
- typed-null column defaults + pinned column order
  (reference: silver/features_base.py:60-98)
- horizontal (row-wise) aggregates (reference: validate/rules.py:191-193)

Everything here is a pure Column expression — JVM-side, codegen-friendly,
no Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def safe_div(num: Column, den: Column, eps: float = 1e-12) -> Column:
    """num/den guarded by |den| > eps, else NULL. ``den`` appears twice in
    the CASE, so pass a projected column, not a window expression: a
    window inside is evaluated once per appearance."""
    return F.when(F.abs(den) > F.lit(eps), num / den).otherwise(F.lit(None))


def island_repartition(df: DataFrame, *keys) -> DataFrame:
    """Hash-repartition by ``keys`` with the partition count pinned to
    the session's configured shuffle parallelism — for exchanges that
    feed an Arrow→Python island (mapInPandas / applyInPandas).

    A bare ``repartition(*keys)`` is AQE-coalescible (REPARTITION_BY_COL):
    AQE sizes post-shuffle partitions by BYTES against the advisory
    partition size, which is the right model for JVM operators but wrong
    by orders of magnitude for Python islands, whose per-row cost dwarfs
    their byte size. Measured at bench scale (sf0.1, local[32]):
    every pandas island ran on 1-3 of 32 cores — the wd1 shard build put
    all 313 tar groups on ONE task, b6's whole trade sim ran on 2.
    Passing the count explicitly (REPARTITION_BY_NUM) opts this one
    exchange out of AQE coalescing; the count itself stays
    configuration-driven (``spark.sql.shuffle.partitions`` — the core
    count locally, 2-3x total executor cores on a cluster), so the
    island grain still scales with the deployment rather than with a
    hard-coded constant. Results are partitioning-invariant at every
    call site (per-key islands compute each key group in full wherever
    it lands)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def cents(col: Column) -> Column:
    """A 2-dp price column as exact BIGINT cents (TESTDATA contract for
    events.value, asserted in tests/test_stats.py). NULL passes through;
    the round-then-cast is exact because value*100 is integral."""
    return F.round(col * 100).cast("long")


def exact_ratio_round6(num_cents: Column, den_cents: Column) -> Column:
    """HALF-AWAY-FROM-ZERO 6-dp rounding of num/den computed in EXACT
    integer arithmetic — the engine-independent form of
    ``ROUND(num/den, 6)`` for fixed-point inputs.

    Why: ratios of 2-dp prices are rationals that can terminate ON the
    7th-decimal .5 tie (e.g. value/lag(value)-1 = 8.0046875), where
    Spark's BigDecimal HALF_UP, DuckDB's multiply-then-round, and numpy
    each decide the 6th digit from a different nearest-double — the
    one-unit flips the 10x sweeps caught in w1/w14/v1/p4/mm5/mm12.
    ⌊(2·10⁶·|num| + den) / (2·den)⌋ applied to BIGINTs is the same
    number on every engine. Integer division is built from pmod so it
    stays a Column expression; the final double divisions are exact
    (integer-valued operands below 2^53). NULL num or den → NULL;
    den ≤ 0 → NULL (the |den| > eps guard for positive fixed-point).
    """
    a = F.lit(2_000_000) * F.abs(num_cents) + den_cents
    b = F.lit(2) * den_cents
    q = (a - F.pmod(a, b)) / b  # exact integer-valued double
    signed = F.when(num_cents < 0, -q).otherwise(q)
    # + 0.0 clears the -0.0 the num<0, q=0 branch would produce
    return F.when(den_cents > 0, signed / 1_000_000 + F.lit(0.0)).otherwise(
        F.lit(None)
    )


def exact_ratio_round6_sql(num_cents: str, den_cents: str) -> str:
    """DuckDB twin of :func:`exact_ratio_round6` over BIGINT SQL
    fragments — oracles embed this so both engines round the identical
    integer."""
    return (
        f"CASE WHEN ({den_cents}) > 0 THEN "
        f"(CASE WHEN ({num_cents}) >= 0 "
        f"THEN (2000000 * ({num_cents}) + ({den_cents})) "
        f"// (2 * ({den_cents})) "
        f"ELSE -((2000000 * (-({num_cents})) + ({den_cents})) "
        f"// (2 * ({den_cents}))) END) / 1000000.0 "
        f"END"
    )


def finite(col: Column) -> Column:
    """Pass through only finite values; NaN/±inf → NULL.

    Every statistical aggregate in the engine runs over ``finite(col)``
    ("finite-only aggregation" invariant).
    """
    c = col.cast("double")
    return F.when(
        (~F.isnan(c)) & (c != F.lit(float("inf"))) & (c != F.lit(float("-inf"))),
        c,
    )


def clip(col: Column, lo: float, hi: float) -> Column:
    """Clamp into [lo, hi] (reference z-clip ±8.0, research/preprocess.py:321)."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def sum_horizontal(cols: Iterable[Column]) -> Column:
    """Row-wise sum; boolean columns are cast to int first."""
    out = None
    for c in cols:
        c = c.cast("int")
        out = c if out is None else out + c
    if out is None:
        return F.lit(0)
    return out


def any_horizontal(cols: Iterable[Column]) -> Column:
    out = None
    for c in cols:
        out = c if out is None else out | c
    return F.coalesce(out, F.lit(False)) if out is not None else F.lit(False)


def all_horizontal(cols: Iterable[Column]) -> Column:
    out = None
    for c in cols:
        out = c if out is None else out & c
    return F.coalesce(out, F.lit(False)) if out is not None else F.lit(True)


def hit_rate(col: Column) -> Column:
    """Share of positive values among non-null values (A3)."""
    return F.avg((col > 0).cast("double"))


def ensure_columns(df: DataFrame, schema: T.StructType | dict[str, T.DataType]) -> DataFrame:
    """Add any missing columns as typed NULLs (defensive prelude before a
    transform whose inputs may vary across sources)."""
    if isinstance(schema, T.StructType):
        items = [(f.name, f.dataType) for f in schema.fields]
    else:
        items = list(schema.items())
    existing = set(df.columns)
    to_add = {name: F.lit(None).cast(dtype) for name, dtype in items if name not in existing}
    if to_add:
        df = df.withColumns(to_add)
    return df
