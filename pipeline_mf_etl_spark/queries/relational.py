"""Relational operator queries: scans, aggregations, joins, set ops.

Covers SURVEY.md §2.1 (S3), §2.4 (J1/J2/J5/J6, anti-join), §2.5
(A1-A3, A5-A9, A12), §2.7 (O2/O6/O7). Each query is declarative
DataFrame code — Catalyst handles column pruning, predicate pushdown and
broadcast selection; explicit ``broadcast()`` hints mark the small dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.windows import SERIES_WINDOW_SQL as _WEV
from pipeline_mf_etl_spark.operators.windows import series_window
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import fan_out, load_table


def _r(col, n=6):
    return F.round(col, n)


# ---------------------------------------------------------------------------
# A1 grouped stats core — the reference's most common aggregate shape
# (reference: research/profiles.py:47-65, backtest/metrics.py:114-134)
# expressed as a TPC-H-Q1-style pricing summary. Exact median via
# `percentile`, population stddev — matching the reference's ddof=0.
# ---------------------------------------------------------------------------
@query(
    "a1_grouped_stats",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(q), 2)::DOUBLE                                    AS sum_qty,
           ROUND(SUM(p), 2)::DOUBLE                                    AS sum_base_price,
           ROUND(SUM(p * (1 - d)), 2)::DOUBLE                          AS sum_disc_price,
           ROUND(SUM(p * (1 - d) * (1 + t)), 2)::DOUBLE                AS sum_charge,
           ROUND(SUM(q)::DOUBLE / COUNT(q), 6)                         AS avg_qty,
           ROUND(SUM(p)::DOUBLE / COUNT(p), 6)                         AS avg_price,
           ROUND(SUM(d)::DOUBLE / COUNT(d), 6)                         AS avg_disc,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 6)                    AS med_qty,
           ROUND(SQRT((COUNT(d) * SUM(d * d) - SUM(d) * SUM(d))::DOUBLE
                      / (COUNT(d) * COUNT(d))), 6)                     AS std_disc,
           COUNT(*)                                                    AS count_order
    FROM (SELECT *, l_quantity::DECIMAL(12,2) AS q,
                 l_extendedprice::DECIMAL(12,2) AS p,
                 l_discount::DECIMAL(3,2) AS d, l_tax::DECIMAL(3,2) AS t
          FROM lineitem)
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped stats core (A1): count/sum/avg/exact-median/stddev_pop.

    The money columns hold 2-dp values, so every sum accumulates and
    rounds exactly in DECIMAL, independent of row order and task split
    (a double sum accumulates in task order, and its last-ulp drift
    can cross a rounding boundary). AVG divides the exact sum, as a
    double, by the count; STDDEV_POP comes from the exact n, Σx and
    Σx²: ``sqrt((n·Σx² − (Σx)²) / n²)``. The oracle computes the same
    formulas in DuckDB DECIMALs."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    tax = F.col("l_tax").cast("decimal(3,2)")

    def sum2(col):
        return _r(F.sum(col), 2).cast("double")

    def avg(col):
        return _r(F.sum(col).cast("double") / F.count(col))

    n = F.count(disc)
    var_num = (n * F.sum(disc * disc) - F.sum(disc) * F.sum(disc)).cast("double")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum2(qty).alias("sum_qty"),
            sum2(price).alias("sum_base_price"),
            sum2(price * (one - disc)).alias("sum_disc_price"),
            sum2(price * (one - disc) * (one + tax)).alias("sum_charge"),
            avg(qty).alias("avg_qty"),
            avg(price).alias("avg_price"),
            avg(disc).alias("avg_disc"),
            _r(F.expr("percentile(l_quantity, 0.5)")).alias("med_qty"),
            _r(F.sqrt(var_num / (n * n))).alias("std_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A2/A3 conditional aggregates & hit-rate
# (reference: backtest/metrics.py:128-131 win/loss splits;
#  research/profiles.py:64 hit-rate)
# ---------------------------------------------------------------------------
@query(
    "a2_conditional_aggregates",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)                                                        AS n_orders,
           ROUND(AVG(CASE WHEN o_totalprice > 150000 THEN o_totalprice END), 6) AS avg_big_price,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           ROUND(AVG(CASE WHEN o_totalprice > 150000 THEN 1.0 ELSE 0.0 END), 6) AS big_rate
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a2_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates (A2) + hit-rate (A3) via avg(when(...))."""
    o = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 150000
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _r(F.avg(F.when(big, F.col("o_totalprice")))).alias("avg_big_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("long").alias("n_finished"),
        _r(F.avg(big.cast("double"))).alias("big_rate"),
    )


# ---------------------------------------------------------------------------
# A5 crosstab (reference: research_hmm/profiles.py:170-181)
# ---------------------------------------------------------------------------
@query(
    "a5_crosstab",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def a5_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key crosstab counts (A5)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# A6 rows-by-year rollup — the reference's per-file Python year loop
# (bronze/sanity_checks.py:97-135) collapses to one groupBy.
# ---------------------------------------------------------------------------
@query(
    "a6_rows_by_year",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1
    """,
)
def a6_rows_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year rollup (A6/A13): single pass groupBy(year)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        _r(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# A8/O2 top-K with deterministic tie-break
# (reference: bronze/sanity_checks.py:138-145 top-20 tables)
# ---------------------------------------------------------------------------
@query(
    "a8_topk_parts",
    oracle="""
    SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_partkey
    ORDER BY revenue DESC, l_partkey ASC LIMIT 20
    """,
)
def a8_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K (A8/O2): orderBy(desc).limit(k), total ordering via key tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A9 null-rate scan — one pass over all columns
# (reference: gold/features_pipeline.py:509-513 accumulates per file)
# ---------------------------------------------------------------------------
@query(
    "a9_null_rates",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)         AS null_ts,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)    AS null_user_id,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)      AS null_value,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)      AS null_props
    FROM events
    """,
)
def a9_null_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate scan (A9): per-column null counts in a single aggregate."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        for c in ("ts", "user_id", "event_type", "value", "props")
    ]
    return ev.agg(*aggs)


# ---------------------------------------------------------------------------
# A12 quantile edge metrics — exact linear-interpolation percentiles
# (reference: backtest/sensitivity_runner.py:86-227)
# ---------------------------------------------------------------------------
@query(
    "a12_quantile_edges",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(QUANTILE_CONT(value, 0.10), 6) AS p10,
           ROUND(QUANTILE_CONT(value, 0.90), 6) AS p90,
           ROUND(MIN(value), 6) AS worst,
           ROUND(MAX(value), 6) AS best,
           ROUND(STDDEV_POP(value) / NULLIF(ABS(AVG(value)), 0), 6) AS ret_cv
    FROM events GROUP BY event_type
    """,
)
def a12_quantile_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile edge metrics (A12): exact p10/p90, CV with null-guarded denom."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _r(F.expr("percentile(value, 0.10)")).alias("p10"),
        _r(F.expr("percentile(value, 0.90)")).alias("p90"),
        _r(F.min("value")).alias("worst"),
        _r(F.max("value")).alias("best"),
        _r(F.stddev_pop("value") / F.nullif(F.abs(F.avg("value")), F.lit(0))).alias("ret_cv"),
    )


# ---------------------------------------------------------------------------
# J2 broadcast dim-join enrich (reference: bronze/symbol_master.py:327-343)
# ---------------------------------------------------------------------------
@query(
    "j2_broadcast_enrich",
    oracle="""
    SELECT p.p_brand, n.n_name,
           ROUND(SUM(l.l_extendedprice::DECIMAL(12,2)
                     * (1 - l.l_discount::DECIMAL(3,2))), 2)::DOUBLE AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY p.p_brand, n.n_name
    """,
)
def j2_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema enrich (J2): fact joined to broadcast dims, grouped
    revenue. Price and discount hold 2-dp values, so revenue sums and
    rounds exactly in DECIMAL, independent of row order and task split
    (as a1 does); the oracle computes the same formula."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            _r(F.sum(price * (one - disc)), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# J5 tiny state-mapping join with coalesce defaults
# (reference: backtest/state_mapping.py:86-98)
# ---------------------------------------------------------------------------
_STATE_MAP = [("click", "long"), ("purchase", "long"), ("error", "short")]


@query(
    "j5_state_mapping",
    oracle="""
    WITH state_map(event_type, direction) AS (
        VALUES ('click', 'long'), ('purchase', 'long'), ('error', 'short')
    )
    SELECT COALESCE(m.direction, 'ignore') AS direction,
           COUNT(*) AS n,
           ROUND(AVG(e.value), 6) AS avg_value
    FROM events e LEFT JOIN state_map m ON e.event_type = m.event_type
    GROUP BY 1
    """,
)
def j5_state_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast state-map join (J5): tiny dim, left join, coalesce default."""
    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(_STATE_MAP, "event_type string, direction string")
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .groupBy(F.coalesce(F.col("direction"), F.lit("ignore")).alias("direction"))
        .agg(F.count("*").alias("n"), _r(F.avg("value")).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# J6 overlay join with join-status + coverage by year
# (reference: backtest/policy_overlay.py:311-352)
# ---------------------------------------------------------------------------
@query(
    "j6_overlay_coverage",
    oracle="""
    WITH overlay AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN ov.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           ROUND(AVG(CASE WHEN ov.c_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS match_rate
    FROM orders o LEFT JOIN overlay ov ON o.o_custkey = ov.c_custkey
    GROUP BY 1
    """,
)
def j6_overlay_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay left-join (J6): join-status column + per-year coverage metrics."""
    o = load_table(spark, sf_dir, "orders")
    overlay = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    joined = o.join(F.broadcast(overlay), o.o_custkey == overlay.c_custkey, "left")
    matched = F.col("c_custkey").isNotNull()
    return joined.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        F.sum(matched.cast("long")).alias("n_matched"),
        _r(F.avg(matched.cast("double"))).alias("match_rate"),
    )


# ---------------------------------------------------------------------------
# O6 anti-join (reference computes set differences in Python,
# bronze/sanity_checks.py:256-259 — Spark-first this is left_anti)
# ---------------------------------------------------------------------------
@query(
    "o6_anti_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_inactive_1998
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND EXTRACT(year FROM o.o_orderdate) = 1998
    )
    GROUP BY c.c_mktsegment
    """,
)
def o6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join set difference (O6): customers with no 1998 orders, by segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1998)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive_1998"))
    )


# ---------------------------------------------------------------------------
# O7 distinct / n_unique (reference: ingest/manifest.py:184-186)
# ---------------------------------------------------------------------------
@query(
    "o7_distinct_counts",
    oracle="""
    SELECT n.n_name,
           COUNT(DISTINCT c.c_mktsegment) AS n_segments,
           COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def o7_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct counting (O7): countDistinct per group."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# S3 projection + predicate pushdown demo: the narrow scan the optimizer
# should produce (PushedFilters + 3-column ReadSchema — verified in tests)
# ---------------------------------------------------------------------------
@query(
    "s3_pushdown_scan",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def s3_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned scan (S3/S4): filter+projection pushed to the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _r(F.sum("l_quantity"), 2).alias("qty"))
    )


from pyspark.sql import Window  # noqa: E402  (used by the coverage additions below)


# ---------------------------------------------------------------------------
# A4 horizontal (row-wise) aggregates: greatest/least + any/all boolean chains
# (reference: validate/rules.py:191-193; silver/features_base.py:138-150)
# ---------------------------------------------------------------------------
@query(
    "a4_horizontal_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(GREATEST(l_quantity, l_discount * 100, l_tax * 100)), 6) AS sum_greatest,
           ROUND(SUM(LEAST(l_quantity, l_discount * 100, l_tax * 100)), 6)    AS sum_least,
           CAST(SUM(CASE WHEN l_discount > 0.05 OR l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
           CAST(SUM(CASE WHEN l_discount > 0.05 AND l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_all
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a4_horizontal_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise greatest/least and any/all chains, rolled up (A4)."""
    li = load_table(spark, sf_dir, "lineitem")
    d100 = F.col("l_discount") * 100
    t100 = F.col("l_tax") * 100
    any_f = (F.col("l_discount") > 0.05) | (F.col("l_tax") > 0.04)
    all_f = (F.col("l_discount") > 0.05) & (F.col("l_tax") > 0.04)
    return li.groupBy("l_returnflag").agg(
        _r(F.sum(F.greatest(F.col("l_quantity"), d100, t100))).alias("sum_greatest"),
        _r(F.sum(F.least(F.col("l_quantity"), d100, t100))).alias("sum_least"),
        F.sum(any_f.cast("long")).alias("n_any"),
        F.sum(all_f.cast("long")).alias("n_all"),
    )


# ---------------------------------------------------------------------------
# A7 exchange-style rollup: customers per region through two broadcast dims
# (reference: bronze/sanity_checks.py:236-248)
# ---------------------------------------------------------------------------
@query(
    "a7_region_rollup",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT n_name) AS n_nations,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
           ROUND(MIN(c_acctbal), 2) AS min_acctbal,
           ROUND(MAX(c_acctbal), 2) AS max_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def a7_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region rollup over two broadcast dimension joins (A7)."""
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    joined = cu.join(
        F.broadcast(na), cu.c_nationkey == na.n_nationkey
    ).join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("n_name").alias("n_nations"),
        _r(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        _r(F.min("c_acctbal"), 2).alias("min_acctbal"),
        _r(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


# ---------------------------------------------------------------------------
# A13 eligibility-style distribution by year with conditional counts
# (reference: backtest/execution_realism.py:440-470)
# ---------------------------------------------------------------------------
@query(
    "a13_orders_by_year",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           ROUND(AVG(o_totalprice), 6) AS avg_totalprice,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS med_totalprice
    FROM orders
    GROUP BY 1
    """,
)
def a13_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """By-year distribution with conditional counts and exact median (A13)."""
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias("n_urgent"),
        _r(F.avg("o_totalprice")).alias("avg_totalprice"),
        _r(F.expr("percentile(o_totalprice, 0.5)")).alias("med_totalprice"),
    )


# ---------------------------------------------------------------------------
# I2/I4 manifest classification: current vs previous snapshot fingerprints
# (reference: ingest/manifest.py:155-199 NEW/CHANGED/UNCHANGED left join,
#  :202-224 status rollups). Snapshots derived deterministically from the
# documents table: "previous" lacks doc_id % 7 == 0 (→ NEW) and has a
# perturbed fingerprint for doc_id % 5 == 0 (→ CHANGED).
# ---------------------------------------------------------------------------
@query(
    "i2_manifest_classify",
    oracle="""
    WITH current AS (
        SELECT doc_id AS source_file, source, MD5(text) AS fingerprint
        FROM documents
    ), previous AS (
        SELECT doc_id AS source_file,
               CASE WHEN doc_id % 5 = 0 THEN MD5(text || '#prev') ELSE MD5(text) END AS fingerprint
        FROM documents
        WHERE doc_id % 7 <> 0
    )
    SELECT CASE WHEN p.fingerprint IS NULL THEN 'NEW'
                WHEN p.fingerprint = c.fingerprint THEN 'UNCHANGED'
                ELSE 'CHANGED' END AS status,
           COUNT(*) AS n_files,
           COUNT(DISTINCT c.source) AS n_sources
    FROM current c LEFT JOIN previous p ON c.source_file = p.source_file
    GROUP BY 1
    """,
)
def i2_manifest_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest NEW/CHANGED/UNCHANGED classification + status rollup (I2/I4)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    current = docs.select(
        F.col("doc_id").alias("source_file"), "source", fp.alias("fingerprint")
    )
    previous = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("source_file"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.col("text"), F.lit("#prev")).cast("binary")),
        )
        .otherwise(fp)
        .alias("prev_fingerprint"),
    )
    classified = current.join(previous, "source_file", "left").select(
        "source",
        F.when(F.col("prev_fingerprint").isNull(), "NEW")
        .when(F.col("prev_fingerprint") == F.col("fingerprint"), "UNCHANGED")
        .otherwise("CHANGED")
        .alias("status"),
    )
    return classified.groupBy("status").agg(
        F.count("*").alias("n_files"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# J7/J10 join of two grouped aggregates: per-state profile ⋈ forward outcomes
# ⋈ rolling-metric means (reference: research/profiles.py:156-175;
#  validation/stability.py:278-297)
# ---------------------------------------------------------------------------
@query(
    "j7_j10_profile_joins",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value,
               CASE WHEN ABS(LAG(value) OVER ({_WEV})) > 1e-12
                    THEN value / (LAG(value) OVER ({_WEV})) - 1 END AS ret_1,
               CASE WHEN COUNT(value) OVER w5 >= 5
                    THEN AVG(value) OVER w5 END AS sma_5
        FROM events
        WINDOW w5 AS ({_WEV} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ), profile AS (
        SELECT event_type, COUNT(*) AS n_rows,
               ROUND(AVG(value), 6) AS mean_value,
               ROUND(STDDEV_POP(value), 6) AS std_value
        FROM r GROUP BY event_type
    ), outcome AS (
        SELECT event_type,
               ROUND(AVG(ret_1), 6) AS mean_ret_1,
               ROUND(AVG(sma_5), 6) AS mean_sma_5
        FROM r GROUP BY event_type
    )
    SELECT profile.event_type, n_rows, mean_value, std_value, mean_ret_1, mean_sma_5
    FROM profile LEFT JOIN outcome ON profile.event_type = outcome.event_type
    """,
)
def j7_j10_profile_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join of grouped profile, forward-outcome, and rolling-mean aggregates (J7/J10)."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    prev = F.lag("value").over(w)
    ret1 = F.when(F.abs(prev) > 1e-12, F.col("value") / prev - 1)
    w5 = w.rowsBetween(-4, 0)
    sma5 = F.when(F.count("value").over(w5) >= 5, F.avg("value").over(w5))
    r = ev.select(
        "event_type", "value", ret1.alias("ret_1"), sma5.alias("sma_5")
    )
    profile = r.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        _r(F.avg("value")).alias("mean_value"),
        _r(F.stddev_pop("value")).alias("std_value"),
    )
    outcome = r.groupBy("event_type").agg(
        _r(F.avg("ret_1")).alias("mean_ret_1"),
        _r(F.avg("sma_5")).alias("mean_sma_5"),
    )
    return profile.join(F.broadcast(outcome), "event_type", "left")


# ---------------------------------------------------------------------------
# O5 schema-relaxed vertical concat (reference: pl.concat vertical_relaxed,
#  gold/features_pipeline.py:670-671) — unionByName with missing columns.
# ---------------------------------------------------------------------------
@query(
    "o5_union_by_name",
    oracle="""
    SELECT p_partkey AS item_key, p_name AS item_name, 'part' AS src,
           ROUND(p_retailprice, 2) AS price
    FROM part
    UNION ALL BY NAME
    SELECT s_suppkey AS item_key, s_name AS item_name, 'supplier' AS src,
           ROUND(s_acctbal, 2) AS balance
    FROM supplier
    """,
)
def o5_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-relaxed union: missing columns null-filled per side (O5)."""
    pa = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_key"),
        F.col("p_name").alias("item_name"),
        F.lit("part").alias("src"),
        _r(F.col("p_retailprice"), 2).alias("price"),
    )
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("item_key"),
        F.col("s_name").alias("item_name"),
        F.lit("supplier").alias("src"),
        _r(F.col("s_acctbal"), 2).alias("balance"),
    )
    return pa.unionByName(su, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# J11 as-of join (beyond the reference — SURVEY §2.4 notes it has only
# equi-joins): each purchase event picks up the most recent at-or-before
# error value for the same user. Spark side is the sort-based single-
# shuffle operator (operators/asof.py); the oracle is DuckDB's native
# ASOF JOIN. Right side deduped to one row per (user, ts) so ASOF tie
# semantics are deterministic on both engines.
# ---------------------------------------------------------------------------
@query(
    "j11_asof_join",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    ), r0 AS (
        SELECT user_id, ts, value AS err_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'error'
    ), r AS (SELECT user_id, ts, err_value FROM r0 WHERE rn = 1)
    SELECT l.event_id, l.user_id, ROUND(l.value, 6) AS value,
           ROUND(r.err_value, 6) AS last_err_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest at-or-before error value per purchase event (J11)."""
    from pipeline_mf_etl_spark.operators.asof import asof_join
    from pipeline_mf_etl_spark.sources.readers import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    wd = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", F.col("value").alias("err_value"), "event_id")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "err_value")
    )
    joined = asof_join(left, right, ["user_id"], "ts", ["err_value"])
    return joined.select(
        "event_id",
        "user_id",
        _r(F.col("value")).alias("value"),
        _r(F.col("err_value")).alias("last_err_value"),
    )


# ---------------------------------------------------------------------------
# A14 salted two-stage aggregation over extreme key skew (5 event types
# carry all rows). AQE splits skewed shuffle partitions, but explicit
# salting bounds final-reducer fan-in no matter the key histogram —
# the pattern for hot-key groupBys at 100 TB. Oracle: the plain GROUP BY
# (salting must be observationally transparent).
# ---------------------------------------------------------------------------
@query(
    "a14_salted_skew_agg",
    oracle="""
    SELECT event_type,
           COUNT(value) AS n,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(AVG(value), 6) AS avg_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def a14_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation on hot keys, equal to plain groupBy (A14)."""
    from pipeline_mf_etl_spark.operators.skew import salted_agg
    from pipeline_mf_etl_spark.sources.readers import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", F.col("value")),
            "sum_value": ("sum", F.col("value")),
            "avg_value": ("avg", F.col("value")),
            "min_value": ("min", F.col("value")),
            "max_value": ("max", F.col("value")),
        },
        salt=F.col("event_id"),
        n_salts=32,
    )
    return out.select(
        "event_type",
        "n",
        _r(F.col("sum_value")).alias("sum_value"),
        _r(F.col("avg_value")).alias("avg_value"),
        _r(F.col("min_value")).alias("min_value"),
        _r(F.col("max_value")).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# J12 star join: fact ⋈ fact on orderkey (sort-merge over the shuffle
# key) + broadcast dims — the canonical warehouse shape. Date filter
# pushes to the orders scan; revenue aggregated per nation.
# ---------------------------------------------------------------------------
@query(
    "j12_star_join",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_lineitems,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def j12_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join + broadcast dims: revenue per nation, 2-year slice (J12)."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_lineitems"),
        _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# A15 one-pass ROLLUP (beyond reference: its multi-level summaries are
# separate groupBys, i.e. separate scans — SURVEY §2.5 note). ROLLUP
# computes (flag, status), (flag), and grand totals in one shuffle.
# ---------------------------------------------------------------------------
@query(
    "a15_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
           COALESCE(l_linestatus, '<all>') AS l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level summary in ONE pass via rollup (A15)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _r(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# A19 one-pass CUBE — completes the grouping-sets family next to A15's
# ROLLUP: all four grouping sets {(flag,status), (flag), (status), ()}
# from a single shuffle instead of four scans. The expand operator
# multiplies rows by the grouping-set count BEFORE the exchange — at
# 100 TB that 4× map-side inflation is the price of one-pass totals and
# is still far cheaper than four full scans; partial aggregation
# collapses it per grouping set on the map side.
# ---------------------------------------------------------------------------
@query(
    "a19_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
           COALESCE(l_linestatus, '<all>') AS l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set summaries (flag×status, flag, status, grand
    total) in ONE pass via cube (A19)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _r(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# O18 Z-order layout keys (beyond reference; operators/layout.py): the
# multi-dimensional write-clustering step of a 100 TB table — Morton-
# interleave the two dominant filter dimensions (user, event day) so
# parquet row-group min/max stats stay tight on BOTH columns at once
# (the OPTIMIZE ZORDER BY of Delta/Iceberg, as engine-portable integer
# arithmetic). Binning is map-only: one global min/max aggregate
# broadcast back, then pure JVM bit-spread codegen — no global sort, no
# rank, no single-partition stage; the actual layout write is
# repartitionByRange(file_bucket) + write, which shuffles once.
# ---------------------------------------------------------------------------
def _o18_oracle() -> str:
    from pipeline_mf_etl_spark.operators.layout import morton_key_sql

    z = morton_key_sql(
        "((user_id - mm.min_u) * 65536) // (mm.max_u - mm.min_u + 1)",
        "((date_diff('day', mm.min_d, CAST(ts AS DATE))) * 65536) // "
        "(date_diff('day', mm.min_d, mm.max_d) + 1)",
    )
    return f"""
    WITH mm AS (
        SELECT MIN(user_id) AS min_u, MAX(user_id) AS max_u,
               MIN(CAST(ts AS DATE)) AS min_d, MAX(CAST(ts AS DATE)) AS max_d
        FROM events
    )
    SELECT event_id, {z} AS z_key,
           CAST({z} >> 24 AS INTEGER) AS file_bucket
    FROM events, mm
    """


@query("o18_zorder_layout", oracle=_o18_oracle())
def o18_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key per event over (user bin, day
    bin), each range-binned to 16 bits from one broadcast min/max row,
    plus the 256-way file bucket (top 8 interleaved bits) a layout
    write would range-partition on (O18)."""
    from pipeline_mf_etl_spark.operators.layout import morton_key
    from pipeline_mf_etl_spark.sources.readers import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    mm = ev.agg(
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
        F.min(F.to_date("ts")).alias("min_d"),
        F.max(F.to_date("ts")).alias("max_d"),
    )
    with_mm = ev.crossJoin(F.broadcast(mm))
    bin_u = F.expr("((user_id - min_u) * 65536) div (max_u - min_u + 1)")
    bin_d = F.expr(
        "(datediff(to_date(ts), min_d) * 65536) div (datediff(max_d, min_d) + 1)"
    )
    z = morton_key(bin_u, bin_d)
    return with_mm.select(
        "event_id",
        z.alias("z_key"),
        F.shiftright(z, 24).cast("int").alias("file_bucket"),
    )


# ---------------------------------------------------------------------------
# D10 record linkage (blocked fuzzy match) — the entity-resolution
# operator of a warehouse/training pipeline: find candidate duplicate
# ENTITY records (here: customers whose names are within edit distance
# 1) without the all-pairs cross join. The scalable shape is the same
# as every dedup family member: BLOCK first (equi-join key), compare
# WITHIN blocks only (levenshtein is a JVM built-in on both engines),
# emit scored pairs. All-pairs at 100 TB is O(N²); blocking bounds the
# comparison volume to Σ C(block,2) summed over the blocking keys.
#
# MASKED-POSITION blocking (FastSS / deletion-neighborhood idiom,
# Bocek et al. 2007 — public): each record emits 9 keys, the name's
# digit string with ONE position deleted, tagged with that position.
# Two fixed-form names at lev<=1 (one substitution) agree everywhere
# except the typo position, so masking THAT position on both sides
# yields equal keys — recall-COMPLETE for lev<=1, one equi-self-join
# on (pos, masked). This supersedes the r8 fragment-PAIR scheme, whose
# (P1,P2) key shares the six HIGH-order digits: on dense sequential
# keys those digits barely vary, so blocks hit the full 1000-row span
# of the free low digits (measured: 7.49M of the 7.60M 1× comparisons
# came from that one pass). Masking one position leaves eight fixed
# digits per key — block size <= 10 on sequential ids (one free digit),
# 262.5k comparisons at the same 1× (29× fewer), and the bound holds
# under any key distribution because every key pins 8 of 9 digits.
# Generalizes: lev<=k masks k positions (C(9,k) keys/record); for
# variable-length corpora the same deletion keys additionally cover
# single insert/delete edits (the original FastSS result).
# ---------------------------------------------------------------------------
_D10_MAX_LEV = 1
_D10_DIGITS = (10, 9)  # the 9 name digits start at char 10 (1-based)


@query(
    "d10_record_linkage",
    oracle=f"""
    WITH keyed AS (
        SELECT c_custkey, c_name, c_nationkey, pos,
               substr(c_name, 10, pos - 1) || substr(c_name, 10 + pos, 9 - pos)
                   AS masked
        FROM customer, (SELECT unnest(range(1, 10)) AS pos)
    ),
    pairs AS (
        SELECT DISTINCT
               a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
               a.c_name AS name_a, b.c_name AS name_b,
               a.c_nationkey AS nation_a, b.c_nationkey AS nation_b
        FROM keyed a
        JOIN keyed b ON a.pos = b.pos AND a.masked = b.masked
                    AND a.c_custkey < b.c_custkey
    )
    SELECT custkey_a, custkey_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS name_dist,
           (nation_a = nation_b) AS same_nation
    FROM pairs
    WHERE levenshtein(name_a, name_b) <= {_D10_MAX_LEV}
    """,
)
def d10_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-position (deletion-neighborhood) fuzzy record linkage
    over customers: each name emits 9 (position, digits-minus-that-
    position) keys, one equi-self-join on the key finds every pair at
    edit distance <= 1 (recall-complete for one-substitution typos
    anywhere in the name — see the section comment), with a
    nation-agreement flag for downstream merge rules (D10).

    fan_out (r10): the 9-key explode + masked-substring build is heavy
    scan-side map work, and the driver's single-row-group customer file
    pinned it to one core — measured 2.05x faster with the small-input
    fan-out (a no-op at production split counts)."""
    start, ndig = _D10_DIGITS
    cu = fan_out(load_table(spark, sf_dir, "customer")).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    keyed = cu.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.explode(F.sequence(F.lit(1), F.lit(ndig))).alias("pos"),
    ).withColumn(
        "masked",
        F.concat(
            F.expr(f"substring(c_name, {start}, pos - 1)"),
            F.expr(f"substring(c_name, {start} + pos, {ndig} - pos)"),
        ),
    )
    a = keyed.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nation_a"),
        "pos",
        "masked",
    )
    b = keyed.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nation_b"),
        "pos",
        "masked",
    )
    # distinct BEFORE the distance filter mirrors the oracle's
    # DISTINCT: exact-digit twins collide at all 9 positions, so the
    # expensive levenshtein runs once per pair
    pairs = (
        a.join(b, ["pos", "masked"])
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .drop("pos", "masked")
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return pairs.filter(dist <= _D10_MAX_LEV).select(
        "custkey_a",
        "custkey_b",
        "name_a",
        "name_b",
        dist.cast("int").alias("name_dist"),
        (F.col("nation_a") == F.col("nation_b")).alias("same_nation"),
    )


# ---------------------------------------------------------------------------
# I5 manifest MERGE (ledger upsert) — the step AFTER i2's classification:
# produce the NEXT stable ledger from (previous, current) snapshots with
# Delta-MERGE semantics expressed as one FULL OUTER join: inserts carry
# the new epoch, updates keep first_seen and take the new fingerprint,
# unchanged rows carry through, and files that vanished from the scan
# become DELETED tombstones (kept so incremental consumers can retract).
# Same deterministic snapshot synthesis as i2 (prev lacks %7 rows, has
# perturbed fingerprints for %5; current lacks %11 rows → tombstones).
# One equi-join on the ledger key — at 100 TB this is the cheap path
# (the ledger is rows-per-FILE, not rows-per-record).
# ---------------------------------------------------------------------------
@query(
    "i5_manifest_merge",
    oracle="""
    WITH previous AS (
        SELECT doc_id AS source_file,
               CASE WHEN doc_id % 5 = 0 THEN MD5(text || '#prev') ELSE MD5(text) END AS fingerprint,
               'epoch0' AS first_seen
        FROM documents WHERE doc_id % 7 <> 0
    ), current AS (
        SELECT doc_id AS source_file, MD5(text) AS fingerprint
        FROM documents WHERE doc_id % 11 <> 0
    )
    SELECT COALESCE(c.source_file, p.source_file) AS source_file,
           CASE WHEN p.source_file IS NULL THEN 'NEW'
                WHEN c.source_file IS NULL THEN 'DELETED'
                WHEN c.fingerprint = p.fingerprint THEN 'UNCHANGED'
                ELSE 'CHANGED' END AS status,
           COALESCE(c.fingerprint, p.fingerprint) AS fingerprint,
           COALESCE(p.first_seen, 'epoch1') AS first_seen
    FROM current c FULL OUTER JOIN previous p ON c.source_file = p.source_file
    """,
)
def i5_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next stable manifest ledger via MERGE-style full-outer upsert:
    NEW inserts, CHANGED fingerprint updates keeping first_seen,
    UNCHANGED carry-through, DELETED tombstones (I5). Since r8 this is
    the SAME ``merge_manifest`` the real ledger promotion path uses
    (sources/ingest.py promote_manifest) — certifying this query
    certifies production incremental ingest."""
    from pipeline_mf_etl_spark.sources.ingest import merge_manifest

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    previous = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("source_file"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.md5(F.concat(F.col("text"), F.lit("#prev")).cast("binary")),
        )
        .otherwise(fp)
        .alias("fingerprint"),
        F.lit("epoch0").alias("first_seen"),
    )
    current = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("source_file"), fp.alias("fingerprint")
    )
    merged = merge_manifest(current, previous, epoch="epoch1")
    return merged.select("source_file", "status", "fingerprint", "first_seen")
