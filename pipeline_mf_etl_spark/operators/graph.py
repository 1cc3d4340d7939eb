"""Graph analytics over pair graphs (the near-dup graph family).

Connected components lives in operators/dedupe.py (min-label
propagation); this module adds PageRank — the standard importance
measure over the same (a, b) pair graphs, used in curation to rank
documents by how centrally they sit in a duplication/similarity
neighborhood (a hub of near-dups is usually boilerplate).

Scale shape: each iteration is one equi-join (edges ⋈ ranks on src)
plus one groupBy(dst) — the GraphX/Pregel shuffle pattern. The
iteration count is FIXED (a hyperparameter, not data-driven), so the
job count is constant at any corpus size. Loop-carried frames are
checkpointed per round so the analyzed plan stays constant-size
(same rationale as connected_components); ``reliable=True`` switches
from lineage-truncating localCheckpoint to a fault-tolerant
``checkpoint()`` for long cluster runs (see :func:`loop_checkpoint`).

Cross-engine determinism: ranks are rounded to 9 dp after EVERY
iteration on both engines, so accumulation-order ulp drift cannot
compound across rounds — the same convention as the EWM/flow oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.pin import free_checkpoint, pin

PR_DAMPING = 0.85
PR_ITERS = 5


def loop_checkpoint(df: DataFrame, reliable: bool = False, eager: bool = True) -> DataFrame:
    """Truncate the lineage of a loop-carried frame.

    ``reliable=False`` (default) uses ``localCheckpoint`` — executor-
    local block storage, zero extra I/O, the right call at local[32]
    and for short jobs. It is NOT resilient to executor loss: on a real
    cluster, losing an executor at hour 10 of a 100-TB run loses its
    blocks and the truncated lineage cannot recompute them, failing the
    job. ``reliable=True`` uses ``checkpoint`` (eager), which writes to
    the SparkContext checkpoint directory — point it at durable storage
    (HDFS/S3) via ``spark.sparkContext.setCheckpointDir(...)`` before
    calling; iteration state then survives executor loss at the cost of
    one distributed-FS write per round.

    ``eager=False`` (fast path only) marks the frame for checkpointing
    without running a job: materialization folds into the caller's next
    full-scan action, halving the job count of tight driver loops. The
    caller MUST follow up with an action that touches every partition
    (a limit() short-circuit would leave blocks unmaterialized).
    ``reliable`` checkpoints stay eager regardless — the durability
    contract is that the round's state is on disk when the call
    returns."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def pagerank(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    weight_col: str | None = None,
    reliable: bool = False,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair graph (each pair contributes
    both directed edges, so every node has out-degree ≥ 1 — no dangling
    mass). Returns (node, r) with r rounded to 9 dp.

    ``weight_col`` (optional): edge weights — a node then distributes
    its rank proportionally to each outgoing weight (w / Σ_out w)
    instead of uniformly; the plan shape is identical (the degree
    aggregate becomes a weight-sum aggregate).

    ``reliable``: use fault-tolerant checkpoints for the loop-carried
    rank frame (see :func:`loop_checkpoint`) — set True on a real
    cluster after ``setCheckpointDir`` to durable storage.

    Ranks are normalized over the nodes that appear in ``edges``
    (isolated docs never enter the graph and keep no rank).
    """
    cols = [F.col(a_col).alias("src"), F.col(b_col).alias("dst")]
    rcols = [F.col(b_col).alias("src"), F.col(a_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
        rcols.append(F.col(weight_col).cast("double").alias("w"))
    # sym is NOT checkpointed on the fast path: with a FIXED iteration
    # count the whole rank recursion compiles into ONE job, where every
    # round's join needs the identical Exchange(hashpartitioning(src))
    # over sym — the planner's exchange reuse computes it once and
    # shares it across rounds (measured r14: g1 build 4.2 s → 1.x s).
    # ``reliable=True`` keeps per-round durable checkpoints (cluster
    # fault-tolerance contract).
    sym = edges.select(*cols).unionAll(edges.select(*rcols))
    if reliable:
        sym = loop_checkpoint(sym, True)
    # deg is the ONE materialized frame (r15): sym is symmetric, so its
    # distinct srcs ARE the node set and deg carries exactly one row
    # per node — a single lazy checkpoint + count job yields n (the
    # driver literal in the rounding expression), the uniform rank
    # seed, AND the per-round degree join side, where the r14 shape
    # checkpointed a separate distinct-node frame (an extra job) and
    # left deg to per-round exchange reuse.
    wexpr = F.sum("w") if weight_col is not None else F.count("*").cast("double")
    deg = loop_checkpoint(
        sym.groupBy("src").agg(wexpr.alias("deg")), reliable, eager=False
    )
    # count() scans every partition, so it both materializes the lazy
    # checkpoint and returns n in one job
    n = deg.count()
    if n == 0:
        return deg.select(F.col("src").alias("node")).withColumn("r", F.lit(0.0))
    # float-expression parity with the SQL oracles: unweighted is
    # EXACTLY r/deg; weighted is EXACTLY r*w/deg (same literal forms)
    if weight_col is not None:
        contrib_term = F.col("r") * F.col("w") / F.col("deg")
    else:
        contrib_term = F.col("r") / F.col("deg")
    # the oracle SQL interpolates repr() of THESE python doubles, so both
    # engines start each iteration from bit-identical constants (DuckDB's
    # own `1 - 0.85` evaluates in DECIMAL to exactly 0.15, a ~5e-17
    # divergence from IEEE 1-0.85 that could flip a 9-dp round on an
    # exact boundary)
    base = (1 - damping) / float(n)
    ranks = deg.select(
        F.col("src").alias("node"), F.round(F.lit(1.0 / float(n)), 9).alias("r")
    )
    for _ in range(iters):
        contrib = (
            sym.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(contrib_term).alias("c"))
        )
        # sym is symmetric, so EVERY node appears as a dst and contrib
        # carries a row for every node — the r14 nodes-left-join +
        # coalesce(c, 0) was the identity on this graph family and is
        # dropped (one join + one exchange fewer per round).
        ranks = contrib.select(
            F.col("dst").alias("node"),
            F.round(F.lit(base) + damping * F.col("c"), 9).alias("r"),
        )
        if reliable:
            # durable per-round checkpoint: iteration state survives
            # executor loss on a cluster (the fast path instead compiles
            # all fixed rounds into one job — lineage depth is bounded
            # by ``iters`` and shuffle files already give stage-level
            # recovery)
            ranks = loop_checkpoint(ranks, True)
    return ranks


def total_order_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_name: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense global row_number WITHOUT a single-partition exchange.

    ``Window.orderBy(...)`` with no partitionBy compiles to
    ``Exchange SinglePartition`` + WindowExec — the entire input moves
    to ONE task, the classic 100-TB cliff (and the `WindowExec: No
    Partition Defined` warning). This is the standard distributed
    total-order idiom instead:

    1. ``repartitionByRange`` on the order columns — partition i holds
       a contiguous slice of the global order (RangePartitioner assigns
       ranges in ascending partition-id order, honoring desc() exprs);
    2. per-PARTITION row_number (Window partitioned by the range
       partition id — a normal partitioned window, max task = one
       range slice, never the whole set);
    3. per-partition row counts (tiny: one row per partition) are
       collected, prefix-summed on the driver, and broadcast back as
       offsets; global rank = partition offset + local row number.

    The input is localCheckpoint'ed once so the count job and the rank
    job see identical partition ids. EAGER (runs the count job).
    """
    spark = df.sparkSession
    from pyspark.sql import Window

    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # Materialize the INPUT before the range exchange: a
    # RangePartitioning exchange first runs a separate sampling job
    # over its child, so an expensive upstream plan (g1: the whole
    # 5-round PageRank recursion) would be computed TWICE — once for
    # the sample sketch, once for the exchange itself. The lazy
    # checkpoint is materialized by the sampling pass (it touches every
    # partition) and the exchange then reads blocks; the blocks are
    # freed as soon as `part`'s own checkpoint supersedes them.
    src = df.localCheckpoint(eager=False)
    part = (
        src.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    free_checkpoint(src)
    counts = part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((int(row["_pid"]), acc))
        acc += int(row["cnt"])
    off = spark.createDataFrame(offsets, schema="_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        part.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off), "_pid")
        .withColumn(rank_name, F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
    )


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected edge list (columns a, b; a<b, distinct, no self-loops).

    Degree-ordered node-iterator (Suri & Vassilvitskii's MapReduce
    triangle counting): orient each edge from its (degree, id)-smaller
    endpoint, self-join oriented edges on the source to form wedges,
    close each wedge with one equi-join against the oriented edge set.
    Each triangle is counted exactly once (its lex-smallest vertex
    sources both wedge legs), and the wedge join's fan-out is
    Σ out-deg² = O(m^1.5) under degree orientation — hub nodes become
    SINKS, never wedge centers, so one document near-duplicating half
    the corpus cannot blow up the join. Equi-joins only; one-row
    output (n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff).
    """
    # pin deg and oriented: deg feeds both endpoint joins and the
    # wedge/node aggregate (3 references), oriented feeds both wedge
    # legs and the closing join (3 references) — without the pins each
    # reference re-instantiates its whole upstream subtree, 18 scans of
    # the pair set per run instead of 4. At corpus scale the pair set is
    # d2's full output, so the pins trade bounded executor memory
    # (node-grain degrees + edge-grain oriented edges) for two fewer
    # full recomputations of the degree joins.
    und = pairs.select(F.col("a").alias("node")).unionAll(
        pairs.select(F.col("b").alias("node"))
    )
    deg = pin("triangle_deg", und.groupBy("node").agg(F.count("*").alias("deg")))
    e = (
        pairs.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
        ).join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b"
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = pin(
        "triangle_oriented",
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
        ),
    )
    x = oriented.select("u", F.col("v").alias("p"), F.col("deg_v").alias("deg_p"))
    y = oriented.select("u", F.col("v").alias("q"), F.col("deg_v").alias("deg_q"))
    wedges = x.join(y, "u").filter(
        (F.col("deg_p") < F.col("deg_q"))
        | ((F.col("deg_p") == F.col("deg_q")) & (F.col("p") < F.col("q")))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("p"), F.col("v").alias("q")), ["p", "q"]
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    base = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) DIV 2")).cast("long").alias("n_wedges"),
    )
    ne = pairs.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        base.crossJoin(ne)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("clustering_coeff"),
        )
    )
