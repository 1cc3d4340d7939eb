"""Deduplication operators for large-scale training-data pipelines.

All hashing is built on md5 (available and bit-identical in Spark, DuckDB
and any other engine) rather than engine-specific hash functions, so
every stage stays oracle-comparable:

- exact dedupe: md5 of normalized text, keep min doc id per group
- shingles: ONE representation, the per-doc distinct word n-gram array
  ``(id, sharr, sz)`` of ``shingle_array_frame``; operators that need
  (id, shingle) rows explode it, and set sizes come from ``sz``
- MinHash: k affine slots over one md5 fold per shingle, signature =
  per-slot min, computed per row from the array
  (``minhash_signatures_from_arrays``); banded LSH buckets
  (``lsh_band_buckets``), an optional per-bucket membership cap
  (``cap_band_buckets``), a bucket equi-join for candidate pairs, and
  exact Jaccard on the candidates only (never all-pairs at scale)
- SimHash: per-token 32-bit hash, bit-vote aggregation, hamming distance

Scale notes: the MinHash chain crosses no corpus-wide exchange before
the (band, band_hash) self-join — signatures and set sizes are per-row
array work, and exact verification is one array_intersect per
candidate pair. The same shingle → signature → band steps run per row
on a stream (``minhash_band_buckets_rowwise``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.pin import free_checkpoint

# Large prime < 2^31 used to fold 60-bit md5 prefixes into a stable range.
_FOLD_PRIME = 2147483647


def md5_int64(col: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative int64 (60 bits).

    DuckDB equivalent: ``CAST(md5_number_lower(x) AS ...)`` does NOT match
    (different byte slice); the oracle uses the same hex-prefix form via
    DuckDB 1.0's lack of conv… so oracles reconstruct with
    ``from_hex``-free arithmetic — see queries/dedup.py for the exact SQL.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_unit(col: Column, salt: str = "") -> Column:
    """Deterministic [0, 1) fold of md5(salt || col) — the engine-agnostic
    Bernoulli-sampling key (stable under repartitioning, reproducible on
    any engine). Single source for the idiom used by o9/o10/o4b-style
    hash sampling and the ML-dataset split; DuckDB oracles reconstruct
    the identical arithmetic via the strpos/list_reduce fold (see
    queries/corpus.py)."""
    keyed = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    return (md5_int64(keyed) % 1_000_000) / 1_000_000.0


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedupe: lower, strip punctuation,
    collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def exact_fingerprint(col: Column) -> Column:
    """The d1 exact-dedupe fingerprint: md5 over the sorted distinct
    token set. Single Spark-side source (d1 and the curation waterfall);
    the oracle twin is ``queries/dedup.py:EXACT_FP_SQL``."""
    return exact_fingerprint_from_tokens(tokens(col))


def exact_fingerprint_from_tokens(toks: Column) -> Column:
    """``exact_fingerprint`` over an already-materialized token array —
    lets a caller that carries ``tokens(text)`` as a column (the
    curation waterfall's one-pass signal scan) fingerprint without
    re-running the 3-regex tokenize pipeline."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def _ngram_join(toks: Column, n: int, distinct: bool = True) -> Column:
    """Word n-grams by zipping n shifted copies of the token array —
    each shingle is built with n-1 string concats instead of an
    index-sequence + per-index array slice (measured 4.7× faster at
    sf0.1: slicing inside a transform re-materializes the token array
    per shingle). ``zip_with`` pads the shorter (shifted) arrays with
    NULL and ``concat`` propagates it, so the trailing partial shingles
    drop out with one filter. ``distinct=False`` keeps every occurrence
    (repetition metrics need counts, not the shingle SET)."""
    acc = toks
    for j in range(2, n + 1):
        shifted = F.slice(toks, j, F.greatest(F.size(toks) - (j - 1), F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    out = F.filter(acc, lambda x: x.isNotNull())
    return F.array_distinct(out) if distinct else out


# xxhash-style odd multipliers for the affine slot family (mod prime).
_MIX_A = 2654435761
_MIX_B = 2246822519


def minhash_slot_params(i: int) -> tuple[int, int]:
    """Slot i's affine constants (a, b) — same arithmetic as the oracle."""
    return (_MIX_A * (i + 1)) % _FOLD_PRIME, (_MIX_B * (i + 1)) % _FOLD_PRIME


def shingle_array_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sharr, sz): the distinct word n-gram ARRAY per doc plus its
    size — the one shingle representation every shingle-set operator
    reads (MinHash signatures, exact pair Jaccard, containment
    candidates, t8's gram overlap). Operators that need (id, shingle)
    rows ``explode("sharr")``; set sizes come from ``sz``, never from a
    groupBy(id) count. Queries that pin it share the ``"shingles"``
    slot, because the analysed plan is the same for all of them.

    Tokenization runs in its own projection: the n-gram expression
    references the token array once per shifted copy, and inlining
    ``tokens()`` would re-run the regex pipeline at each reference.

    Shingle-less docs (fewer than n tokens) are KEPT with sz = 0 —
    filtering here would let predicate pushdown substitute the shingle
    expression into the filter below the projection and evaluate the
    whole n-gram build TWICE per row (measured 2x the persist cost at
    sf0.1). Callers of a pinned frame filter on the cached ``sz``
    column; ``explode`` drops those docs by itself."""
    t = df.select(id_col, tokens(F.col(text_col)).alias("__toks"))
    arr = t.select(id_col, _ngram_join(F.col("__toks"), n).alias("sharr"))
    return arr.withColumn("sz", F.size("sharr"))


def minhash_signatures_from_arrays(
    base: DataFrame, id_col: str, k: int = 16
) -> DataFrame:
    """Per-doc MinHash signature (id, mh_0 .. mh_{k-1}) computed MAP-SIDE
    from the ``sharr`` shingle array: one md5 fold per distinct
    shingle, then k affine mixes ``(a_i·h + b_i) mod P`` and a min per
    slot — the ``sig`` CTE of ``queries/dedup.py:d2_chain`` value for
    value. This is the only function that evaluates the slot family.
    It is per-row array algebra, so it needs no exchange and is legal
    on a stream. An empty array yields NULL slots, so callers drop
    shingle-less docs first.

    The folded base-hash array is materialized as its OWN column in
    its own projection so the k min-reductions share one evaluation —
    higher-order functions are CodegenFallback, and inlining the fold
    into every slot lambda would re-hash each shingle k times."""
    hs = F.transform(
        F.col("sharr"), lambda s: F.pmod(md5_int64(s), F.lit(_FOLD_PRIME))
    )
    based = base.select(id_col, hs.alias("__hs"))

    def _slot(a: int, b: int):
        # closure factory, NOT default-arg lambdas: PySpark derives the
        # lambda's arity from the Python signature, so extra defaulted
        # parameters would declare a 3-argument HOF lambda
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_FOLD_PRIME))

    sig_cols = []
    for i in range(k):
        a, b = minhash_slot_params(i)
        sig_cols.append(
            F.array_min(F.transform(F.col("__hs"), _slot(a, b))).alias(f"mh_{i}")
        )
    return based.select(F.col(id_col), *sig_cols)


def lsh_band_buckets(
    sig: DataFrame, id_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_hash) rows of a MinHash signature frame: band b
    is the md5 of slots [b·r, (b+1)·r) joined by commas, r = k / bands
    — the ``bands`` CTE of ``d2_chain``. One projection builds every
    band hash into an array and posexplodes it; a union of per-band
    frames would rescan the signature input once per band. Map-only,
    so it is legal on a stream."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: integer division "
            "would silently drop trailing minhash slots and weaken LSH recall"
        )
    r = k // bands
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh_{i}").cast("string") for i in range(b * r, (b + 1) * r)]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash"))


def minhash_band_buckets_rowwise(
    df: DataFrame, id_col: str, text_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_hash) LSH bucket rows straight from text: the
    batch chain's shingle array → signature → band steps composed with
    no aggregation, so the plan is legal on a streaming DataFrame (st7's
    stream-static lookup, the growing-LSH ingest). Docs with no
    shingles emit no rows. Equality with the oracle's ``bands`` CTE is
    asserted by tests/test_operators.py::test_rowwise_buckets_match_grouped."""
    base = shingle_array_frame(df, id_col, text_col, n=3)
    sig = minhash_signatures_from_arrays(base.filter(F.col("sz") > 0), id_col, k)
    return lsh_band_buckets(sig, id_col, k, bands)


def cap_band_buckets(
    buckets: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """Keep the ``max_bucket`` smallest ids of each (band, band_hash)
    bucket; None keeps every member. This is the duplicate-flood guard
    of every LSH join — the batch pair self-join and both streaming
    admission lookups: a near-exact duplicate cluster puts O(cluster)
    docs in one bucket, and each join against it fans out O(cluster)
    rows per probe (O(cluster²) pairs for the self-join, the 64× rise
    SCALE.md measured). Capped, the fan-out per bucket is bounded by
    ``max_bucket`` whatever the cluster size.

    The window partitions by (band, band_hash), so the largest task is
    one bucket's membership, never the corpus. Keeping the smallest ids
    is deterministic: every join side sees the same truncated
    membership, replays recompute it identically, and the oracles state
    the same cap as a ROW_NUMBER sub-select
    (``queries/dedup.py:capped_bands_cte``). Recall trade: a capped-out
    doc stays reachable through its other bands, and the batch
    waterfall runs exact dedupe first, so exact clusters never reach
    LSH. A cap below 1 would empty every bucket and silently turn
    near-dup detection off, so it is rejected."""
    if max_bucket is None:
        return buckets
    if max_bucket < 1:
        raise ValueError(
            f"max_bucket={max_bucket}: a cap below 1 empties every LSH bucket "
            "and silently disables near-dup detection — use >= 1, or None "
            "for uncapped buckets"
        )
    w = Window.partitionBy("band", "band_hash").orderBy(F.col(id_col).asc())
    return (
        buckets.withColumn("_bn", F.row_number().over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, k: int = 16, bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH candidate pairs (a < b): docs sharing any
    (band, band_hash) bucket. ``max_bucket`` caps bucket membership
    before the self-join (``cap_band_buckets``), bounding pair output
    per bucket at C(max_bucket, 2); None = the exact candidate set (the
    certified-oracle behavior). A cap below 2 is rejected: a self-join
    over one-member buckets emits no pairs at all."""
    if max_bucket is not None and max_bucket < 2:
        raise ValueError(
            f"max_bucket={max_bucket}: a cap below 2 can emit no pairs at "
            "all — use >= 2, or None for the exact candidate set"
        )
    buckets = cap_band_buckets(
        lsh_band_buckets(sig, id_col, k, bands), id_col, max_bucket
    )
    left = buckets.select(F.col(id_col).alias("a"), "band", "band_hash")
    right = buckets.select(F.col(id_col).alias("b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def pair_jaccard() -> Column:
    """|A∩B| / |A∪B| from the integer columns n_inter, sz_a, sz_b."""
    return F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))


def array_pair_overlap(
    pairs: DataFrame, base: DataFrame, id_col: str
) -> DataFrame:
    """(a, b, n_inter, sz_a, sz_b) for the given (a, b) pairs over the
    ``shingle_array_frame`` base: two equi-joins attach each endpoint's
    array and size, and ``size(array_intersect(...))`` is the
    shared-shingle count (each array is a distinct set) — a map stage
    per pair, with no (doc, shingle) join and no groupBy(a, b)
    exchange."""
    a_side = base.select(
        F.col(id_col).alias("a"), F.col("sharr").alias("_sha"), F.col("sz").alias("sz_a")
    )
    b_side = base.select(
        F.col(id_col).alias("b"), F.col("sharr").alias("_shb"), F.col("sz").alias("sz_b")
    )
    return (
        pairs.join(a_side, "a")
        .join(b_side, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_sha", "_shb")).alias("n_inter"),
            "sz_a",
            "sz_b",
        )
    )


def containment_candidate_pairs(
    sh: DataFrame,
    id_col: str,
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """Recall-COMPLETE candidate pairs for directed set containment
    ``c(A→B) = |A∩B|/|A| >= tau`` with ``tau = tau_num/tau_den`` over
    the ``shingle_array_frame`` (id, sharr, sz) frame (integer
    arithmetic throughout — ``floor(float_tau * |A|)`` can round the
    prefix length down by one and silently void the recall guarantee,
    e.g. 0.8*5 = 4.000000000000001).

    One-sided PREFIX FILTERING (the AllPairs/PPJoin idiom in its
    containment form): order each doc's distinct shingles by GLOBAL
    RARITY (document frequency asc, shingle asc as the tiebreak), keep
    the first ``p = |A| - ceil(tau·|A|) + 1`` as the doc's PROBE
    prefix, and equi-join probes against the FULL shingle inverted
    index. Guarantee: if ``c(A→B) >= tau`` then
    ``|A∩B| >= ceil(tau·|A|)`` (intersection sizes are integers), so A
    has at most ``|A| - ceil(tau·|A|) < p`` shingles outside B — at
    least one probe shingle of A must land in B's index row and the
    pair collides. Symmetric MinHash LSH cannot give this: its band
    collision probability tracks JACCARD, which collapses to ~|A|/|B|
    for a tiny doc quoted inside a huge one even when containment is
    1.0 (Broder's containment-vs-resemblance distinction).

    Scale shape: one shuffle on shingle for the doc-frequency agg, one
    doc-clustered window for the prefix rank (max task = one doc's
    shingles), one equi-join probe⋈index whose fan-out is
    Σ_prefix-shingles df(s) — rare-FIRST ordering keeps that near its
    minimum because each doc probes with its most discriminative
    shingles; the index side is the corpus shingle set itself, never an
    all-pairs cross."""
    if not (0 < tau_num <= tau_den):
        raise ValueError(f"tau must be in (0, 1]: got {tau_num}/{tau_den}")
    ex = sh.select(id_col, "sz", F.explode("sharr").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    prefix = (
        ex.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .filter(
            F.col("_rk")
            <= F.col("sz")
            - F.expr(f"(sz * {tau_num} + {tau_den - 1}) DIV {tau_den}")
            + F.lit(1)
        )
    )
    probe = prefix.select(F.col(id_col).alias("a"), "shingle")
    index = ex.select(F.col(id_col).alias("b"), "shingle")
    return (
        probe.join(index, "shingle")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )


def all_pairs_jaccard(sh: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for every pair sharing at least one shingle, over
    the ``shingle_array_frame`` (id, sharr, sz) frame.

    The exploded shingle self-join is the candidate generator here
    (inverted-index join): linear in Σ docs-per-shingle², which is fine
    when shingles are discriminative; for web-scale corpora prefer the
    MinHash/LSH path. Set sizes ride along from ``sz`` through the
    intersection count (they are constant per pair), so no size
    aggregate or size join is needed.
    """
    ex = sh.select(id_col, "sz", F.explode("sharr").alias("shingle"))
    inter = (
        ex.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"), "shingle")
        .join(
            ex.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.select("a", "b", pair_jaccard().alias("jaccard"))


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document via bit-vote aggregation.

    Declarative form: explode tokens × 32 bit positions, vote ±1 per bit,
    reassemble sign bits. Linear in (tokens × 32); at extreme scale the
    same logic drops into a Pandas UDF — this form keeps it
    oracle-checkable.
    """
    toks = df.select(id_col, F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    hashed = toks.select(id_col, F.pmod(md5_int64(F.col("tok")), F.lit(2**32)).alias("h"))
    bits = hashed.select(
        id_col, "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit")
    ).select(
        id_col,
        "bit",
        # shiftright/shiftleft take only literal shift counts in the Python
        # API — the SQL forms accept a column
        F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1).alias("vote"),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        ).alias("simhash")
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    reliable: bool = False,
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation (hash-to-min): every node repeatedly adopts the smallest
    label among itself and its neighbors until a fixpoint.

    This is the standard large-graph CC formulation (the same shape
    GraphX/GraphFrames use): each round is one equi-join + one groupBy
    — both shuffles on the node id — and the round count is the graph
    DIAMETER, not the node count. Near-dup clusters are shallow (stars /
    short chains), so this converges in a handful of rounds at any
    corpus size. The converged label is the minimum node id reachable
    from each node — a deterministic canonical representative.

    ``reliable``: fault-tolerant checkpoints for loop-carried state
    (see operators/graph.py:loop_checkpoint) — default localCheckpoint
    is fast but an executor loss mid-run fails the job; on a cluster
    call ``spark.sparkContext.setCheckpointDir(<durable>)`` and pass
    True so an hour-10 failure resumes from the last round's files.

    Returns (node, component) for every node that appears in ``edges``.
    """
    from pipeline_mf_etl_spark.operators.graph import loop_checkpoint

    # checkpoint (not cache) on the loop-carried frames: an iterative
    # plan that only caches still GROWS its logical plan every round (each
    # round's analysis re-walks the whole upstream expression tree, e.g. a
    # large LSH literal at the base) — checkpointing truncates lineage so
    # every round analyzes a constant-size plan. On the fast path the
    # checkpoints are LAZY (eager=False): materialization folds into the
    # round's convergence action, so a round costs ONE job.
    #
    # Round shape — one join + one aggregation per round:
    # - SELF-LOOPS: sym carries a (src, src) row per directed edge, so
    #   "min over self ∪ neighbors" needs no second labels join: the
    #   own label arrives via the self rows (duplicates cannot change
    #   a min). The own label for
    #   the convergence flag is recovered inside the SAME aggregation
    #   (min over the dst == src rows).
    # - FUSED SEED: initial labels are the node ids, so round 1's
    #   "min over self ∪ neighbors" is exactly least(src, min(dst)) —
    #   one aggregation over sym replaces both the distinct-node seed
    #   and the first join round.
    sym = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).unionAll(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    sym_loops = loop_checkpoint(
        sym.unionAll(sym.select("src", F.col("src").alias("dst"))),
        reliable,
        eager=False,
    )
    # round 1 = the seed aggregation itself (min(dst) over sym_loops
    # includes the self rows, so least() folds in for free and
    # "_changed" is min-neighbor-undercut exactly as in later rounds)
    labels = loop_checkpoint(
        sym_loops.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.col("_m").alias("component"),
            (F.col("_m") < F.col("src")).alias("_changed"),
        ),
        reliable,
        eager=False,
    )
    converged = False
    # max_iter CHANGING rounds are allowed, plus one confirming round —
    # a graph whose diameter needs exactly max_iter propagation rounds
    # must come back converged, not as a spurious failure.
    #
    # labels_ckpt tracks the frame that owns the current checkpoint
    # blocks; pending_free is the SUPERSEDED round, freed only after the
    # next round's collect has materialized its successor (freeing
    # earlier would yank blocks the successor's plan still reads).
    labels_ckpt = labels
    pending_free: DataFrame | None = None
    for _ in range(max_iter + 1):
        # Full-scan aggregate, not filter+limit: a limit(1) short-
        # circuit may skip partitions, leaving the LAZY checkpoint only
        # partially materialized; max(_changed) covers every partition,
        # so this one action both persists the round's blocks and
        # answers the convergence question.
        row = labels.agg(F.max("_changed")).collect()[0]
        if pending_free is not None and not reliable:
            free_checkpoint(pending_free)
            pending_free = None
        changed = bool(row[0]) if row[0] is not None else False
        if not changed:
            converged = True
            break
        joined = sym_loops.join(
            labels.select(F.col("node").alias("dst"), "component"), "dst"
        )
        labels = loop_checkpoint(
            joined.groupBy("src")
            .agg(
                F.min("component").alias("_new"),
                # own label = the component carried by the self rows
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("component"))
                ).alias("_old"),
            )
            .select(
                F.col("src").alias("node"),
                F.col("_new").alias("component"),
                (F.col("_new") < F.col("_old")).alias("_changed"),
            ),
            reliable,
            eager=False,
        )
        # (reliable checkpoints live in the checkpoint dir, not executor
        # block storage — nothing to free, and freeing would be wrong.)
        pending_free = labels_ckpt
        labels_ckpt = labels
    if not reliable:
        if pending_free is not None:
            free_checkpoint(pending_free)
        free_checkpoint(sym_loops)
    if not converged:
        # returning partial labels would silently assign WRONG components
        # to the far ends of long chains — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds — the graph has a component whose diameter exceeds the "
            "iteration budget; raise max_iter"
        )
    return labels.select("node", "component")

