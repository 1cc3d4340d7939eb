"""Deduplication operators for large-scale training-data pipelines.

All hashing is built on md5 (available and bit-identical in Spark, DuckDB
and any other engine) rather than engine-specific hash functions, so
every stage stays oracle-comparable:

- exact dedupe: md5 of normalized text, keep min doc id per group
- token n-gram shingles: posexplode-free sequence/slice construction
- MinHash: k seeded hash slots h_i(s) = md5_int64("i:" || s), signature =
  per-doc min per slot; banded LSH buckets from signature slices; bucket
  equi-join for candidate pairs; exact Jaccard verification on the
  candidates only (never all-pairs at scale)
- SimHash: per-token 32-bit hash, bit-vote aggregation, hamming distance

Scale notes: the shingle explode is linear in corpus token count and
shuffles on (doc, shingle) only for the signature groupBy; candidate
generation joins on (band, band_hash) — the classic sub-quadratic LSH
plan. Exact-Jaccard verification joins exploded shingle sets only for
candidate pairs.
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


def shingles(col: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles (distinct)."""
    return _ngram_join(tokens(col), n)


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows, one per distinct n-gram per doc.

    Tokenization runs in its own projection stage: inlining ``tokens()``
    into the shingle expression would duplicate the regex pipeline at
    every reference — including inside the per-shingle slice lambda —
    turning tokenization O(tokens) into O(tokens·shingles) per doc
    (measured 15× slower at sf0.1)."""
    t = df.select(id_col, tokens(F.col(text_col)).alias("__toks"))
    return t.select(id_col, F.explode(_ngram_join(F.col("__toks"), n)).alias("shingle"))


# xxhash-style odd multipliers for the affine slot family (mod prime).
_MIX_A = 2654435761
_MIX_B = 2246822519


def minhash_slot_params(i: int) -> tuple[int, int]:
    """Slot i's affine constants (a, b) — same arithmetic as the oracle."""
    return (_MIX_A * (i + 1)) % _FOLD_PRIME, (_MIX_B * (i + 1)) % _FOLD_PRIME


def minhash_signatures(
    sh: DataFrame, id_col: str, k: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: k min-hash slots over the shingle set.

    One md5 per shingle, then k affine mixes ``(a_i·h + b_i) mod P`` —
    the classic universal-hash family. Hashing each shingle k times with
    a seeded md5 costs k string hashes per row (measured ~4x slower);
    the base hash is materialized as a column first so it is computed
    once, not inlined into every slot expression."""
    hashed = sh.select(
        id_col, F.pmod(md5_int64(F.col("shingle")), F.lit(_FOLD_PRIME)).alias("h")
    )
    aggs = []
    for i in range(k):
        a, b = minhash_slot_params(i)
        aggs.append(
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_FOLD_PRIME))).alias(f"mh_{i}")
        )
    return hashed.groupBy(id_col).agg(*aggs)


def shingle_array_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sharr, sz): the distinct shingle ARRAY per doc plus its
    size — docs with no shingles (fewer than n tokens) are dropped,
    matching ``exploded_shingles``' explode semantics exactly.

    The r15 d2 shape: keeping shingles as per-row arrays makes MinHash
    signatures and set sizes MAP work (``minhash_signatures_from_arrays``
    / the ``sz`` column) and exact verification one ``array_intersect``
    per candidate pair (``jaccard_on_array_pairs``) — removing the
    signature groupBy exchange, the sizes groupBy exchange, and the
    two-sided exploded-shingle verify join from the chain. The total
    hash work (one md5 fold per distinct shingle) is unchanged.

    Shingle-less docs are KEPT (sz = 0) — filtering here would let
    predicate pushdown substitute the shingle expression into the
    filter below the projection and evaluate the whole n-gram build
    TWICE per row (measured 2x the persist cost at sf0.1). Callers
    that need only shingled docs filter on the cached ``sz`` column
    (one cheap scan of the persisted frame), which ``exploded_shingles``'
    explode semantics made implicit."""
    t = df.select(id_col, tokens(F.col(text_col)).alias("__toks"))
    arr = t.select(id_col, _ngram_join(F.col("__toks"), n).alias("sharr"))
    return arr.withColumn("sz", F.size("sharr"))


def minhash_signatures_from_arrays(
    base: DataFrame, id_col: str, k: int = 16, arr_col: str = "sharr"
) -> DataFrame:
    """Per-doc MinHash signature computed MAP-SIDE from the shingle
    array — bit-identical values to ``minhash_signatures`` over the
    exploded rows (same md5 fold, same affine slot family, min over
    the same distinct set), with no corpus-wide exchange: the
    explode + groupBy(id) becomes per-row array algebra.

    The folded base-hash array is materialized as its OWN column in
    its own projection so the k min-reductions share one evaluation —
    higher-order functions are CodegenFallback, and inlining the fold
    into every slot lambda would re-hash each shingle k times
    (the d5/e3 lesson, operators/similarity.py)."""
    hs = F.transform(
        F.col(arr_col), lambda s: F.pmod(md5_int64(s), F.lit(_FOLD_PRIME))
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


def jaccard_on_array_pairs(
    pairs: DataFrame, base: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs from the per-doc
    shingle ARRAYS: two equi-joins attach each endpoint's array + size,
    then ``size(array_intersect(...))`` computes the intersection in a
    map stage — same integers as the exploded-join form
    (``jaccard_on_pairs``: arrays are distinct per doc, so the
    intersection size is the shared-shingle count), without the
    (b, shingle) wide join and the groupBy(a, b) exchange."""
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
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, k: int = 16, bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: hash each band of the signature; docs sharing any band
    bucket become candidate pairs (a < b).

    One projection builds all band hashes as an array and explodes it —
    a union of per-band frames would rescan (and at 100 TB recompute)
    the whole signature input once per band.

    ``max_bucket`` (optional) guards against adversarial duplicate
    density: a corpus dominated by ONE giant duplicate cluster puts
    O(cluster) docs in the same band bucket, and the self-join then
    emits O(cluster²) candidate pairs (the measured 64× rise in
    SCALE.md). The cap keeps only the ``max_bucket`` smallest doc ids
    per (band, bucket) — pair output per bucket is bounded by
    C(max_bucket, 2) regardless of cluster size. Recall trade: capped-
    out docs can still be caught by their OTHER bands, and the
    production ordering (d7) runs d1 exact-dedupe first so exact
    clusters never reach LSH; the cap is the belt-and-braces for
    near-exact floods. Default None = exact candidate set (the
    certified-oracle behavior).
    """
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: integer division "
            "would silently drop trailing minhash slots and weaken LSH recall"
        )
    rows_per_band = k // bands
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash")
    )
    if max_bucket is not None:
        # rank WITHIN each bucket (partitioned window — max task = one
        # bucket's membership rows, never the corpus) and keep the
        # smallest ids; deterministic, so both sides of the self-join
        # see the same truncated membership.
        wb = Window.partitionBy("band", "band_hash").orderBy(F.col(id_col).asc())
        buckets = (
            buckets.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    left = buckets.select(F.col(id_col).alias("a"), "band", "band_hash")
    right = buckets.select(F.col(id_col).alias("b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    # second join is equi on BOTH (doc, shingle) so it stays a hash join
    # sized by the true intersection, never |pairs|×|shingles-per-doc|².
    inter = (
        pairs.join(sh.select(F.col(id_col).alias("a"), "shingle"), "a")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def containment_candidate_pairs(
    sh: DataFrame,
    id_col: str,
    tau_num: int = 4,
    tau_den: int = 5,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Recall-COMPLETE candidate pairs for directed set containment
    ``c(A→B) = |A∩B|/|A| >= tau`` with ``tau = tau_num/tau_den``
    (integer arithmetic throughout — ``floor(float_tau * |A|)`` can
    round the prefix length down by one and silently void the recall
    guarantee, e.g. 0.8*5 = 4.000000000000001).

    One-sided PREFIX FILTERING (the AllPairs/PPJoin idiom in its
    containment form — the r7 verdict's task 4): order each doc's
    distinct shingles by GLOBAL RARITY (document frequency asc, shingle
    asc as the tiebreak), keep the first ``p = |A| - ceil(tau·|A|) + 1``
    as the doc's PROBE prefix, and equi-join probes against the FULL
    shingle inverted index. Guarantee: if ``c(A→B) >= tau`` then
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
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    if sizes is None:  # caller may share its own (id, _sz) aggregate
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("_rk")
            <= F.col("_sz")
            - F.expr(f"(_sz * {tau_num} + {tau_den - 1}) DIV {tau_den}")
            + F.lit(1)
        )
    )
    probe = prefix.select(F.col(id_col).alias("a"), "shingle")
    index = sh.select(F.col(id_col).alias("b"), "shingle")
    return (
        probe.join(index, "shingle")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )


def all_pairs_jaccard(sh: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for every pair sharing at least one shingle.

    The shingle self-join is the candidate generator here (inverted-index
    join): linear in Σ docs-per-shingle², which is fine when shingles are
    discriminative; for web-scale corpora prefer the MinHash/LSH path.
    """
    inter = (
        sh.select(F.col(id_col).alias("a"), "shingle")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


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
    # r15 round shape (two changes, guide §1.2 "remove passes"):
    # - SELF-LOOPS: sym carries a (src, src) row per directed edge, so
    #   "min over self ∪ neighbors" is ONE join + ONE aggregation per
    #   round — the min is over the same set whether the own label
    #   arrives via a second labels join (the r14 shape) or via the
    #   self rows (duplicates cannot change a min). The own label for
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


def minhash_band_buckets_rowwise(
    df: DataFrame, id_col: str, text_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_hash) LSH bucket rows computed ENTIRELY per-row
    with array higher-order functions — no per-doc aggregation, so the
    same expression is legal on a streaming DataFrame (stream-static
    LSH lookup of new docs against a static corpus index), where the
    groupBy-based ``minhash_signatures`` path cannot run in append mode.

    Arithmetic is bit-identical to ``minhash_signatures`` +
    ``lsh_candidate_pairs``: one md5 per shingle, k affine mixes
    ``(a_i·h + b_i) mod P``, band hash = md5 of the comma-joined slot
    minima — equivalence is asserted by
    tests/test_operators.py::test_rowwise_buckets_match_grouped.

    Docs with no shingles (under 3 tokens) emit no rows, same as the
    exploded path. Tokens and base hashes are materialized in their own
    projection stages (see ``exploded_shingles`` for why inlining the
    regex pipeline into per-shingle lambdas is O(tokens·shingles))."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: integer division "
            "would silently drop trailing minhash slots and weaken LSH recall"
        )
    rows_per_band = k // bands
    t = df.select("*", tokens(F.col(text_col)).alias("__toks"))
    h = F.transform(
        _ngram_join(F.col("__toks"), 3),
        lambda s: F.pmod(md5_int64(s), F.lit(_FOLD_PRIME)),
    )
    hashed = t.select("*", h.alias("__h")).filter(F.size("__h") > 0).drop("__toks")
    def _mix(a: int, b: int):
        # closure factory: F.transform infers lambda arity via signature
        # inspection, so default-arg capture would read as a 3-arg lambda
        return lambda x: F.pmod(x * F.lit(a) + F.lit(b), F.lit(_FOLD_PRIME))

    mins = [
        F.array_min(F.transform(F.col("__h"), _mix(a, b))).cast("string")
        for a, b in (minhash_slot_params(i) for i in range(k))
    ]
    band_hashes = F.array(
        *[
            F.md5(F.concat_ws(",", *mins[b * rows_per_band : (b + 1) * rows_per_band]))
            for b in range(bands)
        ]
    )
    return hashed.select(
        id_col, F.posexplode(band_hashes).alias("band", "band_hash")
    )
