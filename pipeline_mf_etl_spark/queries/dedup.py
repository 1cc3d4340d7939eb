"""Deduplication queries over the documents corpus — first-class
training-data-pipeline operators (exact, MinHash+LSH, SimHash, n-gram
Jaccard), each with a full DuckDB oracle.

Hashing is md5-based on both sides; the oracle folds hex prefixes to
int64 with ``list_reduce`` so every hash value is bit-identical to
Spark's ``conv(substr(md5(x),1,15),16,10)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.dedupe import (
    all_pairs_jaccard,
    array_pair_overlap,
    containment_candidate_pairs,
    lsh_candidate_pairs,
    minhash_signatures_from_arrays,
    pair_jaccard,
    shingle_array_frame,
    simhash32,
)
from pipeline_mf_etl_spark.config import load_settings
from pipeline_mf_etl_spark.pin import pin, release
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import fan_out, load_table

#: cluster deployments flip graph.reliable_checkpoints in settings.yaml
#: (after setCheckpointDir to durable storage) — no code edit needed.
_RELIABLE = load_settings().graph.reliable_checkpoints

# DuckDB fragments kept in lockstep with operators/dedupe.py ------------------

# int64 fold of the first 15 md5 hex chars == Spark conv(substr(md5,1,15),16,10)
_FOLD = (
    "list_reduce(list_transform(split(substr(md5({x}), 1, 15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
    " (acc, y) -> acc * 16 + y)"
)

# normalized token list == operators.dedupe.tokens()
_TOKS = (
    "list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), ' '), t -> t <> '')"
)

# distinct word-3-gram shingles CTE (doc_id, shingle). ``src`` is the
# relation shingled — "documents" for the standalone dedup queries, a
# prior CTE (e.g. exact-dedupe survivors) for the d7 waterfall.
def shingles_cte(src: str = "documents") -> str:
    return f"""
    tok AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        FROM tok, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS t(i)
        WHERE len(toks) >= 3
    )
"""


_SHINGLES_CTE = shingles_cte()


def _r(col, n=6):
    return F.round(col, n)


# DuckDB twin of operators.dedupe.exact_fingerprint — single SQL-side
# source for the d1 fingerprint (d1 oracle + d7 waterfall oracle).
EXACT_FP_SQL = f"md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))"


# ---------------------------------------------------------------------------
# Exact dedupe on canonical token-set fingerprint (hash-groupBy).
# Catches both byte-identical and bag-of-words-identical duplicates.
# ---------------------------------------------------------------------------
@query(
    "d1_exact_dedupe",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, {EXACT_FP_SQL} AS fingerprint
        FROM documents
    )
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
    """,
)
def d1_exact_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedupe: md5 over sorted distinct token set, keep min doc_id."""
    from pipeline_mf_etl_spark.operators.dedupe import exact_fingerprint

    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    fp = docs.select("doc_id", exact_fingerprint(F.col("text")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup detection (16 slots, 4 bands), with exact
# Jaccard verification on candidates only — the sub-quadratic scale path.
# ---------------------------------------------------------------------------
# The full MinHash→LSH→verify chain as a reusable CTE block: d2 emits
# the verified pairs directly; d6 builds duplicate groups on top of the
# SAME pair definition, and d7 re-runs it over the exact-dedupe
# survivors (one source of truth for the dedup semantics).
def d2_chain(src: str = "documents") -> str:
    return f"""{shingles_cte(src)},
    hashes AS (
        SELECT doc_id, {_FOLD.format(x="shingle")} % 2147483647 AS h
        FROM sh
    ),
    slots AS (
        SELECT doc_id, seed,
               ((2654435761 * (seed + 1)) % 2147483647 * h
                + (2246822519 * (seed + 1)) % 2147483647) % 2147483647 AS hv
        FROM hashes, UNNEST(range(0, 16)) AS s(seed)
    ),
    sig AS (SELECT doc_id, seed, MIN(hv) AS mh FROM slots GROUP BY doc_id, seed),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_hash
        FROM sig GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l
        JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b
    ),
    verified AS (
        SELECT i.a, i.b,
               ROUND(i.n_inter * 1.0 / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a
        JOIN sizes zb ON zb.doc_id = i.b
        WHERE i.n_inter * 1.0 / (za.sz + zb.sz - i.n_inter) >= 0.5
    )"""


_D2_CHAIN = d2_chain()


def capped_bands_cte(cap: int | None) -> tuple[str, str]:
    """(relation, cte) for the ``bands`` CTE of ``d2_chain`` capped to
    the ``cap`` smallest doc_ids per (band, band_hash) — the SQL twin of
    ``operators/dedupe.py:cap_band_buckets``, and the one place the
    oracles state the cap. ``cte`` is appended after the chain's last
    CTE; ``cap=None`` returns the uncapped ``bands`` and no CTE."""
    if cap is None:
        return "bands", ""
    return "capped", f""",
    capped AS (
        SELECT doc_id, band, band_hash FROM (
            SELECT doc_id, band, band_hash,
                   ROW_NUMBER() OVER (
                       PARTITION BY band, band_hash ORDER BY doc_id) AS rn
            FROM bands
        ) WHERE rn <= {cap}
    )"""


def _verified_pairs(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Verified near-dup pairs (a, b, jaccard >= 0.5) — the Spark twin
    of the ``verified`` CTE in ``_D2_CHAIN``, shared by d2 (pair
    emission) and d6 (group formation + canonical selection).
    ``max_bucket`` bounds per-bucket LSH membership against duplicate
    floods (``cap_band_buckets``); None = the exact candidate set.

    Plan shape: shingles stay per-doc ARRAYS, so MinHash signatures and
    set sizes are per-row map work and exact verification is one
    array_intersect per candidate pair — no corpus-wide exchange
    before the band-bucket self-join; only candidate-sized frames cross
    exchanges after it. Values equal the oracle's: same md5 fold, same
    affine family, min over the same distinct set, same integer
    Jaccard arithmetic.

    The (doc_id, sharr, sz) base frame feeds two consumers (signature
    branch + both verify endpoints) — it is pinned in the "shingles"
    slot so the tokenize + shingle build runs once per invocation. A
    caller that materializes the pairs releases the slot."""
    base = pin("shingles", shingle_array_frame(docs, "doc_id", "text", n=3))
    # shingle-less docs (sz = 0) never enter the chain — the filter runs
    # on the CACHED sz column, not on the shingle expression (where
    # predicate pushdown would double-evaluate the n-gram build; see
    # shingle_array_frame)
    sig = minhash_signatures_from_arrays(
        base.filter(F.col("sz") > 0), "doc_id", k=16
    )
    cand = lsh_candidate_pairs(sig, "doc_id", k=16, bands=4, max_bucket=max_bucket)
    return (
        array_pair_overlap(cand, base, "doc_id")
        .select("a", "b", pair_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "d2_minhash_lsh",
    oracle=f"""
    WITH {_D2_CHAIN}
    SELECT a, b, jaccard FROM verified
    """,
)
def d2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH buckets → verified near-dup pairs.

    Always EXACT candidates (the certified-oracle behavior); the capped
    regime lives in the unregistered ``d2_minhash_lsh_capped``."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _verified_pairs(docs).select(
        "a", "b", _r(F.col("jaccard")).alias("jaccard")
    )


def d2_minhash_lsh_capped(
    spark: SparkSession, sf_dir: str, max_bucket: int = 64
) -> DataFrame:
    """UNREGISTERED probe entry point for the duplicate-flood regime:
    same plan as ``d2_minhash_lsh`` with the deterministic per-bucket
    cap. The default of 64 is the flood cap SCALE.md measured;
    scripts/scale_probe.py routes its flood leg here, and the
    registered d2 stays exact."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _verified_pairs(docs, max_bucket=max_bucket).select(
        "a", "b", _r(F.col("jaccard")).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints (32-bit, bit-vote) — per-doc parity check.
# ---------------------------------------------------------------------------
@query(
    "d3_simhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dtok AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, UNNEST(toks) AS tok FROM tok)
    ),
    h AS (SELECT doc_id, {_FOLD.format(x="tok")} % 4294967296 AS h FROM dtok),
    bits AS (
        SELECT doc_id, bit,
               SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, UNNEST(range(0, 32)) AS b(bit)
        GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def d3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document via declarative bit-vote aggregation."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return simhash32(docs, "doc_id", "text").select(
        "doc_id", F.col("simhash").cast("long").alias("simhash")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs via inverted-index self-join.
# ---------------------------------------------------------------------------
@query(
    "d4_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inter AS (
        SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS n_inter
        FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
    SELECT i.a, i.b,
           ROUND(i.n_inter * 1.0 / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE i.n_inter * 1.0 / (za.sz + zb.sz - i.n_inter) >= 0.8
    """,
)
def d4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (threshold 0.8), inverted-index join."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # pin the shingle arrays: both sides of all_pairs_jaccard's self-join
    # read them, so without the pin the corpus tokenize + n-gram build
    # runs once per side
    sh = pin("shingles", shingle_array_frame(docs, "doc_id", "text", n=3))
    return (
        all_pairs_jaccard(sh, "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .select("a", "b", _r(F.col("jaccard")).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# D5: near-duplicate GROUP formation — connected components over the
# embedding-LSH pair graph, canonical representative = min vec_id.
# The step after pair detection in any dedup pipeline: pick one doc per
# duplicate cluster. Spark side is min-label propagation (rounds =
# cluster diameter, shuffles on node id only); oracle is a recursive-CTE
# transitive closure over the same pair set.
# ---------------------------------------------------------------------------
_NEARDUP_COS = (
    "list_dot_product(a.emb, b.emb) / "
    "(sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))"
)


@query(
    "d5_neardup_groups",
    eager=True,
    oracle=f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND({_NEARDUP_COS}, 6) >= 0.4
    ), edges AS (
        SELECT a AS u, b AS w FROM pairs UNION SELECT b, a FROM pairs
    ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.w
    ), comp AS (
        SELECT u AS vec_id, MIN(r) AS group_id FROM reach GROUP BY u
    )
    SELECT vec_id, group_id,
           CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
    FROM comp
    """,
)
def d5_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment for every embedding that has at least
    one near-dup (cosine >= 0.4): LSH candidate pairs → connected
    components → (vec_id, group_id, group_size). EAGER: connected
    components iterates join+count rounds at build time."""
    from pipeline_mf_etl_spark.operators.dedupe import connected_components
    from pipeline_mf_etl_spark.operators.similarity import embedding_near_dup_pairs
    from pipeline_mf_etl_spark.sources.readers import fan_out
    from pyspark.sql import Window

    # fan_out: parallelize the LSH bit-signature scan on an
    # embeddings file stored as one row group (no-op at scale)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pairs = embedding_near_dup_pairs(v, 0.4, dim=64).select("a", "b")
    cc = connected_components(pairs, reliable=_RELIABLE)
    w = Window.partitionBy("component")
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("group_id"),
        F.count("*").over(w).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# D6: canonical-document selection — the retention step a training-data
# pipeline runs AFTER near-dup detection: form duplicate clusters from
# the verified MinHash pairs (d2's exact pair definition), score every
# clustered doc with the t2 quality model, and keep the best-quality doc
# per cluster (quality desc, doc_id asc tiebreak). The reference keeps
# first-by-id (cleaning.py keep="first"); keeping best-by-quality is the
# corpus-curation upgrade an LLM pipeline wants.
# ---------------------------------------------------------------------------
def neardup_ranked_ctes(doc_src: str = "documents") -> str:
    """edges/reach/comp/qtok/qual/ranked CTEs over an in-scope
    ``verified`` pair CTE (from ``d2_chain``): recursive transitive
    closure → component ids → within-cluster quality rank. ``doc_src``
    is where quality is scored (a superset of the clustered docs).
    Shared by the d6 oracle and the d7 waterfall oracle."""
    from pipeline_mf_etl_spark.operators.text import PUNCT_SQL_LITERAL, quality_sql

    # quality formula + punct class come from the SAME shared fragments
    # as t2_quality_score's oracle — one source per engine
    q_expr = quality_sql(
        "len(toks)",
        "(CASE WHEN n_chars_raw > 0 THEN n_punct * 1.0 / n_chars_raw ELSE 0.0 END)",
        "(CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks,"
        " t -> LENGTH(t))) * 1.0 / len(toks) END)",
    )
    return f"""
    edges AS (
        SELECT a AS u, b AS w FROM verified UNION SELECT b, a FROM verified
    ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.w
    ), comp AS (
        SELECT u AS doc_id, MIN(r) AS group_id FROM reach GROUP BY u
    ), qtok AS (
        SELECT doc_id, {_TOKS} AS toks,
               LENGTH(text) AS n_chars_raw,
               LENGTH(text) - LENGTH(regexp_replace(text,
                   {PUNCT_SQL_LITERAL}, '', 'g')) AS n_punct
        FROM {doc_src}
    ), qual AS (
        SELECT doc_id, ROUND({q_expr}, 6) AS q
        FROM qtok
    ), ranked AS (
        SELECT c.doc_id, c.group_id, qual.q,
               ROW_NUMBER() OVER (PARTITION BY c.group_id
                                  ORDER BY qual.q DESC, c.doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY c.group_id) AS group_size
        FROM comp c JOIN qual USING (doc_id)
    )"""


def _d6_oracle() -> str:
    return f"""
    WITH RECURSIVE {_D2_CHAIN},
    {neardup_ranked_ctes()}
    SELECT group_id,
           CAST(group_size AS BIGINT) AS group_size,
           doc_id AS canonical_doc_id,
           q AS canonical_quality,
           CAST(group_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rk = 1
    """


def verified_pairs_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d2's verified near-dup pairs (a, b, jaccard) as a per-process
    parquet export, computed AT MOST ONCE per (process, sf): the MinHash
    chain (shingle arrays → signatures → band join → exact verify) is
    the most expensive subplan in the dedup family, and several
    consumers (d6's connected components, repeated probe runs) need the
    SAME raw-corpus pair set — without the export every invocation
    re-runs the full chain. Oracles are unchanged: they recompute the
    chain in SQL, and the export content is exactly the chain's output
    (hash-certified via d2), so reuse dedupes ENGINE work only."""
    from pipeline_mf_etl_spark.queries.export import (
        export_frame,
        have_export,
        read_export,
    )

    name = "d2_pairs"
    if have_export(sf_dir, name):
        return read_export(spark, sf_dir, name)
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = export_frame(
        _verified_pairs(docs).select("a", "b", "jaccard"), spark, sf_dir, name
    )
    release("shingles")
    return out


def ranked_neardup_clusters(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, group_id, q, rk, group_size) for every document in a
    near-dup cluster: verified MinHash pairs → connected components →
    within-cluster quality rank (6-dp t2 quality desc, doc_id asc).
    rk = 1 is the canonical keeper. Shared by d6 (canonical emission)
    and the corpus-curation pipeline (rk > 1 = the drop set). EAGER:
    connected components iterates join+count rounds when called.

    ``pairs`` (optional): a precomputed verified-pair frame — e.g.
    :func:`verified_pairs_export` — so callers skip recomputing the
    MinHash chain; when None the chain runs inline. Signatures, band
    buckets and pair Jaccard are per-doc/per-pair quantities, so a
    caller over a FILTERED doc set (the curation waterfall) can reuse
    the raw-corpus export too: its pair graph is exactly the export
    restricted to pairs whose endpoints both survive the filter.

    Scale shape: the pair graph and CC shuffle on doc id only; the
    quality score is a single projection over the corpus joined to the
    (much smaller) clustered-doc set — quality is computed AFTER the
    join so un-clustered docs never pay the scoring regexes. Rounding
    BEFORE ranking makes the ordering ulp-stable across engines."""
    from pyspark.sql import Window

    from pipeline_mf_etl_spark.operators.dedupe import connected_components, tokens
    from pipeline_mf_etl_spark.operators.text import rounded_quality

    verified = _verified_pairs(docs) if pairs is None else pairs
    cc = connected_components(verified.select("a", "b"), reliable=_RELIABLE).select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )
    # CC's localCheckpoints materialized the pair graph — the shingles
    # have no further reader, so free them rather than pinning a
    # full-corpus frame in executor memory for the session
    if pairs is None:
        release("shingles")
    clustered = cc.join(docs.select("doc_id", "text"), "doc_id")
    t = clustered.select(
        "doc_id", "group_id", "text", tokens(F.col("text")).alias("toks")
    )
    q = rounded_quality(F.col("text"), F.col("toks"))
    wg = Window.partitionBy("group_id")
    return t.select("doc_id", "group_id", q.alias("q")).withColumns(
        {
            "rk": F.row_number().over(
                Window.partitionBy("group_id").orderBy(F.desc("q"), F.asc("doc_id"))
            ),
            "group_size": F.count("*").over(wg),
        }
    )


@query("d6_canonical_docs", eager=True, oracle=_d6_oracle())
def d6_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-quality canonical document per near-dup cluster — the rk=1
    row of ``ranked_neardup_clusters`` per group (see that helper for
    semantics and scale shape). EAGER: connected components iterates
    join+count rounds at build time."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ranked = ranked_neardup_clusters(docs, pairs=verified_pairs_export(spark, sf_dir))
    return ranked.filter(F.col("rk") == 1).select(
        "group_id",
        "group_size",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("q").alias("canonical_quality"),
        (F.col("group_size") - 1).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# D8: exact-substring span dedup report — the "duplicated training
# spans" analysis of Lee et al.-style exact substring deduplication:
# any 8-token span occurring in >= 2 DISTINCT documents is a duplicated
# span; per document, report how many spans are duplicated and what
# share of its tokens those spans cover (the union of their [i, i+7]
# windows). A curation pipeline clips or down-weights covered spans;
# the report is the decision input and the whole computation is the
# same plan a clip step would run.
# ---------------------------------------------------------------------------
_D8_N = 8
_D8_DF = 2
# The engine's duplicated-gram flag below is a min/max window —
# min(doc_id) != max(doc_id) ⇔ >= 2 DISTINCT docs — which is equivalent
# to the oracle's COUNT(DISTINCT doc_id) >= _D8_DF ONLY while the
# document-frequency threshold is exactly 2 (changing the constant
# would silently diverge engine and oracle until parity ran).
assert _D8_DF == 2, "d8's min!=max window rewrite assumes _D8_DF == 2"


@query(
    "d8_substring_dedup",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sp AS (
        SELECT doc_id, i,
               array_to_string(toks[i:i + {_D8_N - 1}], ' ') AS gram
        FROM tok, UNNEST(range(1, len(toks) - {_D8_N - 2})) AS t(i)
        WHERE len(toks) >= {_D8_N}
    ), df AS (
        SELECT gram FROM sp GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= {_D8_DF}
    ), flagged AS (
        SELECT s.doc_id, s.i FROM sp s JOIN df USING (gram)
    ), cover AS (
        SELECT DISTINCT f.doc_id, f.i + o.off AS p
        FROM flagged f, UNNEST(range(0, {_D8_N})) AS o(off)
    ), per_doc AS (
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(GREATEST(len(t.toks) - {_D8_N - 1}, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(fc.n_dup, 0) AS BIGINT) AS n_dup_spans,
               CAST(COALESCE(cc.n_cov, 0) AS BIGINT) AS n_covered_tokens
        FROM tok t
        LEFT JOIN (SELECT doc_id, COUNT(*) AS n_dup FROM flagged GROUP BY doc_id) fc
               USING (doc_id)
        LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cover GROUP BY doc_id) cc
               USING (doc_id)
    )
    SELECT doc_id, n_tokens, n_spans, n_dup_spans, n_covered_tokens,
           ROUND(CASE WHEN n_tokens > 0
                      THEN n_covered_tokens * 1.0 / n_tokens ELSE 0.0 END, 6)
               AS covered_share
    FROM per_doc
    """,
)
def d8_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report for exact-substring dedup:
    8-token spans occurring in >= 2 distinct documents, and the token
    coverage of their unioned windows.

    Plan shape: span generation is the shifted-zip n-gram
    build (no per-index slicing) + one posexplode over a persisted
    token frame; the duplicated-span flag is ONE window over gram
    (min(doc_id) != max(doc_id) ⇔ >= 2 distinct docs — the heavy gram
    strings cross exactly one exchange, where the previous
    groupBy(gram) + join-back crossed two); coverage AND span counts
    come from ONE aggregation over the bounded 8-way position explode
    of FLAGGED spans only (dup density, not corpus size, prices it):
    n_dup = COUNT(DISTINCT i), n_cov = COUNT(DISTINCT p). Nothing is
    quadratic, no cartesian anywhere."""
    from pipeline_mf_etl_spark.operators.dedupe import _ngram_join, tokens

    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # pin the token frame: it feeds the span/window branch AND the
    # per-doc length branch — one corpus tokenize instead of two (the
    # pinned frame is doc-grain token arrays, the same cost class as
    # d2's pinned shingle arrays)
    tok = pin("d8_tokens", docs.select("doc_id", tokens(F.col("text")).alias("toks")))
    sp = tok.select(
        "doc_id",
        F.posexplode(_ngram_join(F.col("toks"), _D8_N, distinct=False)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gram")
    # duplicated-gram flag as ONE window over gram instead of
    # groupBy(gram) + equi-join back (guide §2.4 "share one
    # exchange"): df >= 2 DISTINCT docs  ⇔  min(doc_id) != max(doc_id)
    # within the gram partition, so the heavy gram strings cross one
    # exchange (the window sort) instead of two (agg + join probe).
    wg = Window.partitionBy("gram")
    flagged = (
        sp.withColumn("_mn", F.min("doc_id").over(wg))
        .withColumn("_mx", F.max("doc_id").over(wg))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "i")
    )
    # coverage + span count in ONE aggregation: from the exploded
    # (doc_id, i, p) window positions, n_dup = COUNT(DISTINCT i) (i is
    # unique per doc in sp by construction, so this equals the flagged-
    # span count) and n_cov = COUNT(DISTINCT p) — replacing the previous
    # explode+distinct+groupBy AND separate groupBy branches (three
    # doc_id aggregations + two plan instantiations of flagged) with one
    # pass.
    stats = (
        flagged.select(
            "doc_id",
            "i",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (_D8_N - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("i").alias("n_dup"),
            F.countDistinct("p").alias("n_cov"),
        )
    )
    n = F.size("toks")
    per_doc = tok.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.greatest(n - (_D8_N - 1), F.lit(0)).cast("long").alias("n_spans"),
    ).join(stats, "doc_id", "left")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("n_cov", F.lit(0)).cast("long").alias("n_covered_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("n_cov", F.lit(0)) * 1.0 / F.col("n_tokens"),
            ).otherwise(0.0),
            6,
        ).alias("covered_share"),
    )


# ---------------------------------------------------------------------------
# d9: cross-source duplication matrix — which SOURCES duplicate each
# other: every verified near-dup pair mapped to the unordered
# (source, source) cell of its endpoints, with the mean pair jaccard.
# Off-diagonal cells are cross-source contamination (mirrors scraped
# twice, syndicated content); the diagonal is within-source dup
# density. Same shape as o11's split-leakage matrix with sources in
# place of splits; pairs come from the shared export (engine) / the d2
# chain (oracle), so the cost beyond d2 is two doc_id equi-joins and a
# tiny groupBy.
# ---------------------------------------------------------------------------
def _d9_oracle() -> str:
    return f"""
    WITH {_D2_CHAIN}
    SELECT LEAST(da.source, db.source) AS source_lo,
           GREATEST(da.source, db.source) AS source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(v.jaccard), 6) AS sum_jaccard,
           LEAST(da.source, db.source) <> GREATEST(da.source, db.source)
               AS is_cross_source
    FROM verified v
    JOIN documents da ON da.doc_id = v.a
    JOIN documents db ON db.doc_id = v.b
    GROUP BY 1, 2
    """


@query("d9_source_dup_matrix", eager=True, oracle=_d9_oracle())
def d9_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered source×source matrix of verified near-dup pairs with
    summed jaccard; is_cross_source marks contamination between sources.
    EAGER: consumes the persisted pair export."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    v = verified_pairs_export(spark, sf_dir).select("a", "b", "jaccard")
    paired = (
        v.join(docs.select(F.col("doc_id").alias("a"), F.col("source").alias("sa")), "a")
        .join(docs.select(F.col("doc_id").alias("b"), F.col("source").alias("sb")), "b")
    )
    lo = F.least("sa", "sb")
    hi = F.greatest("sa", "sb")
    return (
        paired.groupBy(lo.alias("source_lo"), hi.alias("source_hi"))
        .agg(
            F.count("*").alias("n_pairs"),
            # the export carries UNROUNDED jaccard; round per pair first
            # so the sum runs over the same 6-dp multiples the oracle's
            # chain emits
            F.round(F.sum(F.round("jaccard", 6)), 6).alias("sum_jaccard"),
        )
        .select(
            "source_lo",
            "source_hi",
            "n_pairs",
            "sum_jaccard",
            (F.col("source_lo") != F.col("source_hi")).alias("is_cross_source"),
        )
    )


# ---------------------------------------------------------------------------
# D11: asymmetric CONTAINMENT dedup — the subset-duplication detector a
# symmetric Jaccard threshold structurally misses: a short doc quoted
# wholesale inside a long one has c(A→B) = |A∩B|/|A| ≈ 1 while the
# Jaccard |A∩B|/|A∪B| stays far below any dedup threshold (the classic
# Broder containment-vs-resemblance distinction). Candidates come from
# RARE-PREFIX FILTERING (operators/dedupe.containment_candidate_pairs),
# which is recall-COMPLETE for the 0.8 threshold: unlike d2's
# symmetric-Jaccard LSH bands, a tiny-doc-inside-huge-doc pair
# (containment 1, Jaccard ~0) is GUARANTEED to collide, because every doc probes the full shingle
# inverted index with more of its rarest shingles than it can possibly
# have outside any tau-containing superset. Exact shingle
# intersections on the candidates then yield both directed
# containments. Because candidate recall is complete, the oracle needs
# no candidate chain at all — it computes containment over EVERY pair
# sharing a shingle, so certification proves recall, not just
# precision on an agreed candidate set.
# ---------------------------------------------------------------------------
_D11_TAU = 0.8  # == _D11_TAU_NUM / _D11_TAU_DEN
_D11_TAU_NUM, _D11_TAU_DEN = 4, 5


@query(
    "d11_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS n_inter
        FROM sh sa
        JOIN sh sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
        GROUP BY sa.doc_id, sb.doc_id
    ),
    cont AS (
        SELECT i.a, i.b,
               ROUND(i.n_inter * 1.0 / (za.sz + zb.sz - i.n_inter), 6) AS jaccard,
               ROUND(i.n_inter * 1.0 / za.sz, 6) AS c_a_in_b,
               ROUND(i.n_inter * 1.0 / zb.sz, 6) AS c_b_in_a,
               -- threshold on EXACT integers, not the 6-dp rounded value:
               -- ROUND can pull 0.7999995 up to the 0.8 boundary, which
               -- the prefix filter's recall guarantee does not cover
               (i.n_inter * {_D11_TAU_DEN} >= {_D11_TAU_NUM} * za.sz
                OR i.n_inter * {_D11_TAU_DEN} >= {_D11_TAU_NUM} * zb.sz)
                   AS qualifies
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a
        JOIN sizes zb ON zb.doc_id = i.b
    )
    SELECT a, b, jaccard, c_a_in_b, c_b_in_a,
           (jaccard < 0.5) AS jaccard_missed
    FROM cont
    WHERE qualifies
    """,
)
def d11_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-set containments on recall-complete rare-prefix
    candidates; keep pairs where either containment >= 0.8 and flag
    the ones the symmetric Jaccard-0.5 gate would have missed (D11).
    The oracle is candidate-free (all pairs sharing a shingle), so a
    hash match certifies the prefix filter dropped no qualifying pair."""
    # fan_out: tokenize/shingle map work vs a documents file stored
    # as one row group (no-op at production splits)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # pin the shingle arrays: the candidate generator and both
    # intersection endpoints read them
    sh = pin("shingles", shingle_array_frame(docs, "doc_id", "text", n=3))
    cand = containment_candidate_pairs(
        sh, "doc_id", tau_num=_D11_TAU_NUM, tau_den=_D11_TAU_DEN
    )
    cont = (
        array_pair_overlap(cand, sh, "doc_id")
        .select(
            "a",
            "b",
            _r(pair_jaccard()).alias("jaccard"),
            _r(F.col("n_inter") / F.col("sz_a")).alias("c_a_in_b"),
            _r(F.col("n_inter") / F.col("sz_b")).alias("c_b_in_a"),
            # threshold on EXACT integers, not the 6-dp rounded value
            # (ROUND can pull 0.7999995 up to the boundary, outside
            # the prefix filter's recall guarantee)
            (
                (F.col("n_inter") * _D11_TAU_DEN >= _D11_TAU_NUM * F.col("sz_a"))
                | (F.col("n_inter") * _D11_TAU_DEN >= _D11_TAU_NUM * F.col("sz_b"))
            ).alias("qualifies"),
        )
    )
    return cont.filter(F.col("qualifies")).select(
        "a", "b", "jaccard", "c_a_in_b", "c_b_in_a",
        (F.col("jaccard") < 0.5).alias("jaccard_missed"),
    )
