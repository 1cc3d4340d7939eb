"""Validation-harness operators (SURVEY.md §2.8 M16, M21).

The reference's event-study builder is a 208-line per-ticker Python loop
(validation/event_studies.py:52-260) that emits ±window return paths
around state transitions. Here it is the bounded explode+join rewrite
from SURVEY.md §7.5: explode rel_bar over the event rows only (events
are sparse), equi-join back to the bar table on (series, row_index) —
linear work, one shuffle, no range self-join.

Walk-forward (validation/walkforward.py:144-400) is a driver loop over
splits in the reference; the per-split aggregates collapse into ONE
grouped pass by cross-joining the tiny split table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.functions.core import safe_div
from pipeline_mf_etl_spark.operators.windows import series_window
from pipeline_mf_etl_spark.pin import pin
from pipeline_mf_etl_spark.queries.registry import query
from pipeline_mf_etl_spark.sources.readers import load_table

_W = "PARTITION BY user_id ORDER BY ts, event_id"

_REL_LO, _REL_HI = -5, 10


# ---------------------------------------------------------------------------
# M16: transition event study (reference validation/event_studies.py:52-260)
# ---------------------------------------------------------------------------
@query(
    "m16_event_study",
    oracle=f"""
    WITH bars AS (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER ({_W}) AS rn,
               CASE WHEN ABS(LAG(value) OVER ({_W})) > 1e-12
                    THEN value / (LAG(value) OVER ({_W})) - 1 END AS ret_1,
               LAG(event_type) OVER ({_W}) AS prev_state
        FROM events
    ), ev AS (
        SELECT user_id, rn AS event_rn, prev_state || '>' || event_type AS transition
        FROM bars
        WHERE prev_state IS NOT NULL AND event_type <> prev_state
    ), path AS (
        SELECT e.transition, t.rel_bar, b.ret_1
        FROM ev e
        CROSS JOIN UNNEST(range({_REL_LO}, {_REL_HI + 1})) AS t(rel_bar)
        JOIN bars b ON b.user_id = e.user_id AND b.rn = e.event_rn + t.rel_bar
    )
    SELECT transition, CAST(rel_bar AS INTEGER) AS rel_bar,
           COUNT(ret_1) AS n_obs,
           ROUND(AVG(ret_1), 6) AS mean_ret,
           ROUND(AVG(ABS(ret_1)), 6) AS mean_abs_ret
    FROM path
    GROUP BY transition, rel_bar
    """,
)
def m16_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean return path per state transition over rel_bar ∈ [-5, +10]:
    sparse event rows explode the relative offsets, then equi-join back
    to the bar table — the scale-safe form of a range self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    prev_v = F.lag("value").over(w)
    bars = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.row_number().over(w).alias("rn"),
        (safe_div(F.col("value"), prev_v) - 1).alias("ret_1"),
        F.lag("event_type").over(w).alias("prev_state"),
    )
    events = bars.filter(
        F.col("prev_state").isNotNull() & (F.col("event_type") != F.col("prev_state"))
    ).select(
        "user_id",
        F.col("rn").alias("event_rn"),
        F.concat_ws(">", "prev_state", "event_type").alias("transition"),
    )
    rel = F.explode(F.sequence(F.lit(_REL_LO), F.lit(_REL_HI))).alias("rel_bar")
    path = (
        events.select("user_id", "event_rn", "transition", rel)
        .withColumn("rn", F.col("event_rn") + F.col("rel_bar"))
        .join(bars.select("user_id", "rn", "ret_1"), ["user_id", "rn"])
    )
    return path.groupBy("transition", F.col("rel_bar").cast("int").alias("rel_bar")).agg(
        F.count("ret_1").alias("n_obs"),
        F.round(F.avg("ret_1"), 6).alias("mean_ret"),
        F.round(F.avg(F.abs("ret_1")), 6).alias("mean_abs_ret"),
    )


# ---------------------------------------------------------------------------
# M21: walk-forward splits as one grouped pass
# (reference validation/walkforward.py:144-400 — driver loop per split)
# ---------------------------------------------------------------------------
_SPLITS = ("2024-01-10", "2024-01-15", "2024-01-20")
_SPLITS_SQL = "(VALUES " + ", ".join(f"(DATE '{d}')" for d in _SPLITS) + ") AS s(split_date)"


@query(
    "m21_walkforward",
    oracle=f"""
    WITH labeled AS (
        SELECT user_id, ts, event_type,
               CASE WHEN ABS(value) > 1e-12
                    THEN (LEAD(value, 5) OVER ({_W})) / value - 1 END AS fwd_ret_5
        FROM events
    ), assigned AS (
        SELECT s.split_date, l.event_type, l.fwd_ret_5,
               CAST(l.ts AS DATE) <= s.split_date AS is_train
        FROM labeled l CROSS JOIN {_SPLITS_SQL}
        WHERE CAST(l.ts AS DATE) <= s.split_date + INTERVAL 7 DAY
    )
    SELECT split_date, event_type,
           CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
           ROUND(AVG(CASE WHEN is_train THEN fwd_ret_5 END), 6) AS train_mean_fwd,
           CAST(SUM(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS test_n,
           ROUND(AVG(CASE WHEN NOT is_train THEN fwd_ret_5 END), 6) AS test_mean_fwd,
           ROUND(AVG(CASE WHEN NOT is_train THEN fwd_ret_5 END)
                 - AVG(CASE WHEN is_train THEN fwd_ret_5 END), 6) AS drift
    FROM assigned
    GROUP BY split_date, event_type
    """,
)
def m21_walkforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split train/test forward-outcome stats and drift for three
    walk-forward cut dates — the reference's sequential split loop as a
    single cross-join + grouped aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    labeled = ev.select(
        "user_id",
        "ts",
        "event_type",
        (safe_div(F.lead("value", 5).over(w), F.col("value")) - 1).alias("fwd_ret_5"),
    )
    splits = spark.createDataFrame(
        [(d,) for d in _SPLITS], schema="split_date string"
    ).select(F.col("split_date").cast("date").alias("split_date"))
    assigned = (
        labeled.crossJoin(F.broadcast(splits))
        .filter(F.col("ts").cast("date") <= F.date_add("split_date", 7))
        .withColumn("is_train", F.col("ts").cast("date") <= F.col("split_date"))
    )
    tr = F.when(F.col("is_train"), F.col("fwd_ret_5"))
    te = F.when(~F.col("is_train"), F.col("fwd_ret_5"))
    return assigned.groupBy("split_date", "event_type").agg(
        F.sum(F.col("is_train").cast("long")).alias("train_n"),
        F.round(F.avg(tr), 6).alias("train_mean_fwd"),
        F.sum((~F.col("is_train")).cast("long")).alias("test_n"),
        F.round(F.avg(te), 6).alias("test_mean_fwd"),
        F.round(F.avg(te) - F.avg(tr), 6).alias("drift"),
    )


# ---------------------------------------------------------------------------
# M18/M19: validation scorecard + cluster-hardening ALLOW/WATCH/BLOCK
# policy (reference validation/scorecards.py:28-286,
# cluster_hardening.py:199-439). The reference computes these driver-side
# on a small per-state table; the per-state table IS a grouped aggregate,
# so the whole policy collapses into one pass of aggregates + arithmetic.
# ---------------------------------------------------------------------------
@query(
    "m18_hardening_policy",
    oracle=f"""
    WITH labeled AS (
        SELECT event_type AS state_id,
               CASE WHEN ABS(value) > 1e-12
                    THEN (LEAD(value, 5) OVER ({_W})) / value - 1 END AS fwd_ret_5
        FROM events
    ), stats AS (
        SELECT state_id,
               COUNT(fwd_ret_5) AS n,
               AVG(fwd_ret_5) AS mean_fwd,
               STDDEV_POP(fwd_ret_5) AS std_fwd,
               -- finite-only hit rate: NULL forward rows stay out of the
               -- denominator (P5 invariant)
               AVG(CASE WHEN fwd_ret_5 > 0 THEN 1.0
                        WHEN fwd_ret_5 IS NOT NULL THEN 0.0 END) AS hit_rate
        FROM labeled GROUP BY state_id
    ), scored AS (
        SELECT *,
               -- CI half-width (normal approx, 1.96 sigma/sqrt n)
               1.96 * std_fwd / SQRT(n) AS ci_half,
               -- components in [0,1]: sample size (log-scaled vs 5000
               -- ref), sign confidence, tightness
               LEAST(LN(1 + n) / LN(1 + 5000), 1.0) AS size_score,
               CASE WHEN ABS(mean_fwd) > 1.96 * std_fwd / SQRT(n)
                    THEN 1.0 ELSE 0.0 END AS sign_score,
               GREATEST(1.0 - (1.96 * std_fwd / SQRT(n)) / 0.01, 0.0) AS ci_score
        FROM stats
    )
    SELECT state_id, n,
           ROUND(mean_fwd, 6) AS mean_fwd,
           ROUND(ci_half, 6) AS ci_half,
           ROUND(hit_rate, 6) AS hit_rate,
           ROUND(100 * (0.4 * size_score + 0.3 * sign_score + 0.3 * ci_score), 4)
               AS tradability_score,
           CASE
             WHEN n < 50 OR 100 * (0.4*size_score + 0.3*sign_score + 0.3*ci_score) < 45
                  THEN 'BLOCK'
             WHEN 100 * (0.4*size_score + 0.3*sign_score + 0.3*ci_score) >= 70
                  THEN 'ALLOW'
             ELSE 'WATCH' END AS policy_class,
           CASE WHEN mean_fwd - ci_half > 0 THEN 'LONG'
                WHEN mean_fwd + ci_half < 0 THEN 'SHORT'
                ELSE 'NONE' END AS direction_hint
    FROM scored
    """,
)
def m18_hardening_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state tradability score (weighted size/sign/CI components) →
    ALLOW/WATCH/BLOCK policy classes + CI-sign direction hints."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    labeled = ev.select(
        F.col("event_type").alias("state_id"),
        (safe_div(F.lead("value", 5).over(w), F.col("value")) - 1).alias("fwd_ret_5"),
    )
    stats = labeled.groupBy("state_id").agg(
        F.count("fwd_ret_5").alias("n"),
        F.avg("fwd_ret_5").alias("mean_fwd"),
        F.stddev_pop("fwd_ret_5").alias("std_fwd"),
        F.avg((F.col("fwd_ret_5") > 0).cast("double")).alias("hit_rate"),
    )
    ci_half = 1.96 * F.col("std_fwd") / F.sqrt(F.col("n"))
    size_score = F.least(F.log1p("n") / F.log1p(F.lit(5000)), F.lit(1.0))
    sign_score = F.when(F.abs("mean_fwd") > ci_half, 1.0).otherwise(0.0)
    ci_score = F.greatest(1.0 - ci_half / 0.01, F.lit(0.0))
    score = 100 * (0.4 * size_score + 0.3 * sign_score + 0.3 * ci_score)
    policy = (
        F.when((F.col("n") < 50) | (score < 45), "BLOCK")
        .when(score >= 70, "ALLOW")
        .otherwise("WATCH")
    )
    direction = (
        F.when(F.col("mean_fwd") - ci_half > 0, "LONG")
        .when(F.col("mean_fwd") + ci_half < 0, "SHORT")
        .otherwise("NONE")
    )
    return stats.select(
        "state_id",
        "n",
        F.round("mean_fwd", 6).alias("mean_fwd"),
        F.round(ci_half, 6).alias("ci_half"),
        F.round("hit_rate", 6).alias("hit_rate"),
        F.round(score, 4).alias("tradability_score"),
        policy.alias("policy_class"),
        direction.alias("direction_hint"),
    )


# ---------------------------------------------------------------------------
# M17 rolling-window transition stability: Frobenius distance of each
# window's transition-probability matrix vs the global matrix
# (reference validation/stability.py:72-118). Scale shape: transitions
# computed once (one window pass), two grouped aggregates (local /
# global) both tiny (#states^2 rows), distance on the joined matrices.
# ---------------------------------------------------------------------------
_M17_EPOCH = "2024-01-01"
_M17_WIN_DAYS = 10


@query(
    "m17_frobenius_stability",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER ({_W}) AS prev_state,
               CAST(FLOOR(DATE_DIFF('day', DATE '{_M17_EPOCH}', CAST(ts AS DATE))
                          / {_M17_WIN_DAYS}) AS INT) AS win
        FROM events
    ), tr AS (
        SELECT win, prev_state AS from_state, event_type AS to_state
        FROM seq WHERE prev_state IS NOT NULL
    ), loc AS (
        SELECT win, from_state, to_state, COUNT(*) AS cnt
        FROM tr GROUP BY 1, 2, 3
    ), locp AS (
        SELECT win, from_state, to_state,
               cnt * 1.0 / SUM(cnt) OVER (PARTITION BY win, from_state) AS p
        FROM loc
    ), gmat AS (
        SELECT from_state, to_state,
               cnt * 1.0 / SUM(cnt) OVER (PARTITION BY from_state) AS p
        FROM (SELECT from_state, to_state, COUNT(*) AS cnt FROM tr GROUP BY 1, 2)
    ), wins AS (
        SELECT win, SUM(cnt) AS n_transitions FROM loc GROUP BY win
    ), paired AS (
        SELECT w.win, w.n_transitions, g.p AS gp, COALESCE(l.p, 0.0) AS lp
        FROM wins w CROSS JOIN gmat g
        LEFT JOIN locp l ON l.win = w.win AND l.from_state = g.from_state
                        AND l.to_state = g.to_state
    )
    SELECT win AS window_id, CAST(n_transitions AS BIGINT) AS n_transitions,
           ROUND(SQRT(SUM((lp - gp) * (lp - gp))), 6) AS frobenius_dist
    FROM paired GROUP BY win, n_transitions
    """,
)
def m17_frobenius_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window transition-matrix drift vs the global matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = series_window()
    win = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit(_M17_EPOCH).cast("date"))
        / _M17_WIN_DAYS
    ).cast("int")
    tr = (
        ev.select(
            win.alias("win"),
            F.lag("event_type").over(w).alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
    )
    # pin the per-window transition counts: loc feeds the local
    # probabilities, the global matrix fold AND the per-window totals —
    # three references, each of which would otherwise re-run the full
    # event scan + lag window. The pinned frame is (win × state × state)
    # rows, tiny by construction.
    loc = pin(
        "m17_loc",
        tr.groupBy("win", "from_state", "to_state").agg(F.count("*").alias("cnt")),
    )
    wf = Window.partitionBy("win", "from_state")
    locp = loc.select(
        "win", "from_state", "to_state", (F.col("cnt") / F.sum("cnt").over(wf)).alias("p")
    )
    # global matrix folded from the per-window counts — re-aggregating
    # the raw transition stream would shuffle the full event table a
    # second time for numbers loc already holds
    gcnt = loc.groupBy("from_state", "to_state").agg(F.sum("cnt").alias("cnt"))
    gw = Window.partitionBy("from_state")
    glob = gcnt.select(
        "from_state", "to_state", (F.col("cnt") / F.sum("cnt").over(gw)).alias("gp")
    )
    wins = loc.groupBy("win").agg(F.sum("cnt").alias("n_transitions"))
    paired = (
        wins.crossJoin(F.broadcast(glob))
        .join(F.broadcast(locp), ["win", "from_state", "to_state"], "left")
        .withColumn("lp", F.coalesce("p", F.lit(0.0)))
    )
    d = F.col("lp") - F.col("gp")
    return paired.groupBy(
        F.col("win").alias("window_id"), "n_transitions"
    ).agg(F.round(F.sqrt(F.sum(d * d)), 6).alias("frobenius_dist"))
