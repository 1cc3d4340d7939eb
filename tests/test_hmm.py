"""HMM core invariants (SURVEY.md §5): EM log-likelihood monotonicity,
posterior normalization, sequence alignment, determinism, the batched
fit kernel and the in-plan decode fold pinned against a per-series
reference recursion."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators import hmm
from pipeline_mf_etl_spark.operators.hmm import DiagGaussianHMM, decode_distributed


@pytest.fixture(scope="module")
def toy():
    rng = np.random.default_rng(42)
    seqs = []
    for _ in range(12):
        n = 80
        states = [0]
        for _ in range(n - 1):
            states.append(states[-1] if rng.random() < 0.9 else rng.integers(0, 3))
        mu = np.array([[-1.0, 0.5], [0.0, 1.0], [1.5, 2.0]])
        x = mu[states] + rng.normal(0, 0.3, (n, 2))
        seqs.append(x)
    return seqs


@pytest.fixture(scope="module")
def ragged():
    """Series of 1, 2, 20 and 150 bars, mixed, from a 3-state chain."""
    rng = np.random.default_rng(7)
    mu = np.array([[-1.0, 0.5], [0.0, 1.0], [1.5, 2.0]])
    seqs = []
    for n in [20, 1, 150, 2, 20, 150, 1, 2, 20, 150, 2, 1]:
        s = [int(rng.integers(0, 3))]
        for _ in range(n - 1):
            s.append(s[-1] if rng.random() < 0.9 else int(rng.integers(0, 3)))
        seqs.append(mu[s] + rng.normal(0, 0.4, (n, 2)))
    return seqs


_BARS = "user_id long, event_id long, ts long, value double, f0 double, f1 double"


def _series_rows(seqs):
    """``_BARS`` rows of one user per ``[T, 2]`` series, in time order."""
    rows = []
    for u, x in enumerate(seqs):
        rows += [(u, 1000 * u + t, t, 0.0, *x[t].tolist()) for t in range(len(x))]
    return rows


# -- per-series reference: one recursion per series, one step at a time --
def _ref_lse(a, axis):
    m = a.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True))).squeeze(axis)


def _ref_log_b(m, x):
    diff = x[:, None, :] - m.means[None, :, :]
    return -0.5 * (
        (diff * diff / m.vars[None, :, :]).sum(-1)
        + np.log(m.vars).sum(-1)[None, :]
        + x.shape[1] * hmm._LOG2PI
    )


def _ref_forward(m, logb):
    la = np.empty((len(logb), m.k))
    la[0] = m.log_pi + logb[0]
    for t in range(1, len(logb)):
        la[t] = logb[t] + _ref_lse(la[t - 1][:, None] + m.log_a, axis=0)
    return la


def _ref_backward(m, logb):
    lb = np.zeros((len(logb), m.k))
    for t in range(len(logb) - 2, -1, -1):
        lb[t] = _ref_lse(m.log_a + (logb[t + 1] + lb[t + 1])[None, :], axis=1)
    return lb


def _ref_posteriors(m, x):
    logb = _ref_log_b(m, x)
    la, lb = _ref_forward(m, logb), _ref_backward(m, logb)
    return np.exp(la + lb - _ref_lse(la[-1], axis=0))


def _ref_viterbi(m, x):
    logb = _ref_log_b(m, x)
    delta = m.log_pi + logb[0]
    back = np.zeros((len(x), m.k), dtype="int32")
    for t in range(1, len(x)):
        cand = delta[:, None] + m.log_a
        back[t] = cand.argmax(axis=0)
        delta = cand.max(axis=0) + logb[t]
    path = np.empty(len(x), dtype="int32")
    path[-1] = int(delta.argmax())
    for t in range(len(x) - 2, -1, -1):
        path[t] = back[t + 1][path[t + 1]]
    return path


def _ref_fit(seqs, n_iter):
    """Baum-Welch with the per-series E-step; init and M-step as the model's."""
    m = DiagGaussianHMM(n_states=3, n_iter=n_iter)
    x_all = np.concatenate(seqs)
    order = np.argsort(x_all[:, 0], kind="mergesort")
    m.means = np.array([x_all[order[int(len(order) * (j + 1) / 4)]] for j in range(3)])
    m.vars = np.tile(x_all.var(axis=0) + 1e-6, (3, 1))
    m.log_pi = np.full(3, -np.log(3))
    a0 = np.full((3, 3), 0.05)
    np.fill_diagonal(a0, 0.9)
    m.log_a = np.log(a0)
    prev = -np.inf
    for _ in range(n_iter):
        total, pi, a, g_sum = 0.0, np.zeros(3), np.zeros((3, 3)), np.zeros(3)
        mean, sq = np.zeros((3, 2)), np.zeros((3, 2))
        for x in seqs:
            logb = _ref_log_b(m, x)
            la, lb = _ref_forward(m, logb), _ref_backward(m, logb)
            ll = _ref_lse(la[-1], axis=0)
            total += float(ll)
            g = np.exp(la + lb - ll)
            xi = np.exp(la[:-1, :, None] + m.log_a[None] + (logb[1:] + lb[1:])[:, None, :] - ll)
            pi += g[0]
            a += xi.sum(0)
            g_sum += g.sum(0)
            mean += g.T @ x
            sq += g.T @ (x * x)
        m.loglik_path.append(total)
        m.log_pi = np.log(pi / pi.sum() + 1e-300)
        m.log_a = np.log(a / a.sum(1, keepdims=True) + 1e-300)
        m.means = mean / g_sum[:, None]
        m.vars = np.maximum(sq / g_sum[:, None] - m.means**2, 1e-6)
        if abs(total - prev) < m.tol:
            break
        prev = total
    return m


def test_loglik_monotone(toy):
    m = DiagGaussianHMM(n_states=3, n_iter=25).fit(toy)
    ll = m.loglik_path
    assert len(ll) > 3
    assert all(b >= a - 1e-6 for a, b in zip(ll, ll[1:])), ll


def test_posteriors_normalized_and_aligned(spark, toy):
    """Every bar decodes once, to a state of the model; the largest
    posterior and the entropy are those of a distribution over K
    states."""
    m = DiagGaussianHMM(n_states=3, n_iter=15).fit(toy)
    rows = _series_rows(toy[:3])
    got = decode_distributed(
        spark.createDataFrame(rows, _BARS), m.to_params(), ["f0", "f1"]
    ).toPandas()
    assert sorted(got["event_id"]) == sorted(r[1] for r in rows)
    assert set(got["hmm_state"]) <= {0, 1, 2}
    assert (got["state_prob_max"] >= 1 / 3 - 1e-12).all()
    assert (got["state_prob_max"] <= 1 + 1e-12).all()
    assert (got["state_entropy"] >= -1e-12).all()
    assert (got["state_entropy"] <= np.log(3) + 1e-12).all()


def test_deterministic(toy):
    a = DiagGaussianHMM(n_states=3, n_iter=15).fit(toy)
    b = DiagGaussianHMM(n_states=3, n_iter=15).fit(toy)
    np.testing.assert_array_equal(a.means, b.means)
    np.testing.assert_array_equal(a.loglik_path, b.loglik_path)


def test_recovers_separated_states(toy):
    m = DiagGaussianHMM(n_states=3, n_iter=25).fit(toy)
    # three well-separated means must be recovered in feature 0 ordering
    mu0 = sorted(m.means[:, 0])
    assert mu0[0] < -0.5 and abs(mu0[1]) < 0.5 and mu0[2] > 1.0


@pytest.mark.parametrize("block_cells", [hmm._BLOCK_CELLS, 160])
def test_batched_decode_matches_reference(spark, ragged, monkeypatch, block_cells):
    """Series of 1, 2, 20 and 150 bars through the decode fold, for a
    model fitted with the series in one block and (160 cells) split over
    several: Viterbi paths equal, posteriors within 1e-12 of the
    per-series recursion."""
    monkeypatch.setattr(hmm, "_BLOCK_CELLS", block_cells)
    m = DiagGaussianHMM(n_states=3, n_iter=10).fit(ragged)
    _decode_matches_reference(spark, m, _series_rows(ragged), min_len=1)


@pytest.mark.parametrize("block_cells", [hmm._BLOCK_CELLS, 160])
def test_batched_fit_matches_reference(ragged, monkeypatch, block_cells):
    """Ragged lengths in one block, and (160 cells) split over several
    blocks: the fit equals the per-series E-step's."""
    monkeypatch.setattr(hmm, "_BLOCK_CELLS", block_cells)
    m = DiagGaussianHMM(n_states=3, n_iter=25).fit(ragged)
    ref = _ref_fit(ragged, n_iter=25)
    assert len(m.loglik_path) == len(ref.loglik_path)
    for name in ("means", "vars", "log_a"):
        np.testing.assert_allclose(getattr(m, name), getattr(ref, name), rtol=0, atol=1e-9)
    ll = m.loglik_path
    assert all(b >= a - 1e-6 for a, b in zip(ll, ll[1:])), ll


def test_fit_rejects_empty_sample():
    with pytest.raises(ValueError, match="no series reached min_len=1 bars .0 series sampled"):
        DiagGaussianHMM().fit([])
    short = [np.zeros((5, 2)), np.zeros((19, 2))]
    with pytest.raises(ValueError, match="min_len=20 bars .2 series sampled"):
        DiagGaussianHMM().fit(short, min_len=20)


def _decode_matches_reference(spark, m, rows, min_len):
    """Decode ``rows`` (``_BARS``) shuffled over three partitions into
    two series partitions; every kept row keeps its columns and decodes
    as its user's per-series reference over the user's finite rows in
    series order. Returns the decoded frame."""
    pdf = pd.DataFrame(rows, columns=[f.split()[0] for f in _BARS.split(", ")])
    bars = spark.createDataFrame(rows, _BARS).orderBy(F.rand(0)).repartition(3)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        decoded = decode_distributed(bars, m.to_params(), ["f0", "f1"], min_len=min_len)
        got = decoded.toPandas().set_index("event_id")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [(f.name, f.dataType) for f in decoded.schema] == [
        (f.name, f.dataType) for f in [*bars.schema, *hmm.DECODE_FIELDS]
    ]
    assert got[[f.name for f in hmm.DECODE_FIELDS]].notna().all().all()
    expect_ids = []
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"], na_position="last")
        g = g[np.isfinite(g[["f0", "f1"]].to_numpy()).all(axis=1)]
        if len(g) < min_len:
            assert not got.index.isin(g["event_id"]).any()
            continue
        x = g[["f0", "f1"]].to_numpy()
        post = _ref_posteriors(m, x)
        r = got.loc[g["event_id"]]
        assert (r["user_id"] == uid).all()
        np.testing.assert_array_equal(r["value"], g["value"])
        np.testing.assert_array_equal(r["ts"].isna(), g["ts"].isna())
        np.testing.assert_array_equal(r["hmm_state"], _ref_viterbi(m, x))
        np.testing.assert_allclose(r["state_prob_max"], post.max(axis=1), rtol=0, atol=1e-12)
        plogp = np.where(post > 1e-12, post * np.log(np.maximum(post, 1e-300)), 0.0)
        np.testing.assert_allclose(r["state_entropy"], -plogp.sum(axis=1), rtol=0, atol=1e-12)
        expect_ids += list(g["event_id"])
    assert sorted(got.index) == sorted(expect_ids)
    return got


def test_decode_distributed_matches_per_user_reference(spark, ragged):
    """Several users per partition, users below min_len, NaN features in
    the middle of a series; ±inf and NULL features, a NULL-ts bar, series
    of exactly min_len and min_len - 1 bars, one 2,000-bar series (the
    fold appends per row, O(L²)); and an input whose every series is
    dropped."""
    m = DiagGaussianHMM(n_states=3, n_iter=10).fit(ragged)
    rng = np.random.default_rng(3)
    rows = []
    for uid, n in enumerate([30, 4, 60, 25, 3, 45, 21, 80, 20], start=1):
        x = rng.normal(0, 1, (n, 2))
        if n >= 20 and n != 30:
            x[n // 2, 0] = np.nan  # a gap inside the series: 21 keeps 20 bars, 20 drops
        rows += [(uid, 1000 * uid + t, t, float(t), *x[t].tolist()) for t in range(n)]

    def series(uid, n):
        x = rng.normal(0, 1, (n, 2))
        return [[uid, 1000 * uid + t, t, float(t), *x[t].tolist()] for t in range(n)]

    legs = {10: series(10, 30), 11: series(11, 30), 12: series(12, 26), 13: series(13, 20)}
    legs[10][5][4], legs[10][9][5] = float("inf"), float("-inf")  # ±inf: 28 bars
    legs[11][7][5] = None  # a NULL feature: 29 bars
    legs[12][3][2] = None  # a NULL ts: the bar decodes last of its series
    legs[14] = series(14, 19)  # min_len - 1 bars
    legs[15] = series(15, 2000)
    rows += [tuple(r) for leg in legs.values() for r in leg]
    got = _decode_matches_reference(spark, m, rows, min_len=20)
    assert np.isnan(got.loc[12003, "ts"])  # decoded, as its series' last bar

    short = [r for r in rows if r[0] in (2, 5, 14)]
    assert _decode_matches_reference(spark, m, short, min_len=20).empty
