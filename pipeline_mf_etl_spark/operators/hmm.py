"""Gaussian HMM: a driver-side EM fit over one batched NumPy kernel and
an in-plan decode (SURVEY.md §2.8 M9-M11).

The reference fits hmmlearn's GaussianHMM on a stacked matrix of
per-ticker sequences (research_hmm/hmm_model.py:29-98) and decodes each
ticker with the fitted model (research_hmm/decode.py:57-157). hmmlearn
is not available here, so the core is a small, deterministic pure-NumPy
implementation (diagonal covariance, log space, seeded quantile init,
no RNG in the loop).

Kernel. Series are padded into a ``[series, time, state]`` block and
every step of a recursion runs over all series of the block at once;
time is the only Python loop. It has two parts: ``_log_b`` (emission
log-probabilities) and ``_forward_backward`` (log α, log β and the
log-likelihood of each series). The EM fit goes through them; there is
no per-series recursion.

Padding and mask invariant. A block holds its series longest first, so
the series still running at step ``t`` are a prefix of the block
(``_live``) and each recursion step reads and writes only that prefix.
Past a series' end its emission log-probabilities and log α are -inf
and its log β is 0, so its state posteriors, transition posteriors and
(zero-padded) features contribute exactly 0 to every EM statistic.
Per series, each value is the same sequence of float operations as a
one-series recursion, whichever series share its block.

Chunking. ``_blocks`` pads series in length order and starts a new
block when the next one would exceed ``_BLOCK_CELLS`` padded bars
(series × the block's longest length), so one long series pads only the
block it heads, never the whole sample.

Scale shape (same as the reference's design, SURVEY.md §7.4): the model
is tiny (K states × D features); FIT runs on a driver-collected, capped
sample of sequences (the reference caps everything the same way);
DECODE is one ``series_fold`` (operators/windows.py) with the parameters
inlined as literals: parallel across series, sequential within one,
memory bounded by the longest series, and no Python worker.

Sequence contract (research_hmm/sequence_builder.py:25-108): one series
per key in series order, rows with a non-finite feature dropped,
sequences shorter than ``min_len`` dropped, Σ lengths == decoded rows.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField

from pipeline_mf_etl_spark.operators.windows import FOLD_ROWS, SERIES_KEY, series_fold

_LOG2PI = float(np.log(2.0 * np.pi))
# Padded bars per kernel block. A block holds a few float arrays of K
# values per padded bar (K*K for the fit's transition posteriors), so
# this bounds its memory whatever the series lengths.
_BLOCK_CELLS = 1 << 16


def _lse(a: np.ndarray, axis: int) -> np.ndarray:
    m = a.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True))).squeeze(axis)


def _live(lengths: np.ndarray, t_len: int) -> np.ndarray:
    """Series of a longest-first block still running at each step."""
    return (lengths[:, None] > np.arange(t_len)).sum(0)


def _blocks(sequences: list[np.ndarray]):
    """Pad non-empty ``[T_i, D]`` series into longest-first blocks.
    Yields ``(x, lengths)``: the zero-padded ``[n, T, D]`` block and the
    lengths of its series."""
    lengths = np.array([len(s) for s in sequences], dtype=np.int64)
    order = np.argsort(-lengths, kind="stable")
    i = 0
    while i < len(order):
        idx = order[i : i + max(1, _BLOCK_CELLS // int(lengths[order[i]]))]
        i += len(idx)
        lens = lengths[idx]
        x = np.zeros((len(idx), lens[0], sequences[idx[0]].shape[1]))
        for j, s in enumerate(idx):
            x[j, : lens[j]] = sequences[s]
        yield x, lens


class DiagGaussianHMM:
    """Diagonal-covariance Gaussian HMM with deterministic init."""

    def __init__(self, n_states: int = 3, n_iter: int = 50, tol: float = 1e-4):
        self.k = n_states
        self.n_iter = n_iter
        self.tol = tol
        self.log_pi: np.ndarray | None = None
        self.log_a: np.ndarray | None = None
        self.means: np.ndarray | None = None
        self.vars: np.ndarray | None = None
        self.loglik_path: list[float] = []

    # -- kernel: [series, time, state] blocks ------------------------------
    def _log_b(self, x: np.ndarray, lengths: np.ndarray) -> np.ndarray:
        diff = x[:, :, None, :] - self.means
        logb = -0.5 * (
            (diff * diff / self.vars).sum(-1)
            + np.log(self.vars).sum(-1)
            + x.shape[-1] * _LOG2PI
        )
        logb[np.arange(x.shape[1]) >= lengths[:, None]] = -np.inf
        return logb

    def _forward_backward(self, logb: np.ndarray, lengths: np.ndarray):
        n, t_len, k = logb.shape
        live = _live(lengths, t_len)
        la = np.full((n, t_len, k), -np.inf)
        la[:, 0] = self.log_pi + logb[:, 0]
        for t in range(1, t_len):
            m = live[t]
            la[:m, t] = logb[:m, t] + _lse(la[:m, t - 1, :, None] + self.log_a, axis=1)
        lb = np.zeros((n, t_len, k))
        for t in range(t_len - 2, -1, -1):
            m = live[t + 1]
            lb[:m, t] = _lse(self.log_a + (logb[:m, t + 1] + lb[:m, t + 1])[:, None, :], axis=2)
        ll = _lse(la[np.arange(n), lengths - 1], axis=1)
        return la, lb, ll

    # -- EM ---------------------------------------------------------------
    def fit(self, sequences: list[np.ndarray], min_len: int = 1) -> "DiagGaussianHMM":
        """Baum-Welch on the series of at least ``min_len`` bars."""
        sampled = len(sequences)
        sequences = [s for s in sequences if len(s) >= max(min_len, 1)]
        if not sequences:
            raise ValueError(
                f"HMM fit: no series reached min_len={min_len} bars "
                f"({sampled} series sampled)"
            )
        x_all = np.concatenate(sequences, axis=0)
        d = x_all.shape[1]
        # deterministic quantile init: state j anchored at the
        # (j+1)/(k+1) quantile of the first feature, global spread.
        order = np.argsort(x_all[:, 0], kind="mergesort")
        anchors = [
            x_all[order[int(len(order) * (j + 1) / (self.k + 1))]] for j in range(self.k)
        ]
        self.means = np.array(anchors, dtype="float64")
        gvar = x_all.var(axis=0) + 1e-6
        self.vars = np.tile(gvar, (self.k, 1))
        self.log_pi = np.full(self.k, -np.log(self.k))
        a0 = np.full((self.k, self.k), 0.1 / max(self.k - 1, 1))
        np.fill_diagonal(a0, 0.9)
        self.log_a = np.log(a0)

        blocks = list(_blocks(sequences))
        prev_ll = -np.inf
        for _ in range(self.n_iter):
            ll_total = 0.0
            pi_acc = np.zeros(self.k)
            a_acc = np.zeros((self.k, self.k))
            g_acc = np.zeros(self.k)
            mean_acc = np.zeros((self.k, d))
            sq_acc = np.zeros((self.k, d))
            for x, lens in blocks:
                logb = self._log_b(x, lens)
                la, lb, ll = self._forward_backward(logb, lens)
                g = np.exp(la + lb - ll[:, None, None])
                # pairwise transition posteriors; 0 wherever t+1 is padding
                xi = np.exp(
                    la[:, :-1, :, None] + self.log_a
                    + (logb[:, 1:] + lb[:, 1:])[:, :, None, :] - ll[:, None, None, None]
                )
                ll_total += float(ll.sum())
                pi_acc += g[:, 0].sum(0)
                a_acc += xi.sum((0, 1))
                g_acc += g.sum((0, 1))
                mean_acc += np.einsum("ntk,ntd->kd", g, x)
                sq_acc += np.einsum("ntk,ntd->kd", g, x * x)
            self.loglik_path.append(ll_total)
            # M-step
            self.log_pi = np.log(pi_acc / pi_acc.sum() + 1e-300)
            self.log_a = np.log(a_acc / a_acc.sum(1, keepdims=True) + 1e-300)
            self.means = mean_acc / g_acc[:, None]
            self.vars = np.maximum(sq_acc / g_acc[:, None] - self.means**2, 1e-6)
            if abs(ll_total - prev_ll) < self.tol:
                break
            prev_ll = ll_total
        return self

    def to_params(self) -> dict:
        return {
            "log_pi": self.log_pi.tolist(),
            "log_a": self.log_a.tolist(),
            "means": self.means.tolist(),
            "vars": self.vars.tolist(),
            "k": self.k,
        }

    @classmethod
    def from_params(cls, p: dict) -> "DiagGaussianHMM":
        m = cls(n_states=p["k"])
        m.log_pi = np.array(p["log_pi"])
        m.log_a = np.array(p["log_a"])
        m.means = np.array(p["means"])
        m.vars = np.array(p["vars"])
        return m


DECODE_FIELDS = [
    StructField("hmm_state", IntegerType()),
    StructField("state_prob_max", DoubleType()),
    StructField("state_entropy", DoubleType()),
]


def _num(v: float) -> str:
    """A SQL double literal that parses back to ``v`` bit for bit."""
    return f"({float(v)!r}D)"


def _arr(items) -> str:
    return f"array({', '.join(items)})"


def _let(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value``, evaluated once.
    Higher-order functions run interpreted, and an interpreted expression
    evaluates a subexpression once per use; a lambda variable binds it."""
    return f"transform(array({value}), {var} -> {body})[0]"


def _lse_sql(terms: list[str]) -> str:
    """log Σ exp(terms), shifted by their max as NumPy's ``_lse`` is."""
    exps = " + ".join(f"exp(({x}) - lse_m)" for x in terms)
    return _let(f"greatest({', '.join(terms)})", "lse_m", f"lse_m + ln({exps})")


def _argmax_sql(terms: list[str]) -> str:
    """First index of the largest term, as ``np.argmax``."""
    return _let(_arr(terms), "am", "CAST(array_position(am, array_max(am)) - 1 AS INT)")


def decode_distributed(
    bars: DataFrame,
    params: dict,
    feature_cols: list[str],
    min_len: int = 20,
) -> DataFrame:
    """Viterbi path and state posteriors of every series of ``bars``
    under the model ``params`` (reference research_hmm/decode.py:57-157),
    as one ``series_fold``: no Python worker, the parameters inlined as
    double literals. Rows with a non-finite (NULL, NaN, ±inf) feature are
    dropped before series lengths are counted, and series shorter than
    ``min_len`` bars are dropped. Every decoded row keeps the columns of
    ``bars``, then ``DECODE_FIELDS``.

    Exactness. Each row's K emission log-probabilities are one
    projection, built in ``_log_b``'s float-op order (the D-term sum left
    to right, as NumPy sums fewer than 8 terms). The Viterbi recursion
    then takes only ``+``, max and first-index argmax, so the path is
    bit-identical to the NumPy recursion's. Log α and log β take the
    NumPy recursion's float ops in its order, but ``exp``/``log`` are
    StrictMath here, so a posterior can differ in its last bits.

    The fold over a series' rows: a forward ``aggregate`` appends each
    row's log α and Viterbi δ to two flat arrays (K values per row); its
    finish runs a backward ``aggregate`` over the row indices, last to
    first, that prepends log β and the path, each step taking the
    back-pointer of the state it came from (the argmax over the previous
    δ, as the forward pass would have stored it); its finish maps each
    row to its state, max posterior and entropy. ``aggregate`` copies its
    accumulator every step, so the histories are flat arrays of numbers;
    appending keeps a fold O(L²) per series. The fold is SQL text, so the
    driver builds it in one call instead of one per expression node.
    """
    m = DiagGaussianHMM.from_params(params)
    k = m.k
    states = range(k)
    log_var = np.log(m.vars).sum(-1)
    norm = len(feature_cols) * _LOG2PI

    # -- per row: finite features, emission log-probabilities ----------
    x = [F.col(c).cast("double") for c in feature_cols]
    finite = [v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf")) for v in x]

    def log_b(j: int) -> Column:
        dist = None
        for d, v in enumerate(x):
            diff = v - float(m.means[j, d])
            term = diff * diff / float(m.vars[j, d])
            dist = term if dist is None else dist + term
        return F.lit(-0.5) * (dist + float(log_var[j]) + norm)

    rows_in = bars.filter(reduce(operator.and_, finite)).withColumn(
        "__log_b", F.array(*[log_b(j) for j in states])
    )

    # -- per series: the fold, as SQL over the series' rows --------------
    rows, n = FOLD_ROWS, f"size({FOLD_ROWS})"
    log_a = [[_num(v) for v in row] for row in m.log_a]
    log_a_lit = _arr(_arr(row) for row in log_a)  # indexed by a path state

    first = _arr(f"{_num(m.log_pi[j])} + {rows}[0].__log_b[{j}]" for j in states)
    alpha = [
        f"r.__log_b[{j}] + "
        + _lse_sql([f"element_at(acc.alpha, {i - k}) + {log_a[i][j]}" for i in states])
        for j in states
    ]
    delta = [
        "greatest("
        + ", ".join(f"element_at(acc.delta, {i - k}) + {log_a[i][j]}" for i in states)
        + f") + r.__log_b[{j}]"
        for j in states
    ]
    forward = f"""(acc, r) -> named_struct(
        'alpha', concat(acc.alpha, {_arr(alpha)}),
        'delta', concat(acc.delta, {_arr(delta)}))"""

    # emission + log β of the row after t
    after = _arr(f"{rows}[t + 1].__log_b[{j}] + acc.beta[{j}]" for j in states)
    beta = _let(
        after, "g", _arr(_lse_sql([f"{log_a[i][j]} + g[{j}]" for j in states]) for i in states)
    )
    came_from = [f"fw.delta[t * {k} + {i}] + {log_a_lit}[{i}][acc.path[0]]" for i in states]
    step = f"""(acc, t) -> named_struct(
        'll', acc.ll,
        'beta', concat({beta}, acc.beta),
        'path', concat(array({_argmax_sql(came_from)}), acc.path))"""
    end = f"""named_struct(
        'll', {_lse_sql([f"element_at(fw.alpha, {i - k})" for i in states])},
        'beta', {_arr(["0D"] * k)},
        'path', array({_argmax_sql([f"element_at(fw.delta, {i - k})" for i in states])}))"""

    post = _arr(f"exp(fw.alpha[t * {k} + {j}] + acc.beta[t * {k} + {j}] - acc.ll)" for j in states)
    keep = ", ".join(f"'{c}', r.`{c}`" for c in bars.columns if c != SERIES_KEY)
    decoded_row = f"""named_struct({keep},
        'hmm_state', acc.path[t],
        'state_prob_max', array_max(p),
        'state_entropy', -aggregate(p, 0D, (h, q) -> h + IF(q > 1e-12D, q * ln(q), 0D)))"""
    label = f"acc -> transform({rows}, (r, t) -> {_let(post, 'p', decoded_row)})"

    backward = f"""fw -> aggregate(
        slice(sequence({n} - 1, 0, -1), 2, {n} - 1), {end}, {step}, {label})"""
    decode = f"""IF({n} >= {max(min_len, 1)},
        aggregate(slice({rows}, 2, {n} - 1),
                  named_struct('alpha', {first}, 'delta', {first}),
                  {forward},
                  {backward}),
        NULL)"""
    return series_fold(
        rows_in, lambda _: F.expr(decode), [*bars.columns, *(f.name for f in DECODE_FIELDS)]
    )
