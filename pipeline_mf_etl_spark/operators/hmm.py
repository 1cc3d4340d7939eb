"""Gaussian HMM: driver-side EM fit and a distributed decode over one
batched kernel (SURVEY.md §2.8 M9-M11).

The reference fits hmmlearn's GaussianHMM on a stacked matrix of
per-ticker sequences (research_hmm/hmm_model.py:29-98) and decodes each
ticker with the fitted model (research_hmm/decode.py:57-157). hmmlearn
is not available here, so the core is a small, deterministic pure-NumPy
implementation (diagonal covariance, log space, seeded quantile init,
no RNG in the loop).

Kernel. Series are padded into a ``[series, time, state]`` block and
every step of a recursion runs over all series of the block at once;
time is the only Python loop. It has three parts: ``_log_b`` (emission
log-probabilities), ``_forward_backward`` (log α, log β and the
log-likelihood of each series) and ``_viterbi``. The EM fit and the
decode both go through them; there is no per-series recursion.

Padding and mask invariant. A block holds its series longest first, so
the series still running at step ``t`` are a prefix of the block
(``_live``) and each recursion step reads and writes only that prefix.
Past a series' end its emission log-probabilities and log α are -inf
and its log β is 0, so its state posteriors, transition posteriors and
(zero-padded) features contribute exactly 0 to every EM statistic, and
its Viterbi path and posteriors are cut at its length. Per series, each
value is the same sequence of float operations as a one-series
recursion, so a series decodes identically whichever series share its
block.

Chunking. ``_blocks`` pads series in length order and starts a new
block when the next one would exceed ``_BLOCK_CELLS`` padded bars
(series × the block's longest length), so one long series pads only the
block it heads, never a whole partition.

Scale shape (same as the reference's design, SURVEY.md §7.4): the model
is tiny (K states × D features); FIT runs on a driver-collected, capped
sample of sequences (the reference caps everything the same way);
DECODE runs per partition in a ``series_island`` (operators/windows.py)
with the parameters in the closure.

Sequence contract (research_hmm/sequence_builder.py:25-108): one series
per key, time-ordered, sequences shorter than ``min_len`` dropped,
Σ lengths == decoded rows.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from pipeline_mf_etl_spark.operators.windows import series_island

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
    Yields ``(idx, x, lengths)``: the input positions of the block's
    series, the zero-padded ``[n, T, D]`` block and the series lengths."""
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
        yield idx, x, lens


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

    def _viterbi(self, logb: np.ndarray, lengths: np.ndarray) -> np.ndarray:
        n, t_len, k = logb.shape
        live = _live(lengths, t_len)
        delta = self.log_pi + logb[:, 0]
        back = np.zeros((n, t_len, k), dtype="int32")
        for t in range(1, t_len):
            m = live[t]
            cand = delta[:m, :, None] + self.log_a
            back[:m, t] = cand.argmax(axis=1)
            delta[:m] = cand.max(axis=1) + logb[:m, t]
        path = np.zeros((n, t_len), dtype="int32")
        path[np.arange(n), lengths - 1] = delta.argmax(axis=1)
        for t in range(t_len - 2, -1, -1):
            m = live[t + 1]
            path[:m, t] = back[np.arange(m), t + 1, path[:m, t + 1]]
        return path

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

        blocks = [(x, lens) for _, x, lens in _blocks(sequences)]
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

    # -- decode ------------------------------------------------------------
    def decode(self, sequences: list[np.ndarray]) -> tuple[list[np.ndarray], list[np.ndarray]]:
        """Viterbi path ``[T_i]`` and state posteriors ``[T_i, K]`` of
        each non-empty series, in input order."""
        paths: list = [None] * len(sequences)
        posts: list = [None] * len(sequences)
        for idx, x, lens in _blocks(sequences):
            logb = self._log_b(x, lens)
            la, lb, ll = self._forward_backward(logb, lens)
            post = np.exp(la + lb - ll[:, None, None])
            path = self._viterbi(logb, lens)
            for j, i in enumerate(idx):
                paths[i], posts[i] = path[j, : lens[j]], post[j, : lens[j]]
        return paths, posts

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
    StructField("hmm_state", IntegerType(), False),
    StructField("state_prob_max", DoubleType(), False),
    StructField("state_entropy", DoubleType(), False),
]


def decode_distributed(
    bars: DataFrame,
    params: dict,
    feature_cols: list[str],
    min_len: int = 20,
) -> DataFrame:
    """Viterbi + posterior decode of every series with the model's
    parameters in the closure: one ``series_island`` pass, each partition's
    series decoded in length-ordered kernel blocks (reference
    research_hmm/decode.py:57-157, distributed). Rows with a non-finite
    feature are dropped before series lengths are counted; every
    decoded row keeps all columns of ``bars``, then ``DECODE_FIELDS``."""

    def run(pdf):
        # one series per run of user_id, rows in series order
        x = pdf[feature_cols].to_numpy(dtype="float64")
        rows = np.flatnonzero(np.isfinite(x).all(axis=1))
        uid = pdf["user_id"].to_numpy()[rows]
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        lengths = np.diff(np.r_[starts, len(uid)])
        keep = lengths >= min_len
        rows, lengths = rows[np.repeat(keep, lengths)], lengths[keep]
        if not len(rows):
            return None  # sequence_builder drops short sequences
        seqs = np.split(x[rows], np.cumsum(lengths)[:-1])
        paths, posts = DiagGaussianHMM.from_params(params).decode(seqs)
        post = np.concatenate(posts)
        # log only where post > eps — np.where alone still evaluates
        # log(0) on the masked-out entries and spews RuntimeWarnings
        plogp = np.zeros_like(post)
        nz = post > 1e-12
        plogp[nz] = post[nz] * np.log(post[nz])
        return pdf.take(rows).assign(
            hmm_state=np.concatenate(paths),
            state_prob_max=post.max(axis=1),
            state_entropy=-plogp.sum(axis=1),
        )

    return series_island(bars, run, StructType(bars.schema.fields + DECODE_FIELDS))
