"""Output checks: each returns True when the program's result is right.

The crawl graphs are small enough for the numpy oracles in
``functions/oracle_numpy``. The synth graph is not (``np.add.at`` and
``np.unique`` over tens of millions of edges take minutes), so synth is
checked with exact invariants and a bincount transcription of the
PageRank recurrence.
"""

from __future__ import annotations

import numpy as np

from geminigraph_spark.functions import oracle_numpy as oracle

PR_TOL = 1e-6


def dense(pdf, value: str, n: int, dtype) -> np.ndarray:
    """(id, value) rows from a DataFrame result -> value array by id;
    a vertex missing from the result makes the check fail."""
    ids = pdf["id"].to_numpy()
    if len(ids) != n or len(np.unique(ids)) != n or ids.min() != 0 or ids.max() != n - 1:
        raise ValueError(f"result covers {len(ids)} rows, expected ids 0..{n - 1}")
    out = np.empty(n, dtype=dtype)
    out[ids] = pdf[value].to_numpy()
    return out


def pagerank_matches(got: np.ndarray, src, dst, n: int, iters: int) -> bool:
    want = oracle.pagerank_ref(src, dst, n, iters=iters)
    return got.shape == want.shape and np.allclose(got, want, rtol=PR_TOL, atol=PR_TOL)


def cc_matches(got: np.ndarray, src, dst, n: int) -> bool:
    return np.array_equal(got.astype(np.int64), oracle.cc_ref(src, dst, n))


def lp_matches(got: np.ndarray, src, dst, n: int, iters: int) -> bool:
    return np.array_equal(got.astype(np.int64), oracle.lp_ref(src, dst, n, iters=iters))


def tc_matches(got: int, src, dst, n: int) -> bool:
    return int(got) == oracle.tc_ref(src, dst, n)[0]


# ------------------------------------------------------------- synth graph
def pagerank_bincount(src, dst, n: int, iters: int, d: float = 0.85) -> np.ndarray:
    """``oracle_numpy.pagerank_ref`` with ``np.bincount`` for the scatter:
    the same recurrence (pre-divided state, undivided last iteration,
    dangling mass dropped), fast enough for tens of millions of edges."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    nz = outdeg > 0
    curr = np.ones(n, dtype=np.float64)
    curr[nz] /= outdeg[nz]
    for i in range(iters):
        nxt = (1.0 - d) + d * np.bincount(dst, weights=curr[src], minlength=n)
        if i != iters - 1:
            nxt[nz] /= outdeg[nz]
        curr = nxt
    return curr


def cc_invariants_hold(label: np.ndarray, src, dst) -> bool:
    """Connected-component labels: both ends of every edge share a label,
    and every label is the minimum id of its class (each vertex's label
    is at most its own id, and a label's own vertex carries it)."""
    label = label.astype(np.int64)
    ids = np.arange(len(label), dtype=np.int64)
    return bool(
        np.array_equal(label[src], label[dst])
        and (label <= ids).all()
        and np.array_equal(label[label], label)
    )


def lp_step_holds(prev: np.ndarray, got: np.ndarray, src, dst) -> bool:
    """One synchronous label-propagation step over the (already
    symmetrized) edges: each vertex takes the most frequent label among
    its in-neighbours, smallest label on ties, and keeps its own label
    without in-edges. ``got`` must equal that step applied to ``prev``."""
    n = len(prev)
    lab = prev.astype(np.int64)
    key = dst.astype(np.int64) * (n + 1) + lab[src]
    key.sort()
    bounds = np.flatnonzero(np.diff(key)) + 1
    starts = np.concatenate(([0], bounds))
    cnt = np.diff(np.concatenate((starts, [len(key)])))
    uk = key[starts]
    kd, kl = uk // (n + 1), uk % (n + 1)
    # keys sort by (dst, label): order by (dst, -count, label) is stable
    order = np.lexsort((kl, -cnt, kd))
    kd, kl = kd[order], kl[order]
    first = np.ones(len(kd), dtype=bool)
    first[1:] = kd[1:] != kd[:-1]
    want = lab.copy()
    want[kd[first]] = kl[first]
    return np.array_equal(got.astype(np.int64), want)


def same(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and np.array_equal(a, b)
