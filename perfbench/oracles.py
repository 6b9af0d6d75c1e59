"""Independent computations the engine's outputs are checked against.

NumPy re-implementations of PageRank, connected components and the cut
metrics. The co-purchase workload also checks against the engine's own
DuckDB twins (``oracle_sql()``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _dense(src: np.ndarray, dst: np.ndarray):
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, iters: int | None = None, tol: float | None = None, d: float = 0.85):
    """Unweighted PageRank with uniform dangling redistribution, the
    engine's update rule. Returns ``(ids, ranks, iterations)``."""
    ids, s, t = _dense(np.asarray(src), np.asarray(dst))
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(float)
    no_out = outdeg == 0
    share = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    dangling = r[no_out].sum()
    it = 0
    while True:
        it += 1
        new = (1 - d) / n + d * (np.bincount(t, weights=share * r[s], minlength=n) + dangling / n)
        delta = np.abs(new - r).max()
        r, dangling = new, new[no_out].sum()
        if (tol is not None and delta < tol) or (iters is not None and it >= iters) or it >= 100:
            return ids, r, it


def components(src, dst) -> pd.Series:
    """Component of each vertex = its smallest vertex id."""
    ids, u, v = _dense(np.asarray(src), np.asarray(dst))
    lab = np.arange(len(ids))
    while True:
        old = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            return pd.Series(ids[lab], index=ids)


def cut_and_waste(src, dst, assign: pd.Series, k: int) -> tuple[float, float]:
    """Edge-cut ratio over edges with both endpoints assigned, and the
    reference's waste score (balance over all assigned rows, all k parts)."""
    ps = assign.reindex(src).to_numpy(dtype=float)
    pd_ = assign.reindex(dst).to_numpy(dtype=float)
    both = ~(np.isnan(ps) | np.isnan(pd_))
    cut = float((ps[both] != pd_[both]).mean())
    parts = assign.to_numpy()
    bal = np.bincount(parts[parts >= 0], minlength=k)[:k] / len(parts)
    return cut, float((bal.max() - bal).sum())


def collect(df, *cols) -> pd.DataFrame:
    """A Spark frame's rows as pandas, sorted by the given columns."""
    return df.toPandas().sort_values(list(cols)).reset_index(drop=True)
