"""Single-process reference results the benchmark checks the engine against.

Each oracle restates an operator's documented semantics with NumPy (or
``networkx`` for triangles and components) over the same generated input
the engine receives. Results are cached per (workload, size, seed) as
``.npz`` files, so a repeated run only pays for loading them.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

D = 0.85


def pagerank(src: np.ndarray, dst: np.ndarray, eps: float) -> dict:
    """Power method with the engine's semantics: vertices are the distinct
    edge endpoints, R0 = 1/N, dangling mass redistributed uniformly, stop
    at the first iteration whose L2 step is <= eps.

    Returns the vertex ids, the converged ranks and every step's L2 delta.
    """
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, t = inv[: len(src)], inv[len(src):]
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    w = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    deltas = []
    while True:
        base = (1.0 - D) / n + D * r[dangling].sum() / n
        new = base + D * np.bincount(t, weights=r[s] * w, minlength=n)
        deltas.append(float(np.sqrt(((new - r) ** 2).sum())))
        r = new
        if deltas[-1] <= eps or len(deltas) >= 1000:
            return {"ids": ids, "ranks": r, "deltas": np.array(deltas)}


def components(src: np.ndarray, dst: np.ndarray) -> dict:
    """Weakly connected components labelled by their minimum vertex id."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    ids = np.unique(np.concatenate([src, dst]))
    label = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            label[v] = m
    return {"ids": ids, "labels": np.array([label[v] for v in ids.tolist()])}


def _undirected(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Both orientations of every non-loop edge, each pair once."""
    u = np.concatenate([src, dst])
    v = np.concatenate([dst, src])
    keep = u != v
    pairs = np.unique(np.stack([u[keep], v[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def label_propagation(src: np.ndarray, dst: np.ndarray, rounds: int) -> dict:
    """Synchronous label propagation: each vertex with a neighbour takes
    its neighbours' most frequent label, ties to the smallest label."""
    ids = np.unique(np.concatenate([src, dst]))
    u, v = _undirected(src, dst)
    ui, vi = np.searchsorted(ids, u), np.searchsorted(ids, v)
    labels = ids.copy()
    for _ in range(rounds):
        pairs, counts = np.unique(
            np.stack([ui, labels[vi]], axis=1), axis=0, return_counts=True
        )
        # per vertex: highest count first, then the smallest label
        order = np.lexsort((pairs[:, 1], -counts, pairs[:, 0]))
        pv, pl = pairs[order, 0], pairs[order, 1]
        first = np.r_[True, pv[1:] != pv[:-1]]
        new = labels.copy()
        new[pv[first]] = pl[first]
        labels = new
    return {"ids": ids, "labels": labels}


def triangles(src: np.ndarray, dst: np.ndarray) -> dict:
    """Triangles through each vertex of the undirected simple graph."""
    import networkx as nx

    u, v = _undirected(src, dst)
    g = nx.Graph()
    g.add_edges_from(zip(u.tolist(), v.tolist()))
    ids = np.unique(np.concatenate([src, dst]))
    tri = nx.triangles(g)
    return {"ids": ids, "counts": np.array([tri[x] for x in ids.tolist()])}


def cached(path: Path, compute) -> dict:
    """Load ``path`` if present, else compute, store and return. ``compute``
    returns a flat dict of arrays (nested oracle dicts are prefixed)."""
    if path.exists():
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    out = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp.npz")
    np.savez(tmp, **out)
    tmp.replace(path)
    return out


def prefixed(prefix: str, d: dict) -> dict:
    return {f"{prefix}.{k}": v for k, v in d.items()}
