"""Independent references for every output the benchmark checks.

Nothing here calls the engine: edges are re-mined from the raw ``content``
column with Python's ``re``, and the algorithms are numpy / networkx
re-implementations of the semantics pinned by ``tests/oracles.py``:

* PageRank is unnormalized, ``p = (1-d) + d * sum(p(u) / W(u))`` with ``p``
  starting at 1, no dangling-mass redistribution and ``W(u)`` the out-edge
  count (parallel edges and self-loops included);
* a WCC component id is the smallest member id;
* LPA is synchronous over the undirected view (reciprocal and parallel edges
  collapsed to their max weight, self-loops dropped), the winner is the label
  with the largest vote weight, ties to the smallest label, and nodes without
  neighbours keep their label;
* triangle counts and local clustering coefficients are taken on the
  undirected simple graph.
"""

from __future__ import annotations

import re
from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd

_PKG = re.compile(r"\bpkg_(\d+)\b")
_REPO_INDEX = re.compile(r"repo(\d+)$")


def mine_file_graph(repos: pd.DataFrame):
    """repos(repo, path, content) → (n_nodes, src, dst, weight).

    A file links to the defining file (lexicographically first path) of every
    repo whose package it imports, weighted by the number of import lines.
    Node ids enumerate the files in byte order of ``repo + NUL + path``.
    """
    files = sorted(set(zip(repos["repo"], repos["path"])),
                   key=lambda rp: (rp[0] + "\x00" + rp[1]).encode())
    id_of = {rp: i for i, rp in enumerate(files)}
    repo_of_index = {int(_REPO_INDEX.search(r).group(1)): r for r in repos["repo"].unique()}
    defs = repos.groupby("repo")["path"].min().to_dict()
    counts: Counter = Counter()
    for repo, path, content in zip(repos["repo"], repos["path"], repos["content"]):
        src = id_of[(repo, path)]
        for m in _PKG.finditer(content):
            target = repo_of_index.get(int(m.group(1)))
            if target is not None:
                counts[(src, id_of[(target, defs[target])])] += 1
    pairs = np.array(sorted(counts), dtype=np.int64).reshape(-1, 2)
    weight = np.array([counts[tuple(p)] for p in pairs.tolist()], dtype=np.float64)
    return len(files), pairs[:, 0], pairs[:, 1], weight


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, *, iterations: int | None = None,
             tolerance: float | None = None, damping: float = 0.85,
             all_nodes: bool = True):
    """→ (ranks indexed by id, supersteps run). Stops after ``iterations``
    supersteps, or at the first superstep whose max |Δ| over the graph's
    nodes is below ``tolerance``. With ``all_nodes=False`` the graph's nodes
    are only the ids that occur in an edge; the other ids rank 0."""
    present = np.ones(n, dtype=bool)
    if not all_nodes:
        present[:] = False
        present[src] = True
        present[dst] = True
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    share = np.zeros(n)
    p = np.where(present, 1.0, 0.0)
    step = 0
    while True:
        np.divide(p, out_deg, out=share, where=out_deg > 0)
        contrib = np.bincount(dst, weights=share[src], minlength=n)
        new = np.where(present, (1.0 - damping) + damping * contrib, 0.0)
        delta = float(np.abs(new - p).max()) if n else 0.0
        p = new
        step += 1
        if iterations is not None and step >= iterations:
            return p, step
        if tolerance is not None and delta < tolerance:
            return p, step


def tolerance_for(n: int, src: np.ndarray, dst: np.ndarray, supersteps: int, **kw) -> float:
    """A tolerance at which ``pagerank`` converges at exactly ``supersteps``
    (at least 3): the geometric mean of the max |Δ| of that superstep and of
    the one before, so that it sits about half a decade from both."""
    p = [pagerank(n, src, dst, iterations=k, **kw)[0] for k in range(supersteps - 2, supersteps + 1)]
    before, last = np.abs(p[1] - p[0]).max(), np.abs(p[2] - p[1]).max()
    return float(np.sqrt(before * last))


def wcc(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    comp = np.empty(n, dtype=np.int64)
    for members in nx.connected_components(g):
        ids = np.fromiter(members, dtype=np.int64)
        comp[ids] = ids.min()
    return comp


def _undirected_max(src, dst, weight):
    """Both orientations, self-loops dropped, parallel edges → max weight."""
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    w = np.concatenate([weight, weight])
    keep = a != b
    df = pd.DataFrame({"a": a[keep], "b": b[keep], "w": w[keep]})
    df = df.groupby(["a", "b"], sort=False, as_index=False)["w"].max()
    return df["a"].to_numpy(), df["b"].to_numpy(), df["w"].to_numpy()


def lpa(n: int, src, dst, weight, max_iterations: int):
    """→ (labels indexed by id, iterations run)."""
    a, b, w = _undirected_max(src, dst, weight)
    labels = np.arange(n, dtype=np.int64)
    it = 0
    while it < max_iterations:
        it += 1
        votes = pd.DataFrame({"node": b, "label": labels[a], "w": w})
        votes = votes.groupby(["node", "label"], as_index=False)["w"].sum()
        votes = votes.sort_values(["node", "w", "label"], ascending=[True, False, True])
        best = votes.drop_duplicates("node")
        new = labels.copy()
        new[best["node"].to_numpy()] = best["label"].to_numpy()
        changed = bool((new != labels).any())
        labels = new
        if not changed:
            break
    return labels, it


def triangles(n: int, src, dst):
    """→ (per-node triangle counts, local clustering coefficients)."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from((s, d) for s, d in zip(src.tolist(), dst.tolist()) if s != d)
    tri = nx.triangles(g)
    count = np.array([tri[i] for i in range(n)], dtype=np.int64)
    deg = np.array([g.degree(i) for i in range(n)], dtype=np.float64)
    coef = np.where(deg >= 2, 2.0 * count / np.maximum(deg * (deg - 1), 1.0), 0.0)
    return count, coef
