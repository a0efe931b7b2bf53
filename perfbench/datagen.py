"""Seeded inputs, written as parquet without Spark.

The generators belong to the benchmark, so a change to the engine never
changes what it is measured on. They follow the shapes of the engine's own
synthetic fixtures (``linkgraph.mining.synthesize_repos`` and
``linkgraph.bench_graph.generate_powerlaw_edges``): a source-code table whose
import lines point at packages with zipf-like popularity, and a digraph with
uniform sources and log-uniform destinations, P(dst = k) ∝ 1/(k+1). Each
table is split into one file per core, as a Spark write would leave it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

FILES_PER_TABLE = 4
_LANGS = ("python", "java", "js")
_EXT = {"python": "py", "java": "java", "js": "js"}


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), FILES_PER_TABLE)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)


def _import_line(lang: str, pkg: str, alt: bool) -> str:
    if lang == "python":
        return f"import {pkg}" if alt else f"from {pkg} import core"
    if lang == "java":
        return f"import {pkg}.Core;"
    return f'require("{pkg}")' if alt else f'import core from "{pkg}"'


def write_repos(path: str, seed: int, n_repos: int, files_per_repo: int) -> None:
    """repos(repo, path, commit, lang, content, content_sha): every file
    imports 1–4 packages ``pkg_<repo index>`` of other repos."""
    rng = np.random.RandomState(seed)
    n_files = n_repos * files_per_repo
    popularity = 1.0 / np.arange(1, n_repos + 1)
    k = rng.randint(1, 5, size=n_files)
    targets = rng.choice(n_repos, size=int(k.sum()), p=popularity / popularity.sum())
    ends = np.cumsum(k)
    rows = []
    for i in range(n_files):
        r, f = divmod(i, files_per_repo)
        lang = _LANGS[f % 3]
        repo = f"org{r % 7}/repo{r}"
        file_path = f"src/m{f}/f{f}.{_EXT[lang]}"
        lines = [("# " if lang == "python" else "// ") + f"file {r}/{f}"]
        for t in targets[ends[i] - k[i]:ends[i]]:
            if t != r:
                lines.append(_import_line(lang, f"pkg_{t}", (f + t) % 2 == 1))
        lines.append(f"body_{r}_{f} " + "x " * (f % 13 + 1))
        content = "\n".join(lines)
        commit = hashlib.sha256(f"{repo}:{file_path}".encode()).hexdigest()[:40]
        rows.append((repo, file_path, commit, lang, content,
                     hashlib.sha256(content.encode()).hexdigest()))
    _write(pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content",
                                       "content_sha"]), path)


def write_powerlaw_edges(path: str, seed: int, n_nodes: int, avg_degree: int) -> None:
    """edges(src, dst, weight = 1.0), n_nodes × avg_degree rows; parallel
    edges and self-loops are kept."""
    rng = np.random.RandomState(seed)
    n_edges = n_nodes * avg_degree
    src = rng.randint(0, n_nodes, size=n_edges).astype(np.int64)
    dst = (np.exp(rng.random_sample(n_edges) * np.log(n_nodes + 1.0)) - 1.0).astype(np.int64)
    np.clip(dst, 0, n_nodes - 1, out=dst)
    _write(pd.DataFrame({"src": src, "dst": dst, "weight": np.ones(n_edges)}), path)
