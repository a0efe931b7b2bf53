"""The benchmark's workloads: seeded inputs, one job, and its output check.

Each workload generates its inputs once per (seed, size) into its own data
directory, together with the independent reference results (reference.py),
and reuses them on later runs with the same seed. A job is what a user of
the engine would run end to end; ``check`` compares what the job wrote with
the reference.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import datagen
import reference
from harness import dir_mb

PR_RTOL = PR_ATOL = 1e-6  # the north rule's PageRank contract


def _cached(path: str, build) -> str:
    """Build ``path`` with ``build(tmp_path)`` unless a finished copy exists."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _read(path: str) -> pd.DataFrame:
    return pd.read_parquet(path).sort_values("id").reset_index(drop=True)


def _compute(tr, name: str, fn):
    """``fn()`` in span ``name``. A traced job also materializes the result
    there (persist, count), as ``results.run_write_proc`` does, so that the
    span holds the whole compute and the io.write_table span only the write."""
    with tr.span(name):
        out = fn()
        if tr.enabled:
            out.persist().count()
    return out


def _write(tr, df, path: str) -> None:
    from linkgraph.io import write_table

    with tr.span("io.write_table"):
        write_table(df, path)
    if tr.enabled:
        df.unpersist()


class CodegraphBatch:
    """Mined file-dependency graph, then PageRank, WCC, LPA and triangle
    count, each result written. Mining, the pull block-store build and the
    shuffles of mining and triangles do the work; no checkpoint IO."""

    name = "codegraph_batch"
    N_REPOS, FILES = 250, 40
    PR_ITERATIONS = 20
    LPA_ROUNDS = 10

    def __init__(self, data_root: str, seed: int):
        self.data_root, self.seed = data_root, seed

    def datagen(self) -> None:
        def build(tmp):
            datagen.write_repos(os.path.join(tmp, "repos"), self.seed, self.N_REPOS, self.FILES)
            repos = pd.read_parquet(os.path.join(tmp, "repos"))
            n, src, dst, w = reference.mine_file_graph(repos)
            pr, _ = reference.pagerank(n, src, dst, iterations=self.PR_ITERATIONS)
            labels, lpa_iters = reference.lpa(n, src, dst, w, self.LPA_ROUNDS)
            tri, coef = reference.triangles(n, src, dst)
            np.savez(os.path.join(tmp, "reference.npz"), n=n, src=src, dst=dst,
                     pagerank=pr, wcc=reference.wcc(n, src, dst), lpa=labels,
                     lpa_iterations=lpa_iters, triangles=tri, coefficient=coef,
                     rows=len(repos))

        tag = f"{self.name}-seed{self.seed}-r{self.N_REPOS}x{self.FILES}"
        self.dir = _cached(os.path.join(self.data_root, tag), build)
        self.table = os.path.join(self.dir, "repos")
        self.ref = dict(np.load(os.path.join(self.dir, "reference.npz")))

    def job(self, spark, tr, job_dir) -> dict:
        from linkgraph import Graph
        from linkgraph.algorithms.lpa import label_propagation
        from linkgraph.algorithms.pagerank import PageRank
        from linkgraph.algorithms.triangles import triangle_count
        from linkgraph.algorithms.wcc import wcc
        from linkgraph.mining import file_dependency_graph

        store = os.path.join(job_dir, "pagerank_blocks")
        pr = PageRank(max_iterations=self.PR_ITERATIONS, block_store=store)
        algos = [
            ("pagerank", pr.run),
            ("wcc", wcc),
            ("lpa", lambda g: label_propagation(g, max_iterations=self.LPA_ROUNDS)),
            ("triangles", triangle_count),
        ]
        res = {"times": {}, "iterations": {}}
        t_job = time.perf_counter()
        with tr.span("mining.file_graph"):
            # the four algorithms read the mined graph from the cache
            nodes, edges = file_dependency_graph(spark.read.parquet(self.table))
            nodes, edges = nodes.persist(), edges.persist()
            res["nodes"], res["edges"] = nodes.count(), edges.count()
        res["times"]["mining"] = time.perf_counter() - t_job
        with tr.span("graph.from_edges"):
            g = Graph.from_edges(edges, nodes=nodes.select("id"))
        for name, run in algos:
            t0 = time.perf_counter()
            out = _compute(tr, name, lambda: run(g))
            if name == "pagerank":
                res["pagerank_run_s"] = time.perf_counter() - t0
            res["iterations"][name] = getattr(out, "iterations", None)
            _write(tr, out, os.path.join(job_dir, name))
            res["times"][name] = time.perf_counter() - t0
        res["job_s"] = time.perf_counter() - t_job
        nodes.unpersist()
        edges.unpersist()
        res["pagerank_s"] = res["times"]["pagerank"]
        res["supersteps"] = pr.metrics.iterations
        res["store"] = store
        res["n_ids"] = res["nodes"]
        res["rows"] = int(self.ref["rows"])
        res["result_mb"] = sum(dir_mb(os.path.join(job_dir, a)) for a, _ in algos)
        return res

    def check(self, res: dict, job_dir: str) -> list[str]:
        ref, errs = self.ref, []
        n = int(ref["n"])
        if (res["nodes"], res["edges"]) != (n, len(ref["src"])):
            errs.append(f"mined graph {res['nodes']}x{res['edges']} != {n}x{len(ref['src'])}")
            return errs
        pr = _read(os.path.join(job_dir, "pagerank"))
        if res["supersteps"] != self.PR_ITERATIONS or not (
            np.array_equal(pr["id"], np.arange(n))
            and np.allclose(pr["rank"], ref["pagerank"], rtol=PR_RTOL, atol=PR_ATOL)
        ):
            errs.append("pagerank differs from the reference")
        comp = _read(os.path.join(job_dir, "wcc"))
        if not np.array_equal(comp["component"], ref["wcc"]):
            errs.append("wcc components differ from the reference")
        lab = _read(os.path.join(job_dir, "lpa"))
        if not np.array_equal(lab["label"], ref["lpa"]) or \
                res["iterations"]["lpa"] != int(ref["lpa_iterations"]):
            errs.append("lpa labels differ from the reference")
        tri = _read(os.path.join(job_dir, "triangles"))
        if not (np.array_equal(tri["triangles"], ref["triangles"])
                and np.allclose(tri["coefficient"], ref["coefficient"], rtol=1e-9, atol=1e-12)):
            errs.append("triangle counts differ from the reference")
        return errs


class PagerankResume:
    """Push-strategy PageRank on a power-law graph, checkpointed every
    superstep, cut after superstep ``CUT`` and resumed by a fresh PageRank to
    tolerance. The shuffle gather and the checkpoint writes and reads do the
    work; there is no mining.

    The tolerance is chosen per seed so that every seed converges at
    superstep ``SUPERSTEPS``: at a fixed tolerance the count moves by one
    from seed to seed, and with it the job's work by a sixth."""

    name = "pagerank_resume"
    LOG_NODES, DEGREE = 10, 256
    SUPERSTEPS = 6
    CUT = 3
    MAX_ITERATIONS = 100

    def __init__(self, data_root: str, seed: int):
        self.data_root, self.seed = data_root, seed

    def datagen(self) -> None:
        n = 1 << self.LOG_NODES

        def build(tmp):
            datagen.write_powerlaw_edges(os.path.join(tmp, "edges"), self.seed, n, self.DEGREE)
            e = pd.read_parquet(os.path.join(tmp, "edges"))
            src, dst = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
            tol = reference.tolerance_for(n, src, dst, self.SUPERSTEPS, all_nodes=False)
            ranks, steps = reference.pagerank(n, src, dst, tolerance=tol, all_nodes=False)
            present = np.zeros(n, dtype=bool)
            present[src] = present[dst] = True
            np.savez(os.path.join(tmp, "reference.npz"), ids=np.flatnonzero(present),
                     pagerank=ranks[present], supersteps=steps, tolerance=tol,
                     edges=len(src))

        tag = f"{self.name}-seed{self.seed}-n{n}x{self.DEGREE}-k{self.SUPERSTEPS}"
        self.dir = _cached(os.path.join(self.data_root, tag), build)
        self.table = os.path.join(self.dir, "edges")
        self.ref = dict(np.load(os.path.join(self.dir, "reference.npz")))
        self.tolerance = float(self.ref["tolerance"])
        if int(self.ref["supersteps"]) != self.SUPERSTEPS:
            raise ValueError(f"seed {self.seed}: the reference converges at superstep "
                             f"{int(self.ref['supersteps'])}, not {self.SUPERSTEPS}")

    def job(self, spark, tr, job_dir) -> dict:
        from linkgraph import GraphLoader
        from linkgraph.algorithms.pagerank import PageRank
        from linkgraph.io import CheckpointManager

        store = os.path.join(job_dir, "pagerank_blocks")
        ck_dir = os.path.join(job_dir, "checkpoints")

        def pagerank(limit):
            return PageRank(strategy="csr", tolerance=self.tolerance, max_iterations=limit,
                            checkpoint=CheckpointManager(spark, ck_dir), checkpoint_every=1,
                            block_store=store)

        res = {}
        t_job = time.perf_counter()
        with tr.span("loader.load"):
            g = GraphLoader().with_relationships(
                spark.read.parquet(self.table)).load()
        t0 = time.perf_counter()
        first = pagerank(self.CUT)
        with tr.span("pagerank"):
            first.run(g)
        t1 = time.perf_counter()
        second = pagerank(self.MAX_ITERATIONS)
        ranks = _compute(tr, "pagerank", lambda: second.run(g))
        t2 = time.perf_counter()
        _write(tr, ranks, os.path.join(job_dir, "pagerank"))
        t3 = time.perf_counter()
        res["job_s"] = t3 - t_job
        res["pagerank_s"] = t3 - t1
        res["pagerank_run_s"] = (t1 - t0) + (t2 - t1)
        res["cut"] = (first.metrics.iterations, first.metrics.did_converge)
        res["resume"] = (second.metrics.resumed_from, second.metrics.iterations,
                         second.metrics.did_converge)
        res["supersteps"] = first.metrics.iterations + second.metrics.iterations - (
            second.metrics.resumed_from or 0)
        res["iterations"] = {"pagerank": second.metrics.iterations}
        res["edges"] = int(self.ref["edges"])
        res["store"] = store
        res["edges_path"] = self.table
        res["n_ids"] = 1 << self.LOG_NODES
        res["checkpoint_mb"] = dir_mb(ck_dir)
        res["result_mb"] = dir_mb(os.path.join(job_dir, "pagerank"))
        return res

    def check(self, res: dict, job_dir: str) -> list[str]:
        ref, errs = self.ref, []
        steps = int(ref["supersteps"])
        if res["cut"] != (self.CUT, False):
            errs.append(f"cut run ended at {res['cut']}, expected ({self.CUT}, False)")
        if res["resume"] != (self.CUT, steps, True):
            errs.append(f"resumed run {res['resume']} != ({self.CUT}, {steps}, True)")
        pr = _read(os.path.join(job_dir, "pagerank"))
        if not (np.array_equal(pr["id"], ref["ids"])
                and np.allclose(pr["rank"], ref["pagerank"], rtol=PR_RTOL, atol=PR_ATOL)):
            errs.append("resumed pagerank differs from an uninterrupted reference run")
        return errs


WORKLOADS = {w.name: w for w in (CodegraphBatch, PagerankResume)}
