"""linkgraph benchmark: one seeded workload on local[4], checked against an
independent reference.

    python3 perfbench/run.py --workload codegraph_batch --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from the span trace. Everything else (progress, the host
drift record, per-job samples, the spans) goes to stderr and to
``.perfbench_work/runs/``. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

import harness

T_START = time.perf_counter()
WORK_DIR = ".perfbench_work"
SETUPS = 5  # setup_s is the median of this many set-ups
# A job that is not needed for a metric starts only if the previous job's
# time says it ends before this, so that a run ends within 180 s on a slow host.
DEADLINE_S = 140.0

END_TO_END = {"setup_s": "s", "job_s": "s"}
ALGORITHMS = ("pagerank", "wcc", "lpa", "triangles")
PER_LAYER = {
    "session.start_s": "s",
    "mining.file_graph_s": "s",
    "mining.rows_per_s": "rows/s",
    "mining.edges": "count",
    "graph.from_edges_s": "s",
    "loader.load_s": "s",
    "blocks.build_s": "s",
    "blocks.bytes_per_edge": "B/edge",
    "blocks.pull_superstep_s": "s",
    "spark.job_floor_s": "s",
    **{f"{a}.iterations": "count" for a in ALGORITHMS if a != "triangles"},
    "pagerank.run_s": "s",
    "pagerank.edges_per_s": "edges/s",
    "pagerank.superstep_s": "s",
    **{f"{a}.{c}": "count" for a in ALGORITHMS for c in ("jobs", "stages", "tasks")},
    **{f"{a}.shuffle_{d}_mb": "MB" for a in ALGORITHMS for d in ("read", "write")},
    "io.checkpoint_write_s": "s",
    "io.checkpoint_mb": "MB",
    "io.resume_read_s": "s",
    "io.write_table_s": "s",
    "io.result_mb": "MB",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(root: str) -> str:
    """Keep every scratch file of Python, the JVM and Spark under the checkout."""
    work = os.path.join(root, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def load(spark, table: str) -> None:
    """Load the cached input table: read it and count it."""
    spark.read.parquet(table).count()


def warm_up(spark, table: str) -> None:
    """Start the Python workers and the Arrow path once, so that the first
    timed job does not pay for them."""
    df = spark.read.parquet(table)
    df.mapInPandas(lambda batches: (b.head(1) for b in batches), df.schema).count()


def layer_metrics(tr, res: dict) -> dict:
    """Per-layer numbers of one traced job, from its spans."""
    job = next(s for s in tr.spans if s["name"] == "job")
    inside = tr.descendants(job)

    def named(name):
        return [s for s in inside if s["name"] == name]

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans)

    def counters(spans, key):
        return sum(s[key] for top in spans for s in [top] + tr.descendants(top))

    m = {name: 0.0 for name in PER_LAYER}
    mining = named("mining.file_graph")
    if mining:
        m["mining.file_graph_s"] = dur(mining)
        m["mining.rows_per_s"] = res["rows"] / dur(mining)
        m["mining.edges"] = res["edges"]
    m["graph.from_edges_s"] = dur(named("graph.from_edges"))
    m["loader.load_s"] = dur(named("loader.load"))
    builds = named("blocks.build")
    m["blocks.build_s"] = dur(builds)
    if os.path.isdir(res["store"]) and res["edges"]:
        m["blocks.bytes_per_edge"] = harness.dir_mb(res["store"]) * 1e6 / res["edges"]
    for algo in ALGORITHMS:
        spans = named(algo)
        if not spans:
            continue
        for c in ("jobs", "stages", "tasks"):
            m[f"{algo}.{c}"] = counters(spans, c)
        m[f"{algo}.shuffle_read_mb"] = counters(spans, "shuffle_read_bytes") / 1e6
        m[f"{algo}.shuffle_write_mb"] = counters(spans, "shuffle_write_bytes") / 1e6
        if algo != "triangles":
            m[f"{algo}.iterations"] = res["iterations"].get(algo) or 0
    m["pagerank.run_s"] = res["pagerank_run_s"]
    m["pagerank.edges_per_s"] = res["edges"] * res["supersteps"] / res["pagerank_run_s"]
    pr_spans = named("pagerank")
    if pr_spans and res["supersteps"]:
        pr_builds = [b for s in pr_spans for b in tr.descendants(s) if b["name"] == "blocks.build"]
        m["pagerank.superstep_s"] = (dur(pr_spans) - dur(pr_builds)) / res["supersteps"]
    writes = named("io.checkpoint_write")
    if writes:
        m["io.checkpoint_write_s"] = median([dur([w]) for w in writes])
        m["io.checkpoint_mb"] = res["checkpoint_mb"] / len(writes)
    reads = named("io.resume_read")
    if reads:
        m["io.resume_read_s"] = dur(reads[-1:])  # the read that found the checkpoint
    tables = named("io.write_table")
    m["io.write_table_s"] = median([dur([t]) for t in tables])
    m["io.result_mb"] = res["result_mb"]
    m["trace.coverage"] = dur(tr.children(job)) / dur([job])
    return m


def pull_superstep_calibration(spark, res: dict, job_dir: str) -> list[float]:
    """Timed distributed pull supersteps on a pull store of the job's graph:
    the batch job's own store, or one built for the resume graph."""
    import numpy as np

    from linkgraph.algorithms import blocks

    store = res["store"]
    if not (blocks.store_exists(store) and blocks.read_manifest(store).get("layout") == "pull"):
        from pyspark.sql import functions as F

        store = os.path.join(job_dir, "calibration_pull_blocks")
        edges = spark.read.parquet(res["edges_path"]).withColumn("weight", F.lit(1.0))
        blocks.write_pull_blocks(edges, harness.CORES, store, weighted=False)
    manifest = blocks.read_manifest(store)
    b = int(manifest["num_blocks"])
    n = res["n_ids"]
    p = np.ones(n)
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        blocks.pull_superstep(spark.sparkContext, store, b, n, p)
        times.append(time.perf_counter() - t0)
    return times[1:]


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "linkgraph", "__init__.py")):
        log("run from the root of a linkgraph checkout: ./linkgraph is missing")
        return 2
    work = prepare_environment(root)
    sys.path.insert(0, root)
    import linkgraph

    if os.path.dirname(os.path.dirname(os.path.abspath(linkgraph.__file__))) != root:
        log(f"linkgraph imported from {linkgraph.__file__}, not from this checkout")
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    run_dir = os.path.join(work, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    audit: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace}

    spark = None
    try:
        # ---- inputs and references, generated once per seed and size
        t0 = time.perf_counter()
        wl.datagen()
        audit["datagen_s"] = time.perf_counter() - t0

        # ---- set-up (session start, package ship, input load), several times
        setups, starts = [], []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_session(work)
            starts.append(time.perf_counter() - t0)
            load(spark, wl.table)
            setups.append(time.perf_counter() - t0)
            log(f"setup {i}: {setups[-1]:.3f}s (session start {starts[-1]:.3f}s)")
        t0 = time.perf_counter()
        warm_up(spark, wl.table)
        audit.update(setup_samples=setups, session_start_samples=starts,
                     warm_up_s=time.perf_counter() - t0)
        sc = spark.sparkContext
        audit["drift_start"] = harness.drift_record(sc)
        log("drift record taken")

        # ---- measurement: whole jobs while the next one is expected to end
        # within --seconds. job_s is the first job, the one in a fresh JVM;
        # later jobs run warm and are kept in the audit file only, so that
        # the metric does not jump when a second job starts to fit. A traced
        # run puts its traced job between two warm plain ones (the second
        # only if it fits before DEADLINE_S), and the tracing overhead is the
        # traced job minus their median.
        jobs, traced, attempted, failed = [], [], 0, 0
        t_measure = time.perf_counter()
        k, last_s = 0, 0.0
        while k == 0 or (args.trace and k < 3) or (
            time.perf_counter() - T_START + last_s <= DEADLINE_S
            and (k < 4 if args.trace else time.perf_counter() - t_measure + last_s <= args.seconds)
        ):
            t_job = time.perf_counter()
            trace_this = bool(args.trace) and k % 2 == 0 and k > 0
            tracer = harness.Tracer(sc) if trace_this else harness.NullTracer()
            job_dir = os.path.join(run_dir, f"job{k}")
            attempted += 1
            try:
                with harness.instrument(tracer) if trace_this else contextlib.nullcontext():
                    with tracer.job(f"{wl.name}-seed{args.seed}-job{k}"):
                        res = wl.job(spark, tracer, job_dir)
                    if trace_this:
                        pulls = pull_superstep_calibration(spark, res, job_dir)
                errs = wl.check(res, job_dir)
            except Exception:
                failed += 1
                log(f"job {k} failed:\n{traceback.format_exc()}")
            else:
                sample = {key: res[key] for key in
                          ("job_s", "pagerank_s", "pagerank_run_s", "supersteps", "edges")}
                sample.update(traced=trace_this, errors=errs,
                              pagerank_eps=res["edges"] * res["supersteps"] / res["pagerank_run_s"])
                if "times" in res:
                    sample["step_s"] = res["times"]
                if errs:
                    failed += 1
                    log(f"job {k} wrong output: {errs}")
                jobs.append(sample)
                if trace_this:
                    tracer.read_spark_counters()
                    lm = layer_metrics(tracer, res)
                    lm["blocks.pull_superstep_s"] = median(pulls)
                    traced.append({"metrics": lm, "spans": tracer.dump()})
                log(f"job {k}{' (traced)' if trace_this else ''}: {sample['job_s']:.3f}s"
                    f"{' WRONG' if errs else ''}")
            finally:
                shutil.rmtree(job_dir, ignore_errors=True)
            k += 1
            last_s = time.perf_counter() - t_job

        audit["drift_end"] = harness.drift_record(sc)
        log("drift record taken")
        audit["jobs"] = jobs
        audit["attempted"], audit["failed"] = attempted, failed
        audit["fail_frac"] = failed / attempted
        plain = [j for j in jobs if not j["traced"]]
        if not plain:
            raise RuntimeError("no job completed")
        if args.trace:
            if not traced:
                raise RuntimeError("no traced job completed")
            metrics = {name: median([t["metrics"][name] for t in traced]) for name in PER_LAYER}
            metrics["session.start_s"] = median(starts)
            metrics["spark.job_floor_s"] = harness.job_floor_s(sc)
            metrics["trace.overhead_s"] = median(
                [j["job_s"] for j in jobs if j["traced"]]) - median([j["job_s"] for j in plain[1:] or plain])
            audit["traced_jobs"] = traced
            units = PER_LAYER
        else:
            metrics = {"setup_s": median(setups), "job_s": plain[0]["job_s"]}
            units = END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": float(metrics[name]), "unit": units[name]}
                        for name in units},
        }
        audit["result"] = result
        log("stopping")
    finally:
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        with open(os.path.join(work, "runs", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(audit, f, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"fail_frac={audit['fail_frac']:.3f} datagen_s={audit['datagen_s']:.3f} "
        f"drift start={audit['drift_start']} end={audit['drift_end']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
