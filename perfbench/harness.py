"""Session lifetime, host-drift record and the span tracer.

The tracer records spans from outside the engine: around each call the
benchmark makes into a layer, and around the engine's own calls into the
block-store and checkpoint layers, which it wraps for the length of a traced
job (``instrument``). Each span sets its own Spark job group, so the Spark
jobs, stages, tasks and shuffle bytes of a span are read back afterwards from
the status tracker and the status store. Both work with the UI disabled.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import time

from py4j.protocol import Py4JJavaError

MASTER = "local[4]"
CORES = 4


def start_session(work: str):
    """A local[4] session whose scratch files all stay under ``work``."""
    from linkgraph.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            # no hsperfdata file under the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads a traced job's Spark jobs back after it ends
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def job_floor_s(sc, reps: int = 3) -> float:
    """Median wall time of an empty job with one task per core."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize(range(CORES), CORES).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def matmul_canary_s() -> float:
    """bench.py's host canary: three 1500x1500 float64 matmuls on the driver."""
    import numpy as np

    a = np.random.RandomState(0).rand(1500, 1500)
    t0 = time.perf_counter()
    for _ in range(3):
        (a @ a).sum()
    return time.perf_counter() - t0


def drift_record(sc) -> dict:
    return {"matmul_canary_s": matmul_canary_s(), "spark_job_floor_s": job_floor_s(sc)}


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def job(self, run_id: str):
        return contextlib.nullcontext()


class Tracer:
    """In-memory spans: name, start, end, parent and the job's run id."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._run_id = None

    @contextlib.contextmanager
    def job(self, run_id: str):
        self._run_id = run_id
        with self.span("job") as rec:
            yield rec
        self._run_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "run": self._run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read_spark_counters(self) -> None:
        """Attach each span's own jobs, stages, tasks and shuffle bytes."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["id"])
            stages = tasks = read = write = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    try:
                        att = store.lastStageAttempt(s)
                    except Py4JJavaError:  # skipped stage: it never ran
                        continue
                    stages += 1
                    tasks += att.numTasks()
                    read += att.shuffleReadBytes()
                    write += att.shuffleWriteBytes()
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       shuffle_read_bytes=read, shuffle_write_bytes=write)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict) -> list[dict]:
        """Every span below ``rec``, in start order."""
        out, todo = [], [rec]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return sorted(out, key=lambda s: s["start"])

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for rec in self.spans:
            r = dict(rec)
            r["start"] -= t0
            r["end"] -= t0
            r["self_s"] = self.self_time(rec)
            out.append(r)
        return out


@contextlib.contextmanager
def instrument(tracer):
    """Wrap the engine's block-store and checkpoint layer functions in spans
    for the duration of the block; restore them on exit."""
    from linkgraph import io
    from linkgraph.algorithms import blocks

    targets = [
        (blocks, "write_pull_blocks", "blocks.build"),
        (blocks, "write_edge_blocks", "blocks.build"),
        (blocks, "pull_superstep", "blocks.pull_superstep"),
        (io.CheckpointManager, "write", "io.checkpoint_write"),
        (io.CheckpointManager, "latest", "io.resume_read"),
    ]
    saved = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr, None)
        if orig is None:
            continue
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrapped(tracer, name, orig))
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def _wrapped(tracer, name, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call
