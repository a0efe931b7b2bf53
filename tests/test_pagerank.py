import numpy as np
import pytest

from linkgraph import Graph
from linkgraph.algorithms.pagerank import PageRank, article_rank, eigenvector_centrality

from conftest import edges_df
from oracles import np_pagerank

# FIXTURES.md G_PR: directed, 10 nodes, node 1 is the hub
G_PR = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4),
]
N = 10


def _edges(weighted=False):
    return [(s, d, 1.0 + ((s + d) % 3) if weighted else 1.0) for s, d in G_PR]


def _graph(spark, weighted=False, reparts=None):
    e = edges_df(spark, _edges(weighted))
    if reparts:
        e = e.repartition(reparts)
    return Graph.from_edges(
        e, nodes=spark.createDataFrame([(i,) for i in range(N)], "id long")
    )


def _run(spark, strategy, weighted=False, **kw):
    pr = PageRank(strategy=strategy, weighted=weighted, **kw)
    got = {r["id"]: r["rank"] for r in pr.run(_graph(spark, weighted)).collect()}
    return got, pr


@pytest.mark.parametrize("strategy", ["join", "csr", "pull"])
def test_pagerank_fixed_iterations(spark, strategy):
    # exact-iteration equality vs the numpy oracle — stronger than convergence
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=30)
    got, pr = _run(spark, strategy, max_iterations=30)
    assert pr.metrics.iterations == 30
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_auto_strategy(spark):
    """auto resolves to pull on contiguous ids, csr otherwise; values match
    the numpy oracle either way."""
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=30)
    got, pr = _run(spark, "auto", max_iterations=30)
    assert pr.resolved_strategy == "pull"  # contiguous 0..N-1 ids
    assert pr.strategy == "auto"  # config not mutated — instance is reusable
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)
    # shift ids → non-contiguous → csr
    from linkgraph.graph import Graph
    from tests.conftest import edges_df

    shifted = Graph.from_edges(
        edges_df(spark, [(s + 1000, d + 1000, 1.0) for s, d in G_PR])
    )
    pr2 = PageRank(strategy="auto", max_iterations=30)
    got2 = {r["id"]: r["rank"] for r in pr2.run(shifted).collect()}
    assert pr2.resolved_strategy == "csr"
    for i in range(N):
        assert got2[i + 1000] == pytest.approx(golden[i], abs=1e-9)
    # a reused auto instance re-resolves per graph
    got3 = {r["id"]: r["rank"] for r in pr2.run(_graph(spark, False)).collect()}
    assert pr2.resolved_strategy == "pull"
    for i in range(N):
        assert got3[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_convergence_1e6(spark):
    # north-star correctness: allclose 1e-6 at convergence
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, tol=1e-12)
    got, pr = _run(spark, "csr", tolerance=2e-8, max_iterations=200)
    assert pr.metrics.did_converge
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-6)


@pytest.mark.parametrize("strategy", ["join", "csr", "pull"])
def test_pagerank_weighted(spark, strategy):
    golden = np_pagerank(_edges(True), N, weighted=True, iters=30)
    got, _ = _run(spark, strategy, weighted=True, max_iterations=30)
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


@pytest.mark.parametrize("strategy", ["join", "csr", "pull"])
def test_pagerank_personalized(spark, strategy):
    t = np.zeros(N)
    t[3] = 1.0
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, teleport=t, iters=30)
    got, _ = _run(spark, strategy, source_nodes=[3], max_iterations=30)
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_salted_equals_unsalted(spark):
    plain, _ = _run(spark, "join", max_iterations=5)
    salted, _ = _run(spark, "join", max_iterations=5, salt=8)
    for i in range(N):
        assert salted[i] == pytest.approx(plain[i], abs=1e-9)


@pytest.mark.parametrize("reparts,blocks", [(1, 1), (8, 3)])
def test_pagerank_partition_invariance(spark, reparts, blocks):
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=20)
    g = _graph(spark, reparts=reparts)
    got = {r["id"]: r["rank"] for r in
           PageRank(strategy="csr", max_iterations=20, num_blocks=blocks).run(g).collect()}
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


@pytest.mark.parametrize("strategy", ["join", "csr"])
def test_pagerank_checkpoint_resume(spark, tmp_path, strategy):
    from linkgraph.io import CheckpointManager

    g = _graph(spark)
    full = {r["id"]: r["rank"] for r in
            PageRank(strategy=strategy, max_iterations=10).run(g).collect()}
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    PageRank(strategy=strategy, max_iterations=4, checkpoint=ck,
             checkpoint_every=1).run(g).collect()
    pr2 = PageRank(strategy=strategy, max_iterations=10, checkpoint=ck, checkpoint_every=1)
    resumed = {r["id"]: r["rank"] for r in pr2.run(g).collect()}
    assert pr2.metrics.resumed_from == 4
    assert set(resumed) == set(range(N))
    for i in range(N):
        assert resumed[i] == pytest.approx(full[i], abs=1e-12)


def _graph_with_isolated(spark):
    """G_PR plus node N, which has no edges at all."""
    return Graph.from_edges(
        edges_df(spark, _edges()),
        nodes=spark.createDataFrame([(i,) for i in range(N + 1)], "id long"),
    )


def test_csr_keeps_isolated_node(spark):
    g = _graph_with_isolated(spark)
    got = {r["id"]: r["rank"] for r in
           PageRank(strategy="csr", max_iterations=10).run(g).collect()}
    assert set(got) == set(range(N + 1))
    assert got[N] == pytest.approx(1 - 0.85, abs=1e-12)


def test_csr_tolerance_stops_with_pull(spark):
    g = _graph_with_isolated(spark)
    csr = PageRank(strategy="csr", tolerance=1e-4, max_iterations=100)
    pull = PageRank(strategy="pull", tolerance=1e-4, max_iterations=100)
    a = {r["id"]: r["rank"] for r in csr.run(g).collect()}
    b = {r["id"]: r["rank"] for r in pull.run(g).collect()}
    assert csr.metrics.did_converge and pull.metrics.did_converge
    assert csr.metrics.iterations == pull.metrics.iterations
    assert csr.metrics.deltas == pytest.approx(pull.metrics.deltas, abs=1e-9)
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-9)


def test_csr_spark_jobs_per_superstep(spark, tmp_path):
    """Regression guard on the fused csr superstep: a run with a tolerance
    (and no checkpoint) costs 2 Spark jobs per superstep — the gather
    exchange's map stage and the materializing localCheckpoint, which also
    observes max |Δ|. A delta join or a separate pack exchange would add
    jobs. Counted from the difference of two runs, so set-up cancels."""
    sc = spark.sparkContext
    g = _graph(spark)
    store = str(tmp_path / "store")
    PageRank(strategy="csr", max_iterations=1, block_store=store).run(g)

    def jobs(group, iterations):
        sc.setJobGroup(group, group)
        try:
            pr = PageRank(strategy="csr", tolerance=1e-12, max_iterations=iterations,
                          block_store=store)
            pr.run(g).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert pr.metrics.iterations == iterations and not pr.metrics.did_converge
        return len(sc.statusTracker().getJobIdsForGroup(group))

    per_step = (jobs("pr-csr-5", 5) - jobs("pr-csr-2", 2)) / 3
    assert per_step <= 2


def test_article_rank_matches_oracle(spark):
    g = _graph(spark)
    got = {r["id"]: r["rank"] for r in article_rank(g, max_iterations=20).collect()}
    outdeg = np.zeros(N)
    for s, d in G_PR:
        outdeg[s] += 1
    # reference semantics: averageDegree = relationshipCount / nodeCount
    avg = outdeg.sum() / N
    p = np.ones(N)
    for _ in range(20):
        c = np.zeros(N)
        for s, d in G_PR:
            c[d] += p[s] / (outdeg[s] + avg)
        p = 0.15 + 0.85 * c
    for i in range(N):
        assert got[i] == pytest.approx(p[i], abs=1e-9)
    assert got[1] == max(got.values())  # hub ranks highest


def test_eigenvector_smoke(spark):
    g = _graph(spark)
    got = {r["id"]: r["rank"] for r in
           eigenvector_centrality(g, max_iterations=15, normalization="max").collect()}
    assert max(got.values()) == pytest.approx(1.0)
    assert got[9] == pytest.approx(0.0, abs=1e-9)  # no in-links
