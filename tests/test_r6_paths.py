"""Round-6 path-parity regressions.

The r6 optimization round added driver-local crossovers below
DRIVER_EDGE_THRESHOLD (WCC union-find, MSBFS, ANF, LPA, k-hop sampling,
cluster tails, the pull engine, k-means Lloyd, the bitset Jaccard kernel,
the Arrow cosine kernel) — which means ordinary small-fixture tests now
exercise the DRIVER paths only. These tests force the DISTRIBUTED /
codegen paths by monkeypatching the crossover constants and assert they
produce exactly the same results as the default (driver) paths, so the
at-scale code can never silently rot.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import linkgraph.algorithms.blocks as B
from linkgraph.graph import Graph


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def small_graph(spark):
    edges = []
    rng = np.random.RandomState(7)
    n = 60
    for i in range(n):
        for j in rng.choice(n, size=3, replace=False):
            if i != int(j):
                edges.append((i, int(j), 1.0 + (i + int(j)) % 3))
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    nodes = spark.range(n).select(F.col("id"))
    return Graph.from_edges(e, nodes=nodes)


def test_wcc_distributed_matches_union_find(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.wcc import wcc

    local = _rows(wcc(small_graph), ["id", "component"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(wcc(small_graph), ["id", "component"])
    assert local == dist


def test_msbfs_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.msbfs import msbfs_distance_sums

    local = _rows(
        msbfs_distance_sums(small_graph, direction="BOTH"),
        ["id", "reachable", "dist_sum"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        msbfs_distance_sums(small_graph, direction="BOTH"),
        ["id", "reachable", "dist_sum"],
    )
    assert local == dist


def test_anf_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.anf import neighborhood_function

    local = _rows(
        neighborhood_function(small_graph, max_h=8, num_trials=8),
        ["h", "neighborhood_estimate"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        neighborhood_function(small_graph, max_h=8, num_trials=8),
        ["h", "neighborhood_estimate"],
    )
    assert local == dist


def test_lpa_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.lpa import label_propagation

    local = _rows(
        label_propagation(small_graph, max_iterations=6), ["id", "label"]
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        label_propagation(small_graph, max_iterations=6), ["id", "label"]
    )
    assert local == dist


def test_khop_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.sampling import k_hop_sample

    e = small_graph.edges.select("src", "dst")
    ue = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    seeds = spark.range(0, 60, 7).select(F.col("id"))
    local = _rows(k_hop_sample(ue, seeds, (3, 2)), ["hop", "src", "dst"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(k_hop_sample(ue, seeds, (3, 2)), ["hop", "src", "dst"])
    assert local == dist


def test_store_key_changes_when_parquet_mutates(spark, tmp_path):
    # r5 verdict: the block-store cache keyed on the plan's semanticHash
    # alone, so overwriting a parquet file beneath a semantically identical
    # plan silently served stale CSR/CSC blocks. The key now folds in an
    # input-files fingerprint (path, size, mtime), so mutation ⇒ new key ⇒
    # rebuild, while an untouched table keeps a stable (cache-hitting) key.
    import time

    p = str(tmp_path / "edges.parquet")
    df1 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    df1.coalesce(1).write.mode("overwrite").parquet(p)
    k1 = B.semantic_store_key(spark.read.parquet(p), "t")
    k1b = B.semantic_store_key(spark.read.parquet(p), "t")
    assert k1 is not None and k1 == k1b
    time.sleep(0.05)  # ensure a distinct mtime even on coarse filesystems
    df2 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"
    )
    df2.coalesce(1).write.mode("overwrite").parquet(p)
    k2 = B.semantic_store_key(spark.read.parquet(p), "t")
    assert k2 is not None and k2 != k1


def test_store_rebuilt_when_parquet_rewritten_in_place(spark, tmp_path):
    # rewriting the SAME file name (not Spark's fresh part-file names) must
    # still change the store key, so the csr run rebuilds its blocks
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from linkgraph.algorithms.pagerank import PageRank

    from oracles import np_pagerank

    d = tmp_path / "edges"
    d.mkdir()
    n = 6

    def write(dsts):
        pq.write_table(
            pa.table({"src": list(range(n)), "dst": dsts, "weight": [1.0] * n}),
            str(d / "part-0.parquet"),
        )

    def ranks():
        g = Graph.from_edges(spark.read.parquet(str(d)))
        return {r["id"]: r["rank"] for r in
                PageRank(strategy="csr", max_iterations=10).run(g).collect()}

    cycle = [(i + 1) % n for i in range(n)]
    star = [1] + [0] * (n - 1)
    write(cycle)
    before = ranks()
    time.sleep(0.05)  # a distinct mtime even on coarse filesystems
    write(star)
    after = ranks()
    for dsts, got in ((cycle, before), (star, after)):
        golden = np_pagerank([(i, t, 1.0) for i, t in enumerate(dsts)], n, iters=10)
        for i in range(n):
            assert got[i] == pytest.approx(golden[i], abs=1e-9)


def test_scc_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.scc import scc

    local = _rows(scc(small_graph), ["id", "component"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(scc(small_graph), ["id", "component"])
    assert local == dist


def test_scc_distributed_matches_local_structured(spark, monkeypatch):
    # exercises trim (DAG tail + isolated node), several color classes,
    # and a second outer round (cycle B takes the color of cycle C's root
    # 46 via 45→10 but is not in its SCC, so it survives round 1)
    from linkgraph.algorithms.scc import scc

    edges = (
        [(0, 1), (1, 2), (2, 0)]                      # cycle A
        + [(10, 11), (11, 12), (12, 13), (13, 14), (14, 10)]  # cycle B
        + [(20, 21), (21, 22), (22, 2)]               # DAG tail into A
        + [(2, 10)]                                   # A reaches B, not back
        + [(40, 41), (41, 40)]                        # 2-cycle
        + [(45, 46), (46, 45), (45, 10)]              # cycle C colors B
    )
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in sorted({s for s, _ in edges} | {d for _, d in edges} | {30})],
        "id long",
    )
    g = Graph.from_edges(e, nodes=nodes)
    local = _rows(scc(g), ["id", "component"])
    # spot-check the expected structure on the driver path
    comp = dict(local)
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[10] == comp[14] == 10
    assert comp[45] == comp[46] == 45
    assert comp[20] == 20 and comp[30] == 30
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(scc(g), ["id", "component"])
    assert local == dist


def test_clusters_from_pairs_distributed_matches_local(spark, monkeypatch):
    from linkgraph.pipeline.dedup import _clusters_from_pairs

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 0)], "a long, b long"
    )
    items = spark.range(12).select(F.col("id").alias("doc_id"))
    local = _rows(
        _clusters_from_pairs(pairs, items, "doc_id"),
        ["doc_id", "cluster", "is_representative"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", -1)
    dist = _rows(
        _clusters_from_pairs(pairs, items, "doc_id"),
        ["doc_id", "cluster", "is_representative"],
    )
    assert local == dist


def test_pull_engine_distributed_matches_local(spark, tmp_path, small_graph):
    sc = spark.sparkContext
    edges = small_graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    path = str(tmp_path / "pull")
    B.write_pull_blocks(edges, 4, path)
    n = 60
    p = np.arange(n, dtype=np.float64) + 1.0
    local_step = B.pull_engine(sc, path, 4, n)  # 180 edges << threshold
    dist = B.pull_superstep(sc, path, 4, n, p)
    assert np.array_equal(local_step(p), dist)  # bit-identical arithmetic


def test_pull_engine_multi_distributed_matches_local(spark, tmp_path, small_graph):
    sc = spark.sparkContext
    edges = small_graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    path = str(tmp_path / "pullm")
    B.write_pull_blocks(edges, 3, path)
    n = 60
    P = np.vstack([np.ones(n), np.arange(n, dtype=np.float64)]).T
    local_step = B.pull_engine_multi(sc, path, 3, n)
    dist = B.pull_superstep_multi(sc, path, 3, n, P)
    assert np.array_equal(local_step(P), dist)


def test_fused_csr_matches_pull_rounded(spark, small_graph):
    from linkgraph.algorithms.pagerank import PageRank

    csr = PageRank(max_iterations=10, strategy="csr").run(small_graph)
    pull = PageRank(max_iterations=10, strategy="pull").run(small_graph)
    a = {r["id"]: round(r["rank"], 9) for r in csr.collect()}
    b = {r["id"]: round(r["rank"], 9) for r in pull.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_bitset_jaccard_matches_codegen(spark, monkeypatch):
    import linkgraph.pipeline.dedup as D

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 9}" for j in range(5))) for i in range(40)],
        "doc_id long, text string",
    )
    bit = _rows(D._direct_jaccard_pairs(docs, 0.5, "text"), ["a", "b", "jaccard"])
    monkeypatch.setattr(D, "_BITSET_MAX_VOCAB", 0)
    codegen = _rows(D._direct_jaccard_pairs(docs, 0.5, "text"), ["a", "b", "jaccard"])
    assert bit == codegen and len(bit) > 0


def test_cosine_arrow_matches_hof(spark, monkeypatch):
    import linkgraph.pipeline.ann as A

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(16)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    arrow = _rows(
        A.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=4),
        ["a", "b", "cosine"],
    )
    monkeypatch.setattr(A, "_BRUTE_MAX_BROADCAST", 0)
    hof = _rows(
        A.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=4),
        ["a", "b", "cosine"],
    )
    assert arrow == hof and len(arrow) == 40


def test_lloyd_distributed_matches_driver(spark, monkeypatch):
    import linkgraph.pipeline.ann as A

    rng = np.random.RandomState(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    driver = A.train_ivf_centroids_distributed(emb, num_cells=4, iters=3, seed=5)
    monkeypatch.setattr(A, "LLOYD_DRIVER_BUDGET", 1)
    dist = A.train_ivf_centroids_distributed(emb, num_cells=4, iters=3, seed=5)
    assert np.allclose(driver, dist, atol=1e-12)
