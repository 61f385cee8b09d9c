"""Star connected components: the driver finish against the Spark rounds.

``connected_components_star`` labels an edge set of at most
``LOCAL_CC_EDGES`` rows in NumPy on the driver; with the budget at 0 every
graph runs the large-star/small-star rounds to their fixpoint instead. Both
must give every node the smallest id of its component, which a plain
union-find in this file computes independently.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from clusterindices_spark.operators import dedup


def _union_find(node_ids, edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in node_ids)


def _chain(n):
    return list(range(n)), [(i, i + 1) for i in range(n - 1)]


def _star(n):
    # the hub has the LARGEST id, so every leaf first points at the hub
    return list(range(n)), [(n - 1, i) for i in range(n - 1)]


def _cross():
    # two chains crossing at node 20, ids interleaved so neither arm is
    # monotone towards the minimum
    arm_a = [13, 7, 18, 2, 20, 11, 4, 16, 9]
    arm_b = [15, 3, 19, 8, 20, 1, 17, 6, 12]
    edges = [(x, y) for arm in (arm_a, arm_b) for x, y in zip(arm, arm[1:])]
    return list(range(22)), edges


def _cliques():
    rng = random.Random(5)
    edges, base = [], 0
    for size in (1, 2, 3, 5, 8, 4):
        ids = list(range(base, base + size))
        edges += [(a, b) for a in ids for b in ids if a < b]
        base += size + 3  # the gaps are singletons
    rng.shuffle(edges)
    return list(range(base + 5)), edges


def _missing_endpoints():
    # 40..42 appear only in edges: they bridge components but are not nodes
    return list(range(12)), [(0, 40), (40, 5), (7, 41), (41, 42), (42, 9)]


def _dups_and_self_loops():
    edges = [(3, 1), (1, 3), (3, 1), (4, 4), (6, 4), (4, 6), (8, 8), (9, 2)]
    return list(range(10)), edges + [(None, 5), (5, None), (None, None)]


CASES = {
    "chain200": lambda: _chain(200),
    "star": lambda: _star(60),
    "cross": _cross,
    "cliques_singletons": _cliques,
    "missing_endpoints": _missing_endpoints,
    "dups_self_loops": _dups_and_self_loops,
    "empty": lambda: (list(range(6)), []),
}


def _run(spark, node_ids, edges, budget, monkeypatch):
    monkeypatch.setattr(dedup, "LOCAL_CC_EDGES", budget)
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node BIGINT")
    e = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    stats: dict = {}
    got = sorted(
        tuple(r) for r in dedup.connected_components_star(nodes, e, stats=stats).collect()
    )
    return got, stats


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_finish_matches_spark_rounds(spark, monkeypatch, case):
    node_ids, edges = CASES[case]()
    local, st_local = _run(spark, node_ids, edges, 1 << 21, monkeypatch)
    rounds, st_rounds = _run(spark, node_ids, edges, 0, monkeypatch)
    assert local == rounds == _union_find(node_ids, edges)
    assert st_local == {"rounds": 0, "converged": True, "finish": "driver"}
    assert st_rounds["converged"]
    if case != "empty":  # an empty edge set fits any budget
        assert st_rounds["finish"] == "spark" and st_rounds["rounds"] >= 1


def test_driver_finish_after_some_rounds(spark, monkeypatch):
    """A budget between the input's size and the fixpoint's: Spark rounds
    shrink a 30-clique (435 edges) plus a 20-node chain towards one edge
    per non-minimum node, then the driver labels what is left."""
    clique = [(a, b) for a in range(30) for b in range(a + 1, 30)]
    chain = [(100 + i, 101 + i) for i in range(19)]
    node_ids, edges = list(range(30)) + list(range(100, 120)), clique + chain
    got, st = _run(spark, node_ids, edges, 100, monkeypatch)
    assert got == _union_find(node_ids, edges)
    assert st["finish"] == "driver" and st["rounds"] >= 1


def test_local_components_random_graphs():
    rng = np.random.default_rng(11)
    for n, m in ((1, 1), (50, 30), (400, 380), (2000, 1500), (3000, 9000)):
        u = rng.integers(0, n, m) * 7 + 3  # sparse, non-contiguous ids
        v = rng.integers(0, n, m) * 7 + 3
        ids, comp = dedup._local_components(u, v)
        want = _union_find(sorted(set(u.tolist()) | set(v.tolist())), zip(u.tolist(), v.tolist()))
        assert list(zip(ids.tolist(), comp.tolist())) == want


def test_star_cc_job_count(spark):
    """A near-dup-sized graph (a few thousand edges, under the budget) is
    labelled without Spark rounds: the call plus a count of its persisted
    result run at most 5 jobs (the rounds engine ran 16 on this shape)."""
    rng = random.Random(2)
    edges = []
    for g in range(300):
        ids = [g * 10 + i for i in range(rng.randint(2, 6))]
        edges += [(a, b) for a in ids for b in ids if a < b]
    e = spark.createDataFrame(edges, "src BIGINT, dst BIGINT").persist()
    nodes = spark.range(3000).select(F.col("id").alias("node")).persist()
    e.count(), nodes.count()
    sc = spark.sparkContext
    sc.setJobGroup("star-cc-job-count", "connected_components_star")
    try:
        comp = dedup.connected_components_star(nodes, e).persist()
        comp.count()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("star-cc-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    got = sorted(tuple(r) for r in comp.collect())
    for f in (comp, e, nodes):
        f.unpersist()
    assert got == _union_find(range(3000), edges)
    assert n_jobs <= 5, n_jobs
