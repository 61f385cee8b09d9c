"""The k-means++/Lloyd loop behind kmeans_sweep and gap_statistic
(functions/lloyd.py): its rows are the index suite of its own final
centroids, they do not depend on partitioning or on the sample cap, the
sweep runs a handful of Spark jobs, degenerate inputs give their stated
results, and MLlib K-Means is gone from the package. The seeded fits of
the IVF coarse quantizer and the PQ codebooks (lloyd.fit_seeded) leave
unusable rows out of their seeds."""

from __future__ import annotations

import ast
import math
import os

import numpy as np
import pytest

from clusterindices_spark.functions import lloyd
from clusterindices_spark.operators.indices import index_suite, labeled_points
from clusterindices_spark.operators.sweep import best_k, kmeans_sweep

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "clusterindices_spark",
)
_INDICES = ("bd_silhouette", "bd_dunn", "davies_bouldin", "wssse")


def _blobs(true_k=3, dim=4, per=200, seed=5, box=30, spread=1.0):
    rng = np.random.default_rng(seed)
    rows, vid = [], 0
    for label, c in enumerate(rng.uniform(-box, box, size=(true_k, dim))):
        for _ in range(per):
            rows.append((vid, (c + rng.normal(0, spread, dim)).tolist(), label))
            vid += 1
    return rows


def _write(spark, tmp_path, rows, name="pts", parts=None, schema=None):
    df = spark.createDataFrame(
        rows, schema or "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    if parts is not None:
        df = df.repartition(parts)
    out = str(tmp_path / name)
    df.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def _close(a, b):
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)


def _same_rows(a, b):
    assert [r["k"] for r in a] == [r["k"] for r in b]
    for ra, rb in zip(a, b):
        for c in _INDICES:
            assert _close(ra[c], rb[c]), (ra, rb, c)


def test_rows_equal_index_suite_on_final_centroids(spark, tmp_path):
    out = _write(spark, tmp_path, _blobs())
    rows = kmeans_sweep(spark, out, 2, 4, max_iter=10).collect()
    fits = lloyd.fit_sweep(labeled_points(spark, out), 2, 4, 42, 10)
    assert [f.k for f in fits] == [r["k"] for r in rows] == [2, 3, 4]
    pts = labeled_points(spark, out).collect()
    X = np.array([p["x"] for p in pts])
    for fit, row in zip(fits, rows):
        labels = np.argmin(((X[:, None, :] - fit.centroids[None]) ** 2).sum(-1), 1)
        labeled = spark.createDataFrame(
            [(p["vec_id"], int(c), p["x"]) for p, c in zip(pts, labels)],
            "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>",
        )
        cents = spark.createDataFrame(
            fit.cent_rows, "cluster INT, centroid ARRAY<DOUBLE>"
        )
        want = index_suite(labeled, cents).first()
        for c in _INDICES:
            assert _close(row[c], want[c]), (fit.k, c, row[c], want[c])


def test_rows_do_not_depend_on_partitioning(spark, tmp_path):
    rows = _blobs(true_k=4, per=60, seed=8)
    one = _write(spark, tmp_path, rows, "one", parts=1)
    seven = _write(spark, tmp_path, rows, "seven", parts=7)
    _same_rows(
        kmeans_sweep(spark, one, 2, 5, max_iter=10).collect(),
        kmeans_sweep(spark, seven, 2, 5, max_iter=10).collect(),
    )


def test_sampled_path_recovers_planted_k_and_replays(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lloyd, "SAMPLE_CAP", 150)
    out = _write(spark, tmp_path, _blobs(true_k=4, per=150, seed=12))
    a = kmeans_sweep(spark, out, 2, 6, max_iter=10)
    chosen = {r["index"]: r["chosen_k"] for r in best_k(a).collect()}
    assert chosen["bd_silhouette"] == chosen["davies_bouldin"] == 4, chosen
    b = kmeans_sweep(spark, out, 2, 6, max_iter=10).collect()
    assert [r[:5] for r in a.collect()] == [r[:5] for r in b]


def test_within_cap_sweep_runs_no_pass(spark, tmp_path, monkeypatch):
    """Within the cap the driver holds every point, so every K is finished
    there, and its rows are the one-pass rows of the same centroids."""
    out = _write(spark, tmp_path, _blobs(true_k=3, per=80, seed=9), parts=3)
    pts = labeled_points(spark, out)

    def no_pass(*a, **kw):
        raise AssertionError("pass_frame ran on an input within the sample cap")

    monkeypatch.setattr(lloyd, "pass_frame", no_pass)
    fits = lloyd.fit_sweep(pts, 2, 5, 42, 10)
    assert [f.k for f in fits] == [2, 3, 4, 5]
    monkeypatch.undo()
    for fit in fits:
        (one,) = lloyd._refine(pts, {fit.k: (fit.centroids, None, 0)}, 4, 0.0)
        assert [r["cluster"] for r in fit.stats] == [r["cluster"] for r in one.stats]
        for a, b in zip(fit.stats, one.stats):
            assert a["n"] == b["n"]
            for c in ("s_sum", "ss", "max_d", "s_i"):
                assert math.isclose(a[c], b[c], rel_tol=1e-9, abs_tol=1e-12), (
                    fit.k, c, a[c], b[c]
                )


def test_sampled_sweep_still_runs_passes(spark, tmp_path, monkeypatch):
    out = _write(spark, tmp_path, _blobs(true_k=3, per=80, seed=9))
    calls = []
    real = lloyd.pass_frame

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(lloyd, "SAMPLE_CAP", 100)
    monkeypatch.setattr(lloyd, "pass_frame", counted)
    fits = lloyd.fit_sweep(labeled_points(spark, out), 2, 4, 42, 10)
    assert [f.k for f in fits] == [2, 3, 4]
    assert calls


def test_sweep_runs_few_spark_jobs(spark, tmp_path):
    """count and sample collect, then NumPy in the driver (the input fits
    the sample cap): the per-K MLlib fits ran ~58 jobs for K=2..4."""
    out = _write(spark, tmp_path, _blobs(per=200))
    sc = spark.sparkContext
    sc.setJobGroup("lloyd-job-count", "kmeans_sweep k 2..4")
    try:
        kmeans_sweep(spark, out, 2, 4, max_iter=5).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("lloyd-job-count")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 6, sorted(jobs)


_NAN, _INF = float("nan"), float("inf")


def _pair_rows():
    return [(i, [0.0, 0.0] if i % 2 else [5.0, 5.0], 0) for i in range(20)]


def _bad(i, v):
    rows = _blobs(true_k=2, dim=2, per=20, seed=3)
    rows[i] = (rows[i][0], v, 0)
    return rows


# (input rows, sample cap, expected k list or (exception, message regex))
DEGENERATE = {
    "empty": ([], None, []),
    "one_row": ([(0, [1.0, 2.0], 0)], None, []),
    "k_above_distinct": (_pair_rows(), None, [2]),
    "all_identical": ([(i, [1.0, 1.0], 0) for i in range(20)], None, []),
    "nan": (_bad(7, [_NAN, 1.0]), None, (ValueError, "vec_id 7")),
    "inf_sampled": (_bad(9, [1.0, -_INF]), 10, (ValueError, "vec_id 9")),
    "null_coordinate": (_bad(4, [None, 1.0]), None, (ValueError, "vec_id 4")),
    "mixed_dims": (
        _bad(5, [1.0, 2.0, 3.0]), None, (ValueError, r"dimensions \[2, 3\]")
    ),
    "mixed_dims_sampled": (
        _bad(5, [1.0, 2.0, 3.0]), 10, (ValueError, r"dimensions \[2, 3\].*vec_id 5")
    ),
}


@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_degenerate_inputs(spark, tmp_path, monkeypatch, case):
    rows, cap, want = DEGENERATE[case]
    if cap is not None:
        monkeypatch.setattr(lloyd, "SAMPLE_CAP", cap)
    out = _write(spark, tmp_path, rows)
    if isinstance(want, tuple):
        with pytest.raises(want[0], match=want[1]):
            kmeans_sweep(spark, out, 2, 4, max_iter=5).collect()
        return
    got = kmeans_sweep(spark, out, 2, 4, max_iter=5).collect()
    assert [r["k"] for r in got] == want


def test_emptied_cluster_keeps_its_centroid(spark):
    """A centroid that wins no point keeps its place, both in the driver
    updates and in a full pass's update."""
    X = np.array([[0.0, 0.0], [0.0, 1.0], [10.0, 0.0], [10.0, 1.0]])
    C0 = np.array([[0.0, 0.5], [10.0, 0.5], [100.0, 100.0]])
    C, lab, used = lloyd._lloyd(X, (X * X).sum(1), C0, 5)
    assert used == 1 and lab.tolist() == [0, 0, 1, 1]
    assert C[2].tolist() == [100.0, 100.0]

    pts = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)], "vec_id BIGINT, x ARRAY<DOUBLE>"
    )
    start = np.array([[0.0, 0.0], [10.0, 1.0], [100.0, 100.0]])
    (fit,) = lloyd._refine(pts, {3: (start, None, 2)}, 2, 0.0)
    assert fit.centroids.tolist() == C.tolist()
    assert sorted(r["cluster"] for r in fit.stats) == [0, 1]


class _KMeansUses(ast.NodeVisitor):
    def __init__(self):
        self.found: list[int] = []

    def visit_ImportFrom(self, node):
        if any(a.name == "KMeans" for a in node.names):
            self.found.append(node.lineno)

    def visit_Call(self, node):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "KMeans":
            self.found.append(node.lineno)
        self.generic_visit(node)

    def visit_Constant(self, node):
        if node.value == "KMeans":  # getattr(clustering, "KMeans")
            self.found.append(node.lineno)


def test_package_does_not_use_mllib_kmeans():
    hits = {}
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    v = _KMeansUses()
                    v.visit(ast.parse(fh.read()))
                if v.found:
                    hits[os.path.relpath(path, _PKG)] = v.found
    assert hits == {}


def test_seeded_fits_skip_null_seeds(spark):
    """A NULL vector among the n_cells lowest vec_ids must not seed a cell:
    its NULL distance would outrank every real one and the cell would take
    every row. Likewise a zero vector among PQ's k lowest ids, all-NULL
    once ``_unit`` scales it, must not leave one code per subspace. Every
    row is still assigned (and every non-NULL vector encoded)."""
    from clusterindices_spark.operators.pq import pq_train_encode
    from clusterindices_spark.operators.similarity import ivf_build

    rows = [(0, [1.0, 0.0, 0.0, 1.0]), (1, None), (2, [0.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i % 4) + 1, float(i % 3), float((i * 7) % 5), float(i % 2) + 1])
        for i in range(3, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, x ARRAY<DOUBLE>")
    _, index = ivf_build(emb, n_cells=4)
    got = index.select("neighbor_id", "cell").collect()
    assert sorted(r["neighbor_id"] for r in got) == list(range(40))
    assert len({r["cell"] for r in got}) > 1
    codebook, codes = pq_train_encode(emb, m=2, k=4)
    books = codebook.collect()
    assert len(books) == 2 and all(len(r["book"]) > 1 for r in books)
    coded = codes.collect()
    # _unit drops the NULL vector; the zero vector is still encoded
    assert sorted(r["vec_id"] for r in coded) == [0] + list(range(2, 40))
    assert all(len(r["codes"]) == 2 and None not in r["codes"] for r in coded)


def test_seeded_fit_of_identical_rows_keeps_one_cell(spark):
    """Identical seeds tie on every row, so the first update leaves one
    cell and the next update runs with a single centroid."""
    from clusterindices_spark.operators.similarity import ivf_build, unfold_cents

    emb = spark.createDataFrame(
        [(i, [2.0, -1.0]) for i in range(6)], "vec_id BIGINT, x ARRAY<DOUBLE>"
    )
    folded, index = ivf_build(emb, n_cells=3)
    assert [tuple(r) for r in unfold_cents(folded).collect()] == [(0, [2.0, -1.0])]
    assert {r["cell"] for r in index.collect()} == {0}
