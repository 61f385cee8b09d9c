"""Index-math unit tests on hand-computable micro-fixtures (SURVEY.md §5.2.3)
plus partition-count invariance properties (§5.2.4)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clusterindices_spark.operators.indices import (
    centroid_pair_dists,
    centroids_of,
    index_suite,
    point_metrics,
)

from tests.conftest import SF_SMOKE


def tiny_clusters(spark):
    # cluster 0: (0,0),(0,2) -> centroid (0,1); cluster 1: (10,0),(10,2) -> (10,1)
    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.0, 2.0]),
        (2, 1, [10.0, 0.0]),
        (3, 1, [10.0, 2.0]),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>")


def test_tiny_hand_values(spark):
    pts = tiny_clusters(spark)
    row = index_suite(pts, centroids_of(pts)).collect()[0]
    # every point: d_own = 1, d_other = sqrt(101); inter-centroid dist = 10
    assert row["k"] == 2
    assert row["wssse"] == pytest.approx(4.0, abs=1e-6)
    assert row["bd_dunn"] == pytest.approx(10.0, abs=1e-6)
    assert row["davies_bouldin"] == pytest.approx(0.2, abs=1e-6)
    expected_sil = (math.sqrt(101) - 1.0) / math.sqrt(101)
    assert row["bd_silhouette"] == pytest.approx(expected_sil, abs=1e-6)


def test_centroids(spark):
    pts = tiny_clusters(spark)
    cents = {r["cluster"]: r["centroid"] for r in centroids_of(pts).collect()}
    assert cents[0] == [0.0, 1.0]
    assert cents[1] == [10.0, 1.0]


def test_pairwise_centroid_dists(spark):
    pts = tiny_clusters(spark)
    pairs = centroid_pair_dists(centroids_of(pts)).collect()
    assert len(pairs) == 2  # (0,1) and (1,0)
    assert all(r["dist"] == pytest.approx(10.0) for r in pairs)


def test_degenerate_single_cluster(spark):
    rows = [(0, 0, [0.0, 0.0]), (1, 0, [2.0, 0.0])]
    pts = spark.createDataFrame(rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>")
    row = index_suite(pts, centroids_of(pts)).collect()[0]
    # K=1: no other centroid -> Dunn/DB/Silhouette undefined (NULL); WSSSE fine
    assert row["k"] == 1
    assert row["bd_dunn"] is None
    assert row["davies_bouldin"] is None
    assert row["bd_silhouette"] is None
    assert row["wssse"] == pytest.approx(2.0, abs=1e-6)


@pytest.mark.parametrize(
    "rows, expected",
    [
        ([], (0, None, None, None, None)),
        ([(0, 0, [1.0])], (1, 0.0, None, None, 0.0)),
        # identical points in two clusters: every distance is 0, so both
        # ratios hit NULLIF(…, 0.0)
        (
            [(0, 0, [1.0]), (1, 0, [1.0]), (2, 1, [1.0])],
            (2, 0.0, None, None, 0.0),
        ),
        # wssse = 0.0078125 exactly: ROUND is HALF_UP, not half-even
        (
            [(0, 0, [0.0]), (1, 0, [0.125]), (2, 1, [10.0]), (3, 1, [10.0])],
            (2, 0.996855, 159.0, 0.006289, 0.007813),
        ),
    ],
    ids=["empty", "one_row", "identical_points", "half_up_rounding"],
)
def test_index_suite_degenerate_inputs(spark, rows, expected):
    pts = spark.createDataFrame(rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>")
    got = index_suite(pts, centroids_of(pts)).collect()
    assert [tuple(r) for r in got] == [expected]


def test_single_point_cluster(spark):
    rows = [(0, 0, [0.0, 0.0]), (1, 1, [10.0, 0.0]), (2, 1, [12.0, 0.0])]
    pts = spark.createDataFrame(rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>")
    pm = {r["vec_id"]: r for r in point_metrics(pts, centroids_of(pts)).collect()}
    assert pm[0]["d_own"] == pytest.approx(0.0)  # singleton: S_i = 0
    assert pm[0]["d_nearest_other"] == pytest.approx(11.0)
    assert pm[1]["d_own"] == pytest.approx(1.0)


def test_partition_invariance(spark):
    from clusterindices_spark.operators.indices import labeled_points

    pts = labeled_points(spark, SF_SMOKE)
    base = index_suite(pts, centroids_of(pts)).collect()[0].asDict()
    reparted = pts.repartition(7)
    alt = index_suite(reparted, centroids_of(reparted)).collect()[0].asDict()
    assert base == alt  # round(6) output must be partitioning-independent


def test_translation_invariance(spark):
    pts = tiny_clusters(spark)
    shifted = pts.withColumn("x", F.transform("x", lambda v: v + F.lit(100.0)))
    a = index_suite(pts, centroids_of(pts)).collect()[0].asDict()
    b = index_suite(shifted, centroids_of(shifted)).collect()[0].asDict()
    assert a == b


# --- extended indices: CH / Xie-Beni / silhouettes -------------------------


def _np_points(rows):
    import numpy as np

    X = np.array([r[2] for r in rows])
    lab = np.array([r[1] for r in rows])
    return X, lab


def ext_fixture(spark):
    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.0, 2.0]),
        (2, 0, [1.0, 1.0]),
        (3, 1, [10.0, 0.0]),
        (4, 1, [10.0, 2.0]),
        (5, 2, [5.0, 5.0]),  # singleton cluster
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>")
    return rows, df


def test_calinski_harabasz_matches_bruteforce(spark):
    import numpy as np

    from clusterindices_spark.operators.indices import calinski_harabasz_of

    rows, df = ext_fixture(spark)
    X, lab = _np_points(rows)
    g = X.mean(axis=0)
    ks = np.unique(lab)
    B = sum(
        (lab == k).sum() * ((X[lab == k].mean(axis=0) - g) ** 2).sum() for k in ks
    )
    W = sum(((X[lab == k] - X[lab == k].mean(axis=0)) ** 2).sum() for k in ks)
    expected = (B / (len(ks) - 1)) / (W / (len(X) - len(ks)))
    got = calinski_harabasz_of(df).collect()[0]["calinski_harabasz"]
    assert got == pytest.approx(expected, abs=1e-5)


def test_xie_beni_matches_bruteforce(spark):
    import numpy as np

    from clusterindices_spark.operators.indices import xie_beni_of

    rows, df = ext_fixture(spark)
    X, lab = _np_points(rows)
    ks = np.unique(lab)
    cents = {k: X[lab == k].mean(axis=0) for k in ks}
    W = sum(((X[lab == k] - cents[k]) ** 2).sum() for k in ks)
    min2 = min(
        ((cents[i] - cents[j]) ** 2).sum()
        for i in ks
        for j in ks
        if i != j
    )
    expected = W / (len(X) * min2)
    got = xie_beni_of(df).collect()[0]["xie_beni"]
    assert got == pytest.approx(expected, abs=1e-5)


def test_silhouettes_match_bruteforce(spark):
    import numpy as np

    from clusterindices_spark.operators.indices import (
        silhouette_exact_of,
        silhouette_sqeuclid_of,
    )

    rows, df = ext_fixture(spark)
    X, lab = _np_points(rows)
    ks = np.unique(lab)

    # squared-euclidean sufficient statistics, MLlib semantics: own-cluster
    # mean-square distance gets the self-exclusion correction n/(n-1)
    s_sq = []
    for p in range(len(X)):
        msd = {
            k: ((X[p] - X[lab == k].mean(axis=0)) ** 2).sum()
            + (X[lab == k] ** 2).sum(axis=1).mean()
            - (X[lab == k].mean(axis=0) ** 2).sum()
            for k in ks
        }
        n_own = (lab == lab[p]).sum()
        if n_own == 1:
            s_sq.append(0.0)
            continue
        a = msd[lab[p]] * n_own / (n_own - 1)
        b = min(v for k, v in msd.items() if k != lab[p])
        s_sq.append((b - a) / max(a, b) if max(a, b) > 0 else 0.0)
    got_sq = silhouette_sqeuclid_of(df).collect()[0]["silhouette_sqeuclid"]
    assert got_sq == pytest.approx(np.mean(s_sq), abs=1e-5)

    # classical pairwise (self excluded from a)
    s_ex = []
    for p in range(len(X)):
        same = [q for q in range(len(X)) if q != p and lab[q] == lab[p]]
        if not same:
            s_ex.append(0.0)
            continue
        a = np.mean([np.linalg.norm(X[p] - X[q]) for q in same])
        b = min(
            np.mean([np.linalg.norm(X[p] - X[q]) for q in range(len(X)) if lab[q] == k])
            for k in ks
            if k != lab[p]
        )
        s_ex.append((b - a) / max(a, b) if max(a, b) > 0 else 0.0)
    got_ex = silhouette_exact_of(df).collect()[0]["silhouette_exact"]
    assert got_ex == pytest.approx(np.mean(s_ex), abs=1e-5)


def test_silhouette_sqeuclid_matches_mllib(spark):
    """Same closed form as MLlib's ClusteringEvaluator (squaredEuclidean) —
    independent implementations must agree to float precision on the
    fixture embeddings (no singleton clusters there)."""
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    from clusterindices_spark.operators.indices import (
        labeled_points,
        silhouette_sqeuclid_of,
    )

    pts = labeled_points(spark, SF_SMOKE)
    ours = silhouette_sqeuclid_of(pts).collect()[0]["silhouette_sqeuclid"]
    ml_df = pts.select(
        array_to_vector(F.col("x")).alias("features"),
        F.col("cluster").cast("int").alias("prediction"),
    )
    theirs = ClusteringEvaluator(
        featuresCol="features",
        predictionCol="prediction",
        metricName="silhouette",
        distanceMeasure="squaredEuclidean",
    ).evaluate(ml_df)
    assert ours == pytest.approx(theirs, abs=1e-5)


def _cont(spark, rows):
    return spark.createDataFrame(rows, "cluster INT, label INT, n BIGINT")


def test_external_agreement_perfect(spark):
    """Identical partitions → ARI = NMI = 1 and V = 1 (diagonal table)."""
    from clusterindices_spark.operators.assignment import external_agreement

    row = external_agreement(
        _cont(spark, [(0, 0, 30), (1, 1, 20), (2, 2, 50)])
    ).collect()[0]
    assert row["ari"] == pytest.approx(1.0, abs=1e-6)
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert row["cramers_v"] == pytest.approx(1.0, abs=1e-6)
    assert row["n_points"] == 100


def test_external_agreement_independent(spark):
    """Counts exactly proportional to the marginal product (statistical
    independence) → NMI = 0 and V = 0 exactly; ARI is slightly NEGATIVE
    (its expectation is taken over the permutation null, not the
    independence table itself) — asserted against the hand formula."""
    from clusterindices_spark.operators.assignment import external_agreement

    # rows 60/40, cols 50/50, every cell = row*col/N
    row = external_agreement(
        _cont(spark, [(0, 0, 30), (0, 1, 30), (1, 0, 20), (1, 1, 20)])
    ).collect()[0]
    pc = 435 * 2 + 190 * 2  # C(30,2)·2 + C(20,2)·2
    pr, pl, c2n = 1770 + 780, 1225 * 2, 4950.0
    exp = pr * pl / c2n
    assert row["ari"] == pytest.approx((pc - exp) / ((pr + pl) / 2 - exp), abs=1e-6)
    assert row["ari"] < 0
    assert row["nmi"] == pytest.approx(0.0, abs=1e-6)
    assert row["cramers_v"] == pytest.approx(0.0, abs=1e-6)


def test_external_agreement_hand_ari(spark):
    """Hand-computed Hubert–Arabie ARI on the classic 2×2 example."""
    from clusterindices_spark.operators.assignment import external_agreement

    # contingency [[10, 2], [3, 15]]: N=30
    row = external_agreement(
        _cont(spark, [(0, 0, 10), (0, 1, 2), (1, 0, 3), (1, 1, 15)])
    ).collect()[0]
    pc = 45 + 1 + 3 + 105  # C(10,2)+C(2,2? no: C(2,2)... see below
    # C(10,2)=45, C(2,2)=1, C(3,2)=3, C(15,2)=105 -> 154
    pr = 66 + 153  # C(12,2)+C(18,2)
    pl = 78 + 136  # C(13,2)+C(17,2)
    c2n = 435.0  # C(30,2)
    exp = pr * pl / c2n
    ari = (154 - exp) / ((pr + pl) / 2 - exp)
    assert row["ari"] == pytest.approx(ari, abs=1e-6)


def test_ratkowsky_lance_hand_value(spark):
    """1-D hand case duplicated into 2 dims: clusters {0,2} and {10,12} →
    per dim gm=6, BGSS=100, TSS=104, R = sqrt((100/104)/2)."""
    from clusterindices_spark.operators.indices import ratkowsky_lance_of

    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [2.0, 2.0]),
        (2, 1, [10.0, 10.0]),
        (3, 1, [12.0, 12.0]),
    ]
    pts = spark.createDataFrame(
        rows, "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>"
    )
    row = ratkowsky_lance_of(pts).collect()[0]
    assert row["k"] == 2
    assert row["ratkowsky_lance"] == pytest.approx(
        math.sqrt((100.0 / 104.0) / 2.0), abs=1e-6
    )


def test_index_suite_ext_empty_input_yields_nulls(spark):
    """An empty points table must produce NULL indices (DuckDB's x/0 → NULL
    convention), never an ANSI divide-by-zero — the k=0 guard on PBM."""
    from clusterindices_spark.operators.indices import index_suite_ext_of

    pts = spark.createDataFrame(
        [], "vec_id BIGINT, cluster INT, x ARRAY<DOUBLE>"
    )
    rows = index_suite_ext_of(pts).collect()
    assert len(rows) == 1
    assert rows[0]["pbm"] is None


def test_agreement_ext_perfect(spark):
    """Identical partitions → FM = h = c = V = purity = 1."""
    from clusterindices_spark.operators.assignment import agreement_ext

    row = agreement_ext(
        _cont(spark, [(0, 0, 30), (1, 1, 20), (2, 2, 50)])
    ).collect()[0]
    for col in ("fowlkes_mallows", "homogeneity", "completeness", "v_measure", "purity"):
        assert row[col] == pytest.approx(1.0, abs=1e-6), col
    assert row["n_points"] == 100


def test_agreement_ext_independent(spark):
    """Statistical independence → h = c = V = 0; FM equals the marginal
    pair-overlap baseline pc/sqrt(pr·pl); purity = max col share (0.5)."""
    from clusterindices_spark.operators.assignment import agreement_ext

    row = agreement_ext(
        _cont(spark, [(0, 0, 30), (0, 1, 30), (1, 0, 20), (1, 1, 20)])
    ).collect()[0]
    pc = 435 * 2 + 190 * 2
    pr, pl = 1770 + 780, 1225 * 2
    assert row["fowlkes_mallows"] == pytest.approx(pc / math.sqrt(pr * pl), abs=1e-6)
    assert row["homogeneity"] == pytest.approx(0.0, abs=1e-6)
    assert row["completeness"] == pytest.approx(0.0, abs=1e-6)
    assert row["v_measure"] == pytest.approx(0.0, abs=1e-6)
    assert row["purity"] == pytest.approx(0.5, abs=1e-6)


def test_agreement_ext_single_cluster_conventions(spark):
    """One cluster holding every label: H(C) = 0 → completeness := 1
    (sklearn convention); homogeneity = 0; V = 0 (h + c > 0 path)."""
    from clusterindices_spark.operators.assignment import agreement_ext

    row = agreement_ext(_cont(spark, [(0, 0, 50), (0, 1, 50)])).collect()[0]
    assert row["completeness"] == pytest.approx(1.0, abs=1e-6)
    assert row["homogeneity"] == pytest.approx(0.0, abs=1e-6)
    assert row["v_measure"] == pytest.approx(0.0, abs=1e-6)
    assert row["purity"] == pytest.approx(0.5, abs=1e-6)


def test_agreement_ext_hand_vmeasure(spark):
    """sklearn cross-check values for contingency [[10,2],[3,15]]
    (homogeneity_completeness_v_measure on the expanded label vectors)."""
    from clusterindices_spark.operators.assignment import agreement_ext

    row = agreement_ext(
        _cont(spark, [(0, 0, 10), (0, 1, 2), (1, 0, 3), (1, 1, 15)])
    ).collect()[0]
    n = 30.0
    h_l = -(13 / n) * math.log(13 / n) - (17 / n) * math.log(17 / n)
    h_c = -(12 / n) * math.log(12 / n) - (18 / n) * math.log(18 / n)
    h_l_given_c = -sum(
        (nij / n) * math.log(nij / a)
        for nij, a in [(10, 12), (2, 12), (3, 18), (15, 18)]
    )
    h_c_given_l = -sum(
        (nij / n) * math.log(nij / b)
        for nij, b in [(10, 13), (2, 17), (3, 13), (15, 17)]
    )
    h = 1 - h_l_given_c / h_l
    c = 1 - h_c_given_l / h_c
    assert row["homogeneity"] == pytest.approx(h, abs=1e-6)
    assert row["completeness"] == pytest.approx(c, abs=1e-6)
    assert row["v_measure"] == pytest.approx(2 * h * c / (h + c), abs=1e-6)
    assert row["purity"] == pytest.approx(25 / 30, abs=1e-6)
    assert row["fowlkes_mallows"] == pytest.approx(
        154 / math.sqrt((66 + 153) * (78 + 136)), abs=1e-6
    )
