"""K-sweep driver loop (SURVEY.md §2A A3/A12/A13).

Reference parity: ClusterIndices' main program sweeps K over a range, trains
MLlib K-Means per K, computes all four validity indices, and emits a
(K × index × elapsed) results table as CSV (paper §4 methodology: the index
curves elbow/peak at the true K).

This engine does not train MLlib K-Means. ``kmeans_sweep`` (and
``gap_statistic``) run one k-means++/Lloyd loop for all K
(``functions.lloyd``): greedy k-means++ and Lloyd updates on one
deterministic driver sample. An input within the sample cap is the sample,
so the driver finishes every K there: its ``cluster_stats`` — the pass the
index suite needs (SURVEY.md §4.1) — come from the collected array, and
the whole sweep is a count, one Arrow collect and NumPy, with no Python
worker. A larger input runs full ``mapInArrow`` passes over the persisted
points that update every unconverged K at once and emit each final K's
``cluster_stats``. The initialisation differs from MLlib's k-means‖, so the
centroids, and the index values, differ from the reference's on the same
data; the indices of a row are always those of its own final centroids and
nearest-centroid labels. The rest of the suite is arithmetic over K and K²
scalars, finished in the driver (``finish_indices``), as is ``best_k``'s
pick over the K-row table. Every driver-held frame (the per-K centroid
table, the results table, ``best_k``'s rows) goes back into Spark through
``local_frame``, an Arrow ``LocalRelation``: no Python-worker task runs
for it, and collecting a returned frame runs no job.

The bisecting and GMM sweeps (``clusterer_sweep``) keep one MLlib fit plus
one ``cluster_stats`` pass per K.

Not oracle-checked (iterative ML is not SQL-expressible); validated by
property tests: WSSSE decreases in K, and the sweep recovers the true K on
planted well-separated blobs (the paper's C-D-I synthetic methodology).
Note the testdata embeddings fixture does NOT have geometrically separated
label clusters (BD-silhouette ≈ 0 on given labels), so K-recovery is
asserted on planted blobs, not on that fixture.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.functions.lloyd import fit_sweep
from clusterindices_spark.operators.indices import (
    centroids_of,
    cluster_stats,
    double_order_key,
    finish_indices,
    labeled_points,
    round6,
    sql_div,
)


_SWEEP_SCHEMA = (
    "k INT, bd_silhouette DOUBLE, bd_dunn DOUBLE, davies_bouldin DOUBLE, "
    "wssse DOUBLE, time_s DOUBLE"
)
_GAP_SCHEMA = (
    "k INT, log_w DOUBLE, exp_log_w_ref DOUBLE, gap DOUBLE, sd_ref DOUBLE, pick INT"
)


def kmeans_sweep(
    spark: SparkSession,
    sf_dir: str,
    k_min: int = 2,
    k_max: int = 15,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Returns (k, bd_silhouette, bd_dunn, davies_bouldin, wssse, time_s) —
    one row per K, the reference's results-table shape — from one
    k-means++/Lloyd loop for all K (``functions.lloyd``).

    - ``max_iter``: Lloyd updates per K, wherever they run — first on the
      driver sample until its labels stop changing; when the input exceeds
      ``lloyd.SAMPLE_CAP``, any remaining budget on full passes, until the
      labels stop changing.
    - ``seed``: K's k-means++ draws use ``numpy.random.default_rng([seed,
      k])`` over the sample sorted by vec_id, so the draws and the driver
      updates replay identically under any partitioning.
    - ``time_s``: wall seconds from the start of the sweep until that K's
      row was final. Within the sample cap each K is finished in the
      driver in turn, so every K has its own time; above it, Ks finalized
      by the same pass share that pass's time.

    Each row is the index suite of the K final centroids and their
    nearest-centroid labels. Degenerate inputs:

    - ``k_min`` below 2: ``ValueError`` (MLlib's k parameter refused 1 too);
    - empty input or one row: the empty frame;
    - K above the number of distinct points (of the sample, when the input
      exceeds ``lloyd.SAMPLE_CAP``): the sweep stops below that K, as it
      stops at the point count. k-means++ never draws a duplicate
      centroid, so a row for k has k distinct centroids; all-identical
      points give the empty frame;
    - a NaN, ±Inf or NULL coordinate: ``ValueError`` naming a vec_id;
    - vectors of different dimensions: ``ValueError`` naming the
      dimensions;
    - a cluster that empties during the loop keeps its centroid (as MLlib
      does); the row's k still counts it."""
    return clusterer_sweep(spark, sf_dir, "kmeans", k_min, k_max, seed, max_iter)


def write_results_csv(df: DataFrame, path: str) -> None:
    """A13 results sink: single CSV with header (results are K rows — tiny)."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def q_kmeans_sweep_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver check: tiny sweep, index columns only (elapsed time is
    nondeterministic so it is excluded from the checked frame)."""
    return kmeans_sweep(spark, sf_dir, k_min=2, k_max=5, max_iter=10).select(
        "k", "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse"
    )


def best_k(sweep: DataFrame) -> DataFrame:
    """The sweep's decision output (reference parity: the index curves are
    computed so a user can PICK K): one row per index with its chosen K.

    - bd_silhouette, bd_dunn: argmax (higher = better separation)
    - davies_bouldin: argmin (lower = tighter/more separated)
    - wssse: knee — argmax of the drop ratio
      (w[k−1] − w[k]) / (w[k] − w[k+1]). WSSSE decreases monotonically in
      K so argmin is useless; at the true K the incoming drop is
      structural (a real cluster got its own centroid) while the outgoing
      drop is an overfit split, so the ratio spikes. (The additive second
      difference mis-picks when pre-knee drops are still large in absolute
      terms — observed on planted 10-blob data, where it chose 7.)

    The K-row sweep is picked over in the driver, like the reference's own
    selection step, in SQL order: NULLs never win, NaN ranks above +Inf,
    ties go to the lowest k. An index with no non-NULL value (no interior
    elbow in a 2-point sweep; a flat WSSSE) keeps its row with NULL chosen_k
    — consumers key on 'index'."""
    rows = sorted(
        sweep.select("k", "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse")
        .collect(),
        key=lambda r: (r["k"] is not None, r["k"]),
    )
    w = [None] + [r["wssse"] for r in rows] + [None]

    def minus(a, b):
        return None if a is None or b is None else a - b

    def pick(name, values, extreme):
        cands = [(r["k"], v) for r, v in zip(rows, values) if v is not None]
        if not cands:
            return (name, None, None)
        k, v = extreme(cands, key=lambda c: double_order_key(c[1]))
        return (name, k, round6(v))

    out = [
        pick(c, [r[c] for r in rows], extreme)
        for c, extreme in (
            ("bd_silhouette", max), ("bd_dunn", max), ("davies_bouldin", min)
        )
    ]
    elbow = [
        sql_div(minus(w[i], w[i + 1]), minus(w[i + 1], w[i + 2]))
        for i in range(len(rows))
    ]
    out.append(pick("wssse_elbow", elbow, max))
    k_type = sweep.schema["k"].dataType.simpleString()
    return local_frame(
        sweep.sparkSession, out, f"index STRING, chosen_k {k_type}, value DOUBLE"
    )


def q_kmeans_sweep_best_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the per-index K choice over a small sweep."""
    return best_k(kmeans_sweep(spark, sf_dir, k_min=2, k_max=6, max_iter=10))


# ---------------------------------------------------------------------------
# alternative clusterers under the same sweep + index suite (round-3b): the
# reference sweeps MLlib K-Means only; a user comparing algorithms needs the
# same results-table shape for hierarchical (bisecting) and model-based (GMM)
# clusterings. These keep MLlib: persist features once, one JVM fit + one
# pass over the points per K, the index finish in the driver.
# ---------------------------------------------------------------------------


_CLUSTERERS = {
    "bisecting": "BisectingKMeans",
    "gmm": "GaussianMixture",
}
_ALGOS = sorted(["kmeans", *_CLUSTERERS])


def make_clusterer(algo: str, k: int, seed: int, max_iter: int):
    """The unfitted MLlib estimator for one K of an ``algo`` sweep."""
    from pyspark.ml import clustering

    return getattr(clustering, _CLUSTERERS[algo])(
        k=k, seed=seed, maxIter=max_iter, featuresCol="fv"
    )


def index_pass(spark: SparkSession, algo: str, model, pts: DataFrame):
    """(centroid rows, ``cluster_stats`` frame) for one fitted K. The
    centroids enter the plan as a ``local_frame`` LocalRelation that the
    stats pass broadcasts; the stats frame is the one pass over the points,
    which the caller collects before finishing the indices in the driver."""
    pred = (
        model.transform(pts)
        .select("vec_id", model.getPredictionCol(), "x")
        .withColumnRenamed(model.getPredictionCol(), "cluster")
    )
    if algo == "gmm":
        # empirical centroids in the ORIGINAL space (the model's Gaussian
        # means live in PCA space)
        cent_rows = centroids_of(pred).collect()
    else:
        cent_rows = [
            (i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())
        ]
    cents = local_frame(spark, cent_rows, "cluster INT, centroid ARRAY<DOUBLE>")
    return cent_rows, cluster_stats(pred, cents)


def clusterer_sweep(
    spark: SparkSession,
    sf_dir: str,
    algo: str = "bisecting",
    k_min: int = 2,
    k_max: int = 15,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """kmeans_sweep generalized over the MLlib clusterer family.

    algo: 'kmeans' (``kmeans_sweep``: one k-means++/Lloyd loop for all K,
    no MLlib) | 'bisecting' (hierarchical divisive; centroids from the
    model) | 'gmm' (Gaussian mixture; MAP assignment — the index suite then
    measures the HARD clustering the mixture induces).

    GMM path: MLlib's full-covariance EM is numerically fragile in high
    dimension (64-dim fixture embeddings throw breeze
    MatrixNotSymmetricException mid-EM, and per-component covariances go
    singular with few points per dim). Standard practice is dimensionality
    reduction first: the GMM fits in a PCA space (gmm_pca_dim components,
    fit ONCE outside the K loop), while the indices are still evaluated in
    the ORIGINAL space — with empirical per-cluster mean centroids
    (centroids_of), so every algorithm's row measures the same geometry."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    gmm_pca_dim = 8
    if algo not in _ALGOS:
        raise ValueError(f"algo must be one of {_ALGOS}, got {algo!r}")
    if algo == "kmeans":
        fits = fit_sweep(labeled_points(spark, sf_dir), k_min, k_max, seed, max_iter)
        return local_frame(
            spark,
            [
                (f.k, *finish_indices(f.stats, f.cent_rows)[1:], f.time_s)
                for f in fits
            ],
            _SWEEP_SCHEMA,
        )
    pts = (
        labeled_points(spark, sf_dir)
        .withColumn("fv", array_to_vector("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # K capped at the point count (k > n fits refuse); GMM additionally
    # needs >= 2 rows for its covariance. A too-small corpus (fuzz wave-3
    # one:embeddings) degrades to the empty frame, like the r9 empty guard.
    n_pts = pts.count()
    if n_pts < k_min or (algo == "gmm" and n_pts < 2):
        pts.unpersist()
        return local_frame(spark, [], _SWEEP_SCHEMA)
    k_max = min(k_max, n_pts)
    if algo == "gmm":
        n_dim = len(pts.select("x").first()["x"])
        if n_dim > gmm_pca_dim:
            pca = PCA(k=gmm_pca_dim, inputCol="fv", outputCol="pv").fit(pts)
            reduced = (
                pca.transform(pts)
                .drop("fv")
                .withColumnRenamed("pv", "fv")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            reduced.count()  # materialize BEFORE dropping the parent cache
            pts.unpersist()
            pts = reduced
    results = []
    try:
        for k in range(k_min, k_max + 1):
            t0 = time.monotonic()
            model = make_clusterer(algo, k, seed, max_iter).fit(pts)
            cent_rows, stats = index_pass(spark, algo, model, pts)
            # collected here: a traced sweep attributes its
            # `collect at sweep.py` jobs to the index suite
            _, *indices = finish_indices(stats.collect(), cent_rows)
            results.append((k, *indices, round(time.monotonic() - t0, 3)))
    finally:
        pts.unpersist()
    return local_frame(spark, results, _SWEEP_SCHEMA)


def q_bisecting_sweep_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clusterer_sweep(spark, sf_dir, "bisecting", k_min=2, k_max=5, max_iter=10).select(
        "k", "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse"
    )


def q_gmm_sweep_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clusterer_sweep(spark, sf_dir, "gmm", k_min=2, k_max=4, max_iter=10).select(
        "k", "bd_silhouette", "bd_dunn", "davies_bouldin", "wssse"
    )


# ---------------------------------------------------------------------------
# gap statistic (Tibshirani, Walther & Hastie 2001) — the principled best-K
# criterion: compare log W_K on the data against its expectation under a
# uniform null over the feature bounding box.
# ---------------------------------------------------------------------------


def gap_statistic(
    spark: SparkSession,
    sf_dir: str,
    k_min: int = 2,
    k_max: int = 6,
    n_refs: int = 3,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Returns (k, log_w, exp_log_w_ref, gap, sd_ref, pick) — pick=1 on the
    smallest K with gap(K) ≥ gap(K+1) − sd(K+1) (the paper's 1-SE rule;
    the last K never picks since it has no successor to compare).

    Pins: W_K = WSSSE (the paper's eq. 2 pooled-dispersion simplification
    for squared-Euclidean), read as Σd² of each K's final centroids and
    labels from the k-means++/Lloyd loop (``functions.lloyd``, the
    ``kmeans_sweep`` fit; finished in the driver within the sample cap,
    else by its final pass);
    reference datasets are uniform over the per-dim [min,max] bounding
    box, generated DETERMINISTICALLY via xxhash64(vec_id, dim, b) — no
    rand(), so replays and partitionings agree (the curation_split
    convention).

    Degenerate input: the K range ends before the first K whose W_K, on
    the data or on a reference set, is 0 — log W_K is undefined there, and
    every point already sits on a centroid. 15 points on 3 distinct
    positions with K=2..4 give the K=2 row only (pick 0); the sweep itself
    already stops at the distinct-point count.

    Scale: B+1 loops — the data, then each reference set — each fitting
    every K in the same passes; the per-dim bounds are ONE 2·p-value
    aggregate broadcast back as array literals."""
    import math

    from pyspark.sql import functions as F

    base = labeled_points(spark, sf_dir)
    first = base.select("x").first()
    if first is None:  # empty corpus (r9 hostile gate)
        return local_frame(spark, [], _GAP_SCHEMA)
    ndim = len(first["x"])
    bounds = base.select(
        F.array(
            *[F.min(F.get("x", d)) for d in range(ndim)]
        ).alias("lo"),
        F.array(
            *[F.max(F.get("x", d)) for d in range(ndim)]
        ).alias("hi"),
    )

    def _ref(b: int) -> DataFrame:
        # u01(vec_id, dim, b) = pmod(xxhash64(...), 2^20) / 2^20 — pure
        # function of the data, identical under any partitioning
        den = 1 << 20
        return (
            base.select("vec_id")
            .crossJoin(F.broadcast(bounds))
            .select(
                "vec_id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(ndim - 1)),
                    lambda d: F.get("lo", d)
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), d, F.lit(b)), F.lit(den)
                        ).cast("double")
                        / F.lit(float(den))
                    )
                    * (F.get("hi", d) - F.get("lo", d)),
                ).alias("x"),
            )
        )

    def _w(df: DataFrame) -> dict:
        return {f.k: f.wssse for f in fit_sweep(df, k_min, k_max, seed, max_iter)}

    w = _w(base)
    refs = [_w(_ref(b)) for b in range(n_refs)]
    rows = []
    for k in sorted(w):
        # a K missing from a reference sweep, or a zero W_K (no log), ends
        # the range
        if w[k] <= 0 or not all(r.get(k, 0) > 0 for r in refs):
            break
        log_w = math.log(w[k])
        ref_logs = [math.log(r[k]) for r in refs]
        mean_ref = sum(ref_logs) / n_refs
        var_ref = sum((v - mean_ref) ** 2 for v in ref_logs) / n_refs
        sd_ref = math.sqrt(var_ref) * math.sqrt(1.0 + 1.0 / n_refs)
        rows.append((k, log_w, mean_ref, mean_ref - log_w, sd_ref))
    picked = None
    for i in range(len(rows) - 1):
        if rows[i][3] >= rows[i + 1][3] - rows[i + 1][4]:
            picked = rows[i][0]
            break
    out = [
        (k, round(lw, 6), round(mr, 6), round(g, 6), round(sd, 6), int(k == picked))
        for k, lw, mr, g, sd in rows
    ]
    return local_frame(spark, out, _GAP_SCHEMA)


def q_gap_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_statistic(spark, sf_dir, k_min=2, k_max=5, n_refs=3)


QUERIES = {
    "kmeans_sweep_small": q_kmeans_sweep_small,
    "kmeans_sweep_best_k": q_kmeans_sweep_best_k,
    "bisecting_sweep_small": q_bisecting_sweep_small,
    "gmm_sweep_small": q_gmm_sweep_small,
    "gap_statistic": q_gap_statistic,
}

ORACLES: dict[str, str] = {}  # iterative ML — rows-only check by design
