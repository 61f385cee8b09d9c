"""Clustering-validity index suite (reference parity: SURVEY.md §2A).

Implements the four indices of josemarialuna/ClusterIndices — BD-Silhouette,
BD-Dunn, Davies-Bouldin, WSSSE — as DataFrame dataflows. Formula provenance:
Luna-Romera et al., "An approach to validity indices for clustering techniques
in Big Data", Prog. Artif. Intell. 7:81-94 (2018), §3. (/root/reference was
empty at survey time — SURVEY.md §0 — so no file:line citations are possible;
the DuckDB oracle encodes the same formulas and is the correctness authority.)

Pinned formula choices (documented per SURVEY.md §7 "hard parts"):
- BD-Silhouette: per-POINT form. For each point p with own-centroid distance
  a(p) = ‖x_p − c_own‖ and nearest-other-centroid distance
  b(p) = min_{k≠own} ‖x_p − c_k‖, s(p) = (b−a)/max(a,b) (0 when both are 0);
  the index is mean_p s(p).
- BD-Dunn: min inter-centroid distance ÷ max point-to-own-centroid distance.
- Davies-Bouldin: (1/K) Σ_i max_{j≠i} (S_i+S_j)/‖c_i−c_j‖ with
  S_i = mean distance of cluster-i points to c_i.
- WSSSE: Σ_p ‖x_p − c_own‖².

Architecture (the 100 TB posture — SURVEY.md §2A "key architectural
consequence"): the indices are centroid-based, so ONE pass over the points,
``cluster_stats``, is enough:
  (one parquet scan) → (broadcast join against a K-row centroid table)
  → (per-row array math via codegen'd higher-order functions)
  → (one hash aggregation over ≤K groups).
The centroid table is carried as ONE broadcast row holding an
array<struct<cl,c>> of all K centroids, so per-point nearest-other-centroid
needs no n×K shuffle. The rest is arithmetic over K and K² scalars, which
``finish_indices`` does in the driver with the oracle's SQL semantics.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clusterindices_spark.functions.distances import l2, l2sq
from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.sources.fixtures import fan_out, load_table

# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------


def labeled_points(
    spark: SparkSession, sf_dir: str, fan: bool = False
) -> DataFrame:
    """embeddings as (vec_id, cluster, x: array<double>) using ground-truth
    labels as the clustering (SURVEY.md §2A A3 note: index math is
    oracle-checked on GIVEN labels; MLlib fits are property-tested only).

    ``fan=True`` normalizes input parallelism (fixtures.fan_out) and is set
    only by consumers whose plan does heavy per-point work BEFORE any
    shuffle (silhouettes: the distance array vs every centroid builds in
    the scan stage). The suite/centroid paths shuffle immediately
    (posexplode → groupBy), which already spreads the work — for them the
    extra exchange measured as a net loss at sf0.1."""
    df = load_table(spark, sf_dir, "embeddings")
    if fan:
        df = fan_out(df)
    # NULL-vector contract (r9 hostile gate): rows with no embedding carry
    # no geometry — they are excluded from ALL vector math in BOTH engines
    # (the oracle _PREFIX pts CTE filters identically). Without this, a
    # NULL x poisons centroid means/assignments asymmetrically between the
    # engines (edge-variant divergences across the whole validity family).
    return df.where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    ).select(
        "vec_id", F.col("label").alias("cluster"), F.col("embedding").alias("x")
    )


def centroids_of(pts: DataFrame) -> DataFrame:
    """Per-cluster mean vector → (cluster, centroid: array<double>).

    posexplode → groupBy(cluster, dim) avg → re-assemble ordered array.
    Map-side partial aggregation makes the shuffle K×dim×partitions records
    regardless of n — scales linearly in data, constant in shuffle width.
    """
    per_dim = (
        pts.select("cluster", F.posexplode("x").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.avg("val").alias("m"))
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def _centroid_row(cents: DataFrame) -> DataFrame:
    """All K centroids folded into ONE row: (cents: array<struct<cl,c>>),
    broadcastable so per-point math against every centroid is shuffle-free."""
    return cents.agg(
        F.collect_list(
            F.struct(F.col("cluster").alias("cl"), F.col("centroid").alias("c"))
        ).alias("cents")
    )


def with_dist_array(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """pts + ``d2s: array<struct<cl,d2>>`` — squared distance from each row's
    vector to every centroid, via one broadcast join against the 1-row
    folded-centroid table. Shared by the index suite and assignment."""
    joined = pts.crossJoin(F.broadcast(_centroid_row(cents)))
    d2s = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            s["cl"].alias("cl"), l2sq(F.col("x"), s["c"]).alias("d2")
        ),
    )
    return joined.withColumn("d2s", d2s).drop("cents")


def point_metrics(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-point distance frame: (vec_id, cluster, d_own, d2_own,
    d_nearest_other). One broadcast nested-loop join against a 1-row table;
    all distance math is codegen'd HOF expressions."""
    with_d2s = with_dist_array(pts, cents)
    own2 = F.get(
        F.filter(F.col("d2s"), lambda s: s["cl"] == F.col("cluster")), 0
    )["d2"]
    other2 = F.array_min(
        F.transform(
            F.filter(F.col("d2s"), lambda s: s["cl"] != F.col("cluster")),
            lambda s: s["d2"],
        )
    )
    return with_d2s.select(
        "vec_id",
        "cluster",
        F.sqrt(own2).alias("d_own"),
        own2.alias("d2_own"),
        F.sqrt(other2).alias("d_nearest_other"),
    )


def centroid_pair_dists(cents: DataFrame) -> DataFrame:
    """K×K inter-centroid distance matrix (i ≠ j) — K² rows, trivially
    broadcast; this is the O(K²) driver-side arithmetic of the reference
    re-expressed as a tiny self-join."""
    a = cents.select(F.col("cluster").alias("i"), F.col("centroid").alias("ca"))
    b = cents.select(F.col("cluster").alias("j"), F.col("centroid").alias("cb"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("i") != F.col("j"))
        .select("i", "j", l2("ca", "cb").alias("dist"))
    )


def _silhouette_col() -> F.Column:
    g = F.greatest(F.col("d_own"), F.col("d_nearest_other"))
    return F.when(g > 0, (F.col("d_nearest_other") - F.col("d_own")) / g).otherwise(
        F.lit(0.0)
    )


def cluster_stats(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """The one pass over the points that every index needs: K rows
    (cluster, n, s_sum, ss, max_d, s_i) — point count, Σ silhouette, Σ d²,
    max d and mean d to the own centroid."""
    return point_metrics(pts, cents).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_silhouette_col()).alias("s_sum"),
        F.sum("d2_own").alias("ss"),
        F.max("d_own").alias("max_d"),
        F.avg("d_own").alias("s_i"),
    )


# The driver finish over K or K² scalars keeps the SQL aggregates'
# semantics: NULLs are skipped, an all-NULL input gives NULL, a sum is the
# left fold from 0.0 (Python's sum() is not) and NaN orders above +Inf.


def double_order_key(v: float) -> tuple:
    """Sort key of Spark's double ordering: NaN above +Inf, -0.0 == 0.0."""
    return (True, 0.0) if math.isnan(v) else (False, v)


def _sql_sum(vals) -> float | None:
    acc = None
    for v in vals:
        if v is not None:
            acc = (0.0 if acc is None else acc) + v
    return acc


def _sql_avg(vals) -> float | None:
    vals = [v for v in vals if v is not None]
    return _sql_sum(vals) / len(vals) if vals else None


def _sql_extreme(pick, vals) -> float | None:
    """SQL MAX (``pick=max``) or MIN (``pick=min``)."""
    vals = [v for v in vals if v is not None]
    return pick(vals, key=double_order_key) if vals else None


def sql_div(a: float | None, b: float | None) -> float | None:
    """``a / NULLIF(b, 0.0)`` with NULL propagation."""
    return None if a is None or b is None or b == 0.0 else a / b


_ROUND_CTX = Context(prec=400)  # every finite double quantizes to 1e-6 exactly
_MICRO = Decimal("1e-6")


def round6(v: float | None) -> float | None:
    """Spark's ROUND(v, 6) on a double: HALF_UP applied to
    java.math.BigDecimal.valueOf(v), i.e. to the shortest decimal string of
    v (Python's repr), not to its binary value — 1.0000005 rounds up to
    1.000001. NaN and ±Inf pass through, and a zero result is unsigned
    (BigDecimal has no -0)."""
    if v is None or not math.isfinite(v):
        return v
    return float(Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP, _ROUND_CTX)) + 0.0


def _l2_fold(a, b) -> float | None:
    """``l2(a, b)`` with the HOF's semantics: a NULL array, a NULL element or
    a length mismatch (zip_with pads with NULL) gives NULL; the squares are
    summed as the left fold ((0 + t0²) + t1²) + … ."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return math.sqrt(acc)


def finish_indices(stats, cents) -> tuple:
    """(k, bd_silhouette, bd_dunn, davies_bouldin, wssse) from the collected
    ``cluster_stats`` rows and the (cluster, centroid) pairs, as the oracle
    computes them: pairs i ≠ j of non-NULL cluster ids; Davies-Bouldin over
    the clusters with stats; sums in cluster order (partitioning-free);
    ratios through NULLIF(…, 0.0); every value ROUND(…, 6)."""
    stats = sorted(stats, key=lambda r: (r["cluster"] is not None, r["cluster"]))
    cents = [(cl, c) for cl, c in cents if cl is not None]
    s_sum = _sql_sum(r["s_sum"] for r in stats)
    bd_silhouette = None if s_sum is None else s_sum / sum(r["n"] for r in stats)
    dists = [(i, j, _l2_fold(a, b)) for i, a in cents for j, b in cents if i != j]
    bd_dunn = sql_div(
        _sql_extreme(min, (d for _, _, d in dists)),
        _sql_extreme(max, (r["max_d"] for r in stats)),
    )
    s_i = {r["cluster"]: r["s_i"] for r in stats if r["cluster"] is not None}
    ratios: dict = {}
    for i, j, d in dists:
        if i in s_i and j in s_i:
            pair = None if s_i[i] is None or s_i[j] is None else s_i[i] + s_i[j]
            ratios.setdefault(i, []).append(sql_div(pair, d))
    davies_bouldin = _sql_avg(
        _sql_extreme(max, ratios[i]) for i in sorted(ratios)
    )
    wssse = _sql_sum(r["ss"] for r in stats)
    return (len(stats), *map(round6, (bd_silhouette, bd_dunn, davies_bouldin, wssse)))


def index_suite(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """All four indices from ONE pass over the points (SURVEY.md §4.1: one
    groupBy(cluster) agg feeds every index), finished in the driver.

    Returns a 1-row DataFrame
    (k, bd_silhouette, bd_dunn, davies_bouldin, wssse).
    """
    spark = pts.sparkSession
    cent_rows = cents.collect()
    local = local_frame(spark, cent_rows, cents.schema)
    stats = cluster_stats(pts, local).collect()
    return local_frame(
        spark, [finish_indices(stats, cent_rows)],
        "k BIGINT, bd_silhouette DOUBLE, bd_dunn DOUBLE, davies_bouldin DOUBLE, "
        "wssse DOUBLE",
    )


# ---------------------------------------------------------------------------
# queries() entries (driver contract) — each self-contained, aliased to match
# the oracle SQL exactly (driver sorts columns by name before hashing)
# ---------------------------------------------------------------------------


def q_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    return (
        pts.select("cluster", F.posexplode("x").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )


def q_intra_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    pm = point_metrics(pts, centroids_of(pts))
    return pm.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg("d_own"), 6).alias("mean_dist"),
        F.round(F.max("d_own"), 6).alias("max_dist"),
        F.round(F.sum("d2_own"), 6).alias("sum_sq"),
    )


def q_inter_centroid_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    pairs = centroid_pair_dists(centroids_of(pts))
    return pairs.agg(F.round(F.min("dist"), 6).alias("min_inter_dist"))


def q_bd_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    pm = point_metrics(pts, centroids_of(pts))
    return pm.agg(F.round(F.avg(_silhouette_col()), 6).alias("bd_silhouette"))


def q_bd_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    cents = centroids_of(pts)
    pm = point_metrics(pts, cents)
    min_inter = centroid_pair_dists(cents).agg(F.min("dist").alias("min_inter"))
    max_own = pm.agg(F.max("d_own").alias("max_d_own"))
    return min_inter.crossJoin(max_own).select(
        F.round(
            F.col("min_inter") / F.nullif(F.col("max_d_own"), F.lit(0.0)), 6
        ).alias("bd_dunn")
    )


def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    cents = centroids_of(pts)
    pm = point_metrics(pts, cents)
    s = pm.groupBy("cluster").agg(F.avg("d_own").alias("s_i"))
    sa = s.select(F.col("cluster").alias("i"), F.col("s_i").alias("si"))
    sb = s.select(F.col("cluster").alias("j"), F.col("s_i").alias("sj"))
    return (
        centroid_pair_dists(cents)
        .join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            ((F.col("si") + F.col("sj")) / F.nullif(F.col("dist"), F.lit(0.0))).alias("r"),
        )
        .groupBy("i")
        .agg(F.max("r").alias("r_i"))
        .agg(F.round(F.avg("r_i"), 6).alias("davies_bouldin"))
    )


def q_wssse(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    pm = point_metrics(pts, centroids_of(pts))
    return pm.agg(F.round(F.sum("d2_own"), 6).alias("wssse"))


def q_index_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = labeled_points(spark, sf_dir)
    return index_suite(pts, centroids_of(pts))


# ---------------------------------------------------------------------------
# extended validity indices (beyond the reference's four): Calinski-Harabasz,
# Xie-Beni, and silhouette in both its scale form (squared-Euclidean via
# per-cluster sufficient statistics — the closed form MLlib's
# ClusteringEvaluator uses, O(n·K) with a broadcast K-row table) and its
# exact pairwise form (O(n²) ground-truth tier, same role as
# ngram_jaccard_pairs for the LSH dedup tiers).
# ---------------------------------------------------------------------------


def _global_centroid_row(pts: DataFrame) -> DataFrame:
    """1-row (g: array<double>) — the all-points mean vector."""
    return (
        pts.select(F.posexplode("x").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.avg("val").alias("gm"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "gm"))),
                lambda s: s["gm"],
            ).alias("g")
        )
    )


def calinski_harabasz_of(pts: DataFrame) -> DataFrame:
    """CH = (B/(K−1)) / (W/(n−K)); B = Σ_i n_i·‖c_i − c̄‖², W = WSSSE.
    B comes from the K-row centroid table against a broadcast 1-row global
    centroid — no extra pass over the points beyond the WSSSE scan."""
    cents = centroids_of(pts)
    counts = pts.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_i"))
    b = (
        cents.join(F.broadcast(counts), "cluster")
        .crossJoin(F.broadcast(_global_centroid_row(pts)))
        .agg(F.sum(F.col("n_i") * l2sq(F.col("centroid"), F.col("g"))).alias("b"))
    )
    w = point_metrics(pts, cents).agg(
        F.sum("d2_own").alias("w"), F.count(F.lit(1)).alias("n")
    )
    k = cents.agg(F.count(F.lit(1)).alias("k"))
    return (
        b.crossJoin(w)
        .crossJoin(k)
        .select(
            F.round(
                (F.col("b") / F.nullif((F.col("k") - 1).cast("double"), F.lit(0.0)))
                / F.nullif(
                    F.col("w")
                    / F.nullif((F.col("n") - F.col("k")).cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("calinski_harabasz")
        )
    )


def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calinski_harabasz_of(labeled_points(spark, sf_dir))


def xie_beni_of(pts: DataFrame) -> DataFrame:
    """XB = WSSSE / (n · min_{i≠j}‖c_i−c_j‖²) — compactness over the worst
    centroid separation; all inputs already exist as K-scale frames."""
    cents = centroids_of(pts)
    w = point_metrics(pts, cents).agg(
        F.sum("d2_own").alias("w"), F.count(F.lit(1)).alias("n")
    )
    min_inter = centroid_pair_dists(cents).agg(F.min("dist").alias("min_inter"))
    return w.crossJoin(min_inter).select(
        F.round(
            F.col("w")
            / F.nullif(
                F.col("n") * F.col("min_inter") * F.col("min_inter"), F.lit(0.0)
            ),
            6,
        ).alias("xie_beni")
    )


def q_xie_beni(spark: SparkSession, sf_dir: str) -> DataFrame:
    return xie_beni_of(labeled_points(spark, sf_dir))


def silhouette_sqeuclid_of(pts: DataFrame) -> DataFrame:
    """Squared-Euclidean silhouette via per-cluster sufficient statistics:
    meanSqDist(p, C) = ‖x_p − μ_C‖² + (avg_ssq_C − ‖μ_C‖²), so the whole
    index is the existing per-point distance array plus a broadcast K-row
    (cluster, delta, n) correction table — O(n·K), no pairwise join. This is
    the closed form MLlib's ClusteringEvaluator uses, including its
    own-cluster self-exclusion correction a(p) = msd·n/(n−1) (verified
    against ClusteringEvaluator in tests/test_indices.py); singleton
    clusters score 0 by convention."""
    cents = centroids_of(pts)
    nsq = F.aggregate(F.col("x"), F.lit(0.0), lambda a, v: a + v * v)
    cstat = pts.select("cluster", nsq.alias("nsq")).groupBy("cluster").agg(
        F.avg("nsq").alias("avg_ssq"), F.count(F.lit(1)).alias("n_i")
    )
    mnorm = F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, v: a + v * v)
    deltas_row = (
        cstat.join(cents, "cluster")
        .select(
            F.struct(
                F.col("cluster").alias("cl"),
                (F.col("avg_ssq") - mnorm).alias("delta"),
                F.col("n_i").alias("n"),
            ).alias("d")
        )
        .agg(F.collect_list("d").alias("deltas"))
    )
    wd = with_dist_array(pts, cents).crossJoin(F.broadcast(deltas_row))
    own_delta = F.get(
        F.filter(F.col("deltas"), lambda d: d["cl"] == F.col("cluster")), 0
    )
    a = (
        F.get(F.filter(F.col("d2s"), lambda s: s["cl"] == F.col("cluster")), 0)["d2"]
        + own_delta["delta"]
    ) * own_delta["n"] / F.nullif((own_delta["n"] - 1).cast("double"), F.lit(0.0))
    b = F.array_min(
        F.transform(
            F.filter(F.col("d2s"), lambda s: s["cl"] != F.col("cluster")),
            lambda s: s["d2"]
            + F.get(F.filter(F.col("deltas"), lambda d: d["cl"] == s["cl"]), 0)[
                "delta"
            ],
        )
    )
    g = F.greatest(a, b)
    s_p = (
        F.when(own_delta["n"] == 1, F.lit(0.0))
        .when(g > 0, (b - a) / g)
        .otherwise(F.lit(0.0))
    )
    return wd.agg(F.round(F.avg(s_p), 6).alias("silhouette_sqeuclid"))


def q_silhouette_sqeuclid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silhouette_sqeuclid_of(labeled_points(spark, sf_dir, fan=True))


def silhouette_exact_of(
    pts: DataFrame,
    sample_fraction: float | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Classical silhouette, exact pairwise form: a(p) = mean distance to
    the REST of p's cluster, b(p) = min over other clusters of mean distance
    to that cluster. O(n²) — the ground-truth yardstick for
    silhouette_sqeuclid, not the scale path (at 100 TB use the sufficient-
    statistics form; this tier validates it on samples). Guarded: refuses
    inputs beyond the quadratic cap unless an explicit deterministic
    hash-sample is requested (functions/guards.py)."""
    from clusterindices_spark.functions.guards import (
        QUADRATIC_MAX_ROWS,
        cap_quadratic,
    )

    pts = cap_quadratic(
        pts,
        "silhouette_exact",
        "vec_id",
        max_rows=max_rows if max_rows is not None else QUADRATIC_MAX_ROWS,
        sample_fraction=sample_fraction,
    )
    a_side = pts.select(
        F.col("vec_id").alias("pid"), F.col("cluster").alias("pcl"), F.col("x").alias("xa")
    )
    b_side = pts.select(
        F.col("vec_id").alias("qid"), F.col("cluster").alias("qcl"), F.col("x").alias("xb")
    )
    md = (
        a_side.crossJoin(F.broadcast(b_side))
        .where(F.col("pid") != F.col("qid"))
        .groupBy("pid", "pcl", "qcl")
        .agg(F.avg(l2("xa", "xb")).alias("md"))
    )
    per = md.groupBy("pid", "pcl").agg(
        F.max(F.when(F.col("qcl") == F.col("pcl"), F.col("md"))).alias("a"),
        F.min(F.when(F.col("qcl") != F.col("pcl"), F.col("md"))).alias("b"),
    )
    g = F.greatest(F.col("a"), F.col("b"))
    s_p = (
        F.when(F.col("a").isNull(), F.lit(0.0))
        .when(g > 0, (F.col("b") - F.col("a")) / g)
        .otherwise(F.lit(0.0))
    )
    return per.agg(F.round(F.avg(s_p), 6).alias("silhouette_exact"))


def q_silhouette_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silhouette_exact_of(labeled_points(spark, sf_dir, fan=True))


def index_suite_ext_of(pts: DataFrame) -> DataFrame:
    """Four more validity indices in one fused pass (standard definitions
    per Desgraupes' clusterCrit documentation — public reference):

    - ball_hall       = (1/K) Σ_k WSS_k / n_k   (mean per-cluster dispersion)
    - banfeld_raftery = Σ_k n_k · ln(WSS_k / n_k)
    - pbm             = ((1/K) · (E_T / E_W) · D_B)² with
                        E_T = Σ_i ‖x_i − ḡ‖, E_W = Σ_i d_own,
                        D_B = max inter-centroid distance
    - log_ss_ratio    = ln(BGSS / WGSS)

    Everything reuses the suite's sufficient statistics: one point-scale
    pass for (WSS_k, E_W, n_k), one broadcast 1-row global centroid for
    E_T and BGSS, K-scale arithmetic for the rest — same 100 TB posture
    as index_suite (the added E_T term rides the same broadcast join)."""
    cents = centroids_of(pts)
    pm = point_metrics(pts, cents)
    per_cluster = pm.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("d2_own").alias("wss_k"),
        F.sum("d_own").alias("ew_k"),
    )
    # zero-dispersion clusters (singletons / exact duplicates — routine at
    # high K) contribute 0 to Banfeld-Raftery by convention: unguarded,
    # Spark's log(0) → NULL silently drops the term while DuckDB's ln(0)
    # hard-errors the whole oracle
    banfeld_term = F.when(
        F.col("wss_k") > 0,
        F.col("n_k") * F.log(F.col("wss_k") / F.col("n_k")),
    ).otherwise(F.lit(0.0))
    folded = per_cluster.agg(
        F.count(F.lit(1)).alias("k"),
        F.avg(F.col("wss_k") / F.col("n_k")).alias("ball_hall_raw"),
        F.sum(banfeld_term).alias("banfeld_raw"),
        F.sum("ew_k").alias("e_w"),
        F.sum("wss_k").alias("wgss"),
    )
    g = _global_centroid_row(pts)
    e_t = pts.crossJoin(F.broadcast(g)).agg(
        F.sum(F.sqrt(l2sq(F.col("x"), F.col("g")))).alias("e_t")
    )
    counts = pts.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_i"))
    bgss = (
        cents.join(F.broadcast(counts), "cluster")
        .crossJoin(F.broadcast(g))
        .agg(F.sum(F.col("n_i") * l2sq(F.col("centroid"), F.col("g"))).alias("bgss"))
    )
    d_b = centroid_pair_dists(cents).agg(F.max("dist").alias("d_b"))
    pbm = (
        # k=0 only on an EMPTY input table (global agg still emits its one
        # row): NULL, matching DuckDB's native x/0 → NULL, not an ANSI error
        (F.lit(1.0) / F.nullif(F.col("k").cast("double"), F.lit(0.0)))
        * (F.col("e_t") / F.nullif(F.col("e_w"), F.lit(0.0)))
        * F.col("d_b")
    )
    return (
        folded.crossJoin(e_t)
        .crossJoin(bgss)
        .crossJoin(d_b)
        .select(
            "k",
            F.round("ball_hall_raw", 6).alias("ball_hall"),
            F.round("banfeld_raw", 6).alias("banfeld_raftery"),
            F.round(pbm * pbm, 6).alias("pbm"),
            F.round(
                F.log(F.col("bgss") / F.nullif(F.col("wgss"), F.lit(0.0))), 6
            ).alias("log_ss_ratio"),
        )
    )


def q_index_suite_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    return index_suite_ext_of(labeled_points(spark, sf_dir))


def ratkowsky_lance_of(pts: DataFrame) -> DataFrame:
    """Ratkowsky–Lance index (Ratkowsky & Lance 1978): per dimension j,
    BGSS_j = Σ_k n_k (c_kj − m_j)² and TSS_j = Σ_i (x_ij − m_j)²; with
    c̄² = (1/p) Σ_j BGSS_j/TSS_j the index is c̄ / √K. (The literature
    also carries a mean-of-sqrt variant; this module pins the
    sqrt-of-mean form used by the NbClust/clusterCrit tradition, and the
    DuckDB oracle encodes the identical formula.) Larger is better; the
    1/√K penalty is what turns it into a K-selection criterion.

    Scale: same shuffle topology as centroids_of — one posexplode pass,
    groupBy(cluster, dim) and groupBy(dim) with map-side partial aggs
    (K·p and p groups), global centroid broadcast back over both; every
    post-agg step is p-scale arithmetic."""
    dimvals = pts.select("cluster", F.posexplode("x").alias("dim", "val"))
    gcent = dimvals.groupBy("dim").agg(F.avg("val").alias("gm"))
    cent = dimvals.groupBy("cluster", "dim").agg(
        F.avg("val").alias("m"), F.count(F.lit(1)).alias("n_i")
    )
    cdiff = F.col("m") - F.col("gm")
    bgss = (
        cent.join(F.broadcast(gcent), "dim")
        .groupBy("dim")
        .agg(
            F.sum(F.col("n_i") * cdiff * cdiff).alias("bgss"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    vdiff = F.col("val") - F.col("gm")
    tss = (
        dimvals.join(F.broadcast(gcent), "dim")
        .groupBy("dim")
        .agg(F.sum(vdiff * vdiff).alias("tss"))
    )
    # BGSS_j ≤ TSS_j mathematically; the greatest() guards ulp-negative
    # ratios on dimensions with no between-cluster structure
    ratio = F.greatest(
        F.col("bgss") / F.nullif(F.col("tss"), F.lit(0.0)), F.lit(0.0)
    )
    return (
        bgss.join(tss, "dim")
        .agg(
            F.round(F.sqrt(F.avg(ratio) / F.max("k")), 6).alias(
                "ratkowsky_lance"
            ),
            F.max("k").alias("k"),
        )
    )


def q_ratkowsky_lance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ratkowsky_lance_of(labeled_points(spark, sf_dir))


QUERIES = {
    "centroids_by_label": q_centroids_by_label,
    "intra_cluster_stats": q_intra_cluster_stats,
    "inter_centroid_min": q_inter_centroid_min,
    "bd_silhouette": q_bd_silhouette,
    "bd_dunn": q_bd_dunn,
    "davies_bouldin": q_davies_bouldin,
    "wssse": q_wssse,
    "index_suite": q_index_suite,
    "calinski_harabasz": q_calinski_harabasz,
    "xie_beni": q_xie_beni,
    "silhouette_sqeuclid": q_silhouette_sqeuclid,
    "silhouette_exact": q_silhouette_exact,
    "index_suite_ext": q_index_suite_ext,
    "ratkowsky_lance": q_ratkowsky_lance,
}

# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same math, same rounding, same column names.
# Shared CTE prefix; DuckDB prunes unused CTEs. dim is 0-based in both
# engines (posexplode pos ↔ unnest(range(len(x)))).
# ---------------------------------------------------------------------------

_PREFIX = """
WITH pts AS (
  SELECT vec_id, label AS cluster, CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
),
dimvals AS (
  SELECT vec_id, cluster, unnest(range(len(x))) AS dim, unnest(x) AS val FROM pts
),
cent AS (
  SELECT cluster AS cl, dim, AVG(val) AS m FROM dimvals GROUP BY cluster, dim
),
centvec AS (
  SELECT cl, list(m ORDER BY dim) AS c FROM cent GROUP BY cl
),
pc AS (
  SELECT d.vec_id, d.cluster, c.cl, SUM((d.val - c.m) * (d.val - c.m)) AS d2
  FROM dimvals d JOIN cent c ON d.dim = c.dim
  GROUP BY d.vec_id, d.cluster, c.cl
),
pp AS (
  SELECT vec_id, cluster,
         SQRT(MAX(CASE WHEN cl = cluster THEN d2 END)) AS d_own,
         MAX(CASE WHEN cl = cluster THEN d2 END) AS d2_own,
         SQRT(MIN(CASE WHEN cl <> cluster THEN d2 END)) AS d_nearest_other
  FROM pc GROUP BY vec_id, cluster
),
sil AS (
  SELECT *,
         CASE WHEN GREATEST(d_own, d_nearest_other) > 0
              THEN (d_nearest_other - d_own) / GREATEST(d_own, d_nearest_other)
              ELSE 0.0 END AS s_p
  FROM pp
),
cc AS (
  SELECT a.cl AS i, b.cl AS j, list_distance(a.c, b.c) AS dist
  FROM centvec a JOIN centvec b ON a.cl <> b.cl
),
s AS (
  SELECT cluster, AVG(d_own) AS s_i FROM pp GROUP BY cluster
),
gcent AS (
  SELECT dim, AVG(val) AS gm FROM dimvals GROUP BY dim
),
nn AS (
  SELECT cluster AS cl, COUNT(*) AS n_i FROM pts GROUP BY cluster
),
pnorm AS (
  SELECT vec_id, cluster, list_sum(list_transform(x, v -> v * v)) AS nsq FROM pts
),
mnorm AS (
  SELECT cl, SUM(m * m) AS mn FROM cent GROUP BY cl
),
cdelta AS (
  SELECT c.cl, c.avg_ssq - m.mn AS delta, c.n_i
  FROM (SELECT cluster AS cl, AVG(nsq) AS avg_ssq, COUNT(*) AS n_i
        FROM pnorm GROUP BY cluster) c
  JOIN mnorm m USING (cl)
)
"""

ORACLES = {
    "centroids_by_label": _PREFIX
    + """
SELECT cluster, CAST(dim AS INT) AS dim, ROUND(AVG(val), 6) AS c
FROM dimvals GROUP BY cluster, dim
""",
    "intra_cluster_stats": _PREFIX
    + """
SELECT cluster,
       COUNT(*) AS n_points,
       ROUND(AVG(d_own), 6) AS mean_dist,
       ROUND(MAX(d_own), 6) AS max_dist,
       ROUND(SUM(d2_own), 6) AS sum_sq
FROM pp GROUP BY cluster
""",
    "inter_centroid_min": _PREFIX
    + """
SELECT ROUND(MIN(dist), 6) AS min_inter_dist FROM cc
""",
    "bd_silhouette": _PREFIX
    + """
SELECT ROUND(AVG(s_p), 6) AS bd_silhouette FROM sil
""",
    "bd_dunn": _PREFIX
    + """
SELECT ROUND((SELECT MIN(dist) FROM cc) / NULLIF((SELECT MAX(d_own) FROM pp), 0.0), 6) AS bd_dunn
""",
    "davies_bouldin": _PREFIX
    + """
SELECT ROUND(AVG(r_i), 6) AS davies_bouldin FROM (
  SELECT a.cluster AS i, MAX((a.s_i + b.s_i) / NULLIF(cc.dist, 0.0)) AS r_i
  FROM s a JOIN s b ON a.cluster <> b.cluster
  JOIN cc ON cc.i = a.cluster AND cc.j = b.cluster
  GROUP BY a.cluster
)
""",
    "wssse": _PREFIX
    + """
SELECT ROUND(SUM(d2_own), 6) AS wssse FROM pp
""",
    "index_suite": _PREFIX
    + """
SELECT (SELECT COUNT(*) FROM s) AS k,
       (SELECT ROUND(AVG(s_p), 6) FROM sil) AS bd_silhouette,
       ROUND((SELECT MIN(dist) FROM cc) / NULLIF((SELECT MAX(d_own) FROM pp), 0.0), 6) AS bd_dunn,
       (SELECT ROUND(AVG(r_i), 6) FROM (
          SELECT a.cluster AS i, MAX((a.s_i + b.s_i) / NULLIF(cc.dist, 0.0)) AS r_i
          FROM s a JOIN s b ON a.cluster <> b.cluster
          JOIN cc ON cc.i = a.cluster AND cc.j = b.cluster
          GROUP BY a.cluster
       )) AS davies_bouldin,
       (SELECT ROUND(SUM(d2_own), 6) FROM pp) AS wssse
""",
    "calinski_harabasz": _PREFIX
    + """
SELECT ROUND(
  (b / NULLIF((SELECT COUNT(*) FROM nn) - 1, 0))
  / NULLIF((SELECT SUM(d2_own) FROM pp)
           / NULLIF((SELECT COUNT(*) FROM pts) - (SELECT COUNT(*) FROM nn), 0),
           0.0),
  6) AS calinski_harabasz
FROM (
  SELECT SUM(n_i * bd2) AS b FROM (
    SELECT c.cl, SUM((c.m - g.gm) * (c.m - g.gm)) AS bd2
    FROM cent c JOIN gcent g USING (dim) GROUP BY c.cl
  ) t JOIN nn USING (cl)
)
""",
    "xie_beni": _PREFIX
    + """
SELECT ROUND(
  (SELECT SUM(d2_own) FROM pp)
  / NULLIF((SELECT COUNT(*) FROM pts)
           * (SELECT MIN(dist) FROM cc) * (SELECT MIN(dist) FROM cc), 0.0),
  6) AS xie_beni
""",
    "silhouette_sqeuclid": _PREFIX
    + """
SELECT ROUND(AVG(CASE WHEN n_own = 1 THEN 0.0
                      WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
                      ELSE 0.0 END), 6) AS silhouette_sqeuclid
FROM (
  SELECT m.vec_id, m.cluster,
         MAX(CASE WHEN m.cl = m.cluster
             THEN m.msd * m.n_i / NULLIF(m.n_i - 1, 0) END) AS a,
         MIN(CASE WHEN m.cl <> m.cluster THEN m.msd END) AS b,
         MAX(CASE WHEN m.cl = m.cluster THEN m.n_i END) AS n_own
  FROM (
    SELECT pc.vec_id, pc.cluster, pc.cl, pc.d2 + cd.delta AS msd, cd.n_i
    FROM pc JOIN cdelta cd USING (cl)
  ) m
  GROUP BY m.vec_id, m.cluster
)
""",
    "silhouette_exact": _PREFIX
    + """
SELECT ROUND(AVG(CASE WHEN a IS NULL THEN 0.0
                      WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
                      ELSE 0.0 END), 6) AS silhouette_exact
FROM (
  SELECT pid, pcl,
         MAX(CASE WHEN qcl = pcl THEN md END) AS a,
         MIN(CASE WHEN qcl <> pcl THEN md END) AS b
  FROM (
    SELECT a.vec_id AS pid, a.cluster AS pcl, b.cluster AS qcl,
           AVG(list_distance(a.x, b.x)) AS md
    FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
    GROUP BY 1, 2, 3
  )
  GROUP BY pid, pcl
)
""",
    "index_suite_ext": _PREFIX
    + """
SELECT (SELECT COUNT(*) FROM nn) AS k,
       (SELECT ROUND(AVG(wss_k / n_k), 6)
        FROM (SELECT cluster, COUNT(*) AS n_k, SUM(d2_own) AS wss_k
              FROM pp GROUP BY cluster)) AS ball_hall,
       (SELECT ROUND(SUM(CASE WHEN wss_k > 0
                              THEN n_k * ln(wss_k / n_k) ELSE 0.0 END), 6)
        FROM (SELECT cluster, COUNT(*) AS n_k, SUM(d2_own) AS wss_k
              FROM pp GROUP BY cluster)) AS banfeld_raftery,
       (SELECT ROUND(pbm_raw * pbm_raw, 6) FROM (
          SELECT (1.0 / (SELECT COUNT(*) FROM nn))
                 * ((SELECT SUM(list_distance(p.x, g.g))
                     FROM pts p CROSS JOIN (SELECT list(gm ORDER BY dim) AS g
                                            FROM gcent) g)
                    / NULLIF((SELECT SUM(d_own) FROM pp), 0.0))
                 * (SELECT MAX(dist) FROM cc) AS pbm_raw
       )) AS pbm,
       ROUND(LN(
         (SELECT SUM(n_i * bd2) FROM (
            SELECT c.cl, SUM((c.m - g.gm) * (c.m - g.gm)) AS bd2
            FROM cent c JOIN gcent g USING (dim) GROUP BY c.cl
         ) t JOIN nn USING (cl))
         / NULLIF((SELECT SUM(d2_own) FROM pp), 0.0)), 6) AS log_ss_ratio
""",
    "ratkowsky_lance": _PREFIX
    + """
, rk_b AS (
  SELECT c.dim,
         SUM(n.n_i * (c.m - g.gm) * (c.m - g.gm)) AS bgss,
         COUNT(*) AS k
  FROM cent c JOIN gcent g USING (dim) JOIN nn n USING (cl)
  GROUP BY c.dim
),
rk_t AS (
  SELECT d.dim, SUM((d.val - g.gm) * (d.val - g.gm)) AS tss
  FROM dimvals d JOIN gcent g USING (dim)
  GROUP BY d.dim
)
SELECT ROUND(SQRT(AVG(GREATEST(bgss / NULLIF(tss, 0.0), 0.0)) / MAX(k)), 6)
         AS ratkowsky_lance,
       MAX(k) AS k
FROM rk_b JOIN rk_t USING (dim)
""",
}
