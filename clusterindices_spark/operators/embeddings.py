"""Embedding-column operators (task north star: multimodal / vector columns
at 100 TB). Pure higher-order-function expressions — JVM codegen, no UDFs —
so they are oracle-checkable and run at scan speed.

- embedding_normalize   : L2 unit-normalize each vector (the precursor to
  cosine ANN — normalized vectors make cosine a dot product).
- embedding_quantize_int8: per-vector affine int8 quantization (min/max →
  scale/offset). At 100 TB this is the storage play: 64 float32 dims → 64
  bytes + 2 floats, a 4× reduction before ANN indexing. Quantization uses
  floor(x + 0.5) instead of round() because round()'s half-case convention
  differs across engines (Spark HALF_UP vs DuckDB HALF_EVEN) while floor is
  universal.

Registry output encoding: the driver canonicalizes results with pandas
``sort_values`` over every column, which dies on list-typed cells
(``unhashable type: 'list'`` — CORRECTNESS_r02.json). The registry queries
therefore emit the vector as ONE SORTABLE STRING: each element is scaled to
integer micros via the floor-stable round (floor(x·1e6 + 0.5), the
round6_stable convention) and comma-joined. Integers format identically in
every engine — float→string rendering does not — so the string is a strong
cross-engine check of full array contents AND driver-hashable. The
array-typed variants remain available as the ``normalize_embeddings`` /
``quantize_int8`` library helpers (non-registry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clusterindices_spark.functions.aggregates import SQL_ROUND6
from clusterindices_spark.functions.distances import norm
from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.sources.fixtures import load_table


def normalize_embeddings(emb: DataFrame) -> DataFrame:
    """Library form: L2 unit-normalize, array-typed ``unit`` output."""
    x = F.col("embedding")
    n = norm(x)
    return emb.select(
        "vec_id",
        F.transform(x, lambda v: F.round(v / F.nullif(n, F.lit(0.0)), 6)).alias(
            "unit"
        ),
        F.round(n, 6).alias("l2_norm"),
    )


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Library form: affine int8 quantization, array-typed ``qvec`` output."""
    x = F.col("embedding")
    mn = F.array_min(x)
    mx = F.array_max(x)
    scale = F.nullif(mx - mn, F.lit(0.0))
    q = F.transform(
        x,
        lambda v: (
            F.floor((v - mn) / scale * F.lit(255.0) + F.lit(0.5)) - F.lit(128)
        ).cast("int"),
    )
    return emb.select(
        "vec_id",
        q.alias("qvec"),
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
    )


def _int_csv(arr) -> F.Column:
    """Comma-join an integer array into one sortable STRING cell (identical
    rendering in Spark and DuckDB; concat_ws and array_to_string both skip
    NULL elements, but callers NULL the whole cell on degenerate input so
    element-level NULLs never reach the join)."""
    return F.concat_ws(",", F.transform(arr, lambda v: v.cast("string")))


def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    n = norm(x)
    micros = F.transform(
        x, lambda v: F.floor(v / n * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    )
    return emb.select(
        "vec_id",
        # NULL embedding emits NULL, not concat_ws's '' (r9 hostile edge)
        F.when(x.isNull() | (n == 0.0), F.lit(None).cast("string"))
        .otherwise(_int_csv(micros))
        .alias("unit_micros"),
        F.round(n, 6).alias("l2_norm"),
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    mn = F.array_min(x)
    mx = F.array_max(x)
    q = F.transform(
        x,
        lambda v: (
            F.floor((v - mn) / (mx - mn) * F.lit(255.0) + F.lit(0.5)) - F.lit(128)
        ).cast("int"),
    )
    return emb.select(
        "vec_id",
        # NULL embedding emits NULL, not concat_ws's '' (r9 hostile edge)
        F.when(x.isNull() | (mx == mn), F.lit(None).cast("string"))
        .otherwise(_int_csv(q))
        .alias("qvec_csv"),
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
    )


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring: per-label centroid shift between two deterministic
    halves of the data (vec_id parity stands in for the before/after
    snapshots a production monitor compares). Emits per-label counts and
    the L2 distance between the half-centroids — the alarm signal when an
    upstream embedding model or corpus mix changes.

    Scale: two branches of one scan, each the centroids_of shuffle
    (K×dim×partitions records after map-side combine), then a K-row join —
    broadcastable end to end."""
    from clusterindices_spark.functions.distances import l2
    from clusterindices_spark.operators.indices import centroids_of

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").alias("cluster"), F.col("embedding").alias("x")
    )
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    ca = centroids_of(half_a).select(
        F.col("cluster").alias("label"), F.col("centroid").alias("c_a")
    )
    cb = centroids_of(half_b).select(
        F.col("cluster").alias("label"), F.col("centroid").alias("c_b")
    )
    na = half_a.groupBy(F.col("cluster").alias("label")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    nb = half_b.groupBy(F.col("cluster").alias("label")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    return (
        ca.join(cb, "label")
        .join(F.broadcast(na), "label")
        .join(F.broadcast(nb), "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(l2("c_a", "c_b"), 6).alias("drift"),
        )
    )


PCA_K = 4
PCA_SCALE = 1_000_000  # integer-micro partials: order-free, bit-deterministic


def _batch_xs(batch, dim):
    """Arrow list<float> column → (rows, dim) float64 ndarray, zero-copy
    through the values buffer instead of to_pylist (r7: to_pylist walked
    every element through Python objects — ~1 s/50k×64 vectors; the
    flatten path is the same exact float32→float64 widening, just
    vectorized). Falls back to to_pylist for exotic layouts (nulls,
    non-uniform lengths would raise on the reshape)."""
    import numpy as np  # noqa: PLC0415

    col = batch.column("x")
    try:
        flat = col.flatten().to_numpy(zero_copy_only=False)
        xs = np.asarray(flat, dtype=np.float64)
        if xs.size != len(col) * dim:
            raise ValueError("ragged list column")
        return xs.reshape(-1, dim)
    except Exception:
        return np.asarray(col.to_pylist(), dtype=np.float64)


def pca_fit(emb: DataFrame, k: int = PCA_K):
    """Fit a k-component PCA with the one-pass distributed pattern: each
    partition folds (n, Σx, Σxxᵀ) into INTEGER-micro numpy accumulators
    inside mapInArrow (per-term floor before the sum, so the partials are
    exact int64 and the result is independent of row AND partition order),
    the ≤num_partitions tiny partial rows collect to the driver, and the
    dim×dim eigensolve happens there — the covariance matrix is O(dim²),
    never data-scale. Eigenvector sign is pinned (largest-|coordinate|
    positive) so the decomposition is fully deterministic.

    Returns (components: k×dim ndarray, mean: dim ndarray, evr: k list,
    eigvals: k list of covariance eigenvalues — the whitening scales).
    At 100 TB: the scan is one pass, partials are 4 KB per partition, and
    nothing else grows with n — the canonical big-data PCA shape."""
    import numpy as np
    import pyarrow as pa

    dim = len(emb.select("x").first()["x"])

    def partials(batches):
        n = 0
        s = np.zeros(dim, dtype=np.int64)
        g = np.zeros((dim, dim), dtype=np.int64)
        for batch in batches:
            xs = _batch_xs(batch, dim)
            if xs.size == 0:
                continue
            n += xs.shape[0]
            s += np.floor(xs * PCA_SCALE + 0.5).astype(np.int64).sum(axis=0)
            # per-term floor of every product is the determinism contract.
            # r13: accumulate one Gram ROW at a time instead of the full
            # r×D×D einsum block — the temps shrink D-fold (r×D ≈ 1 MB vs
            # 67 MB at r=2048, D=64), and the floor/astype/sum passes stay
            # in cache: measured 238 → 110 ms per 2048-row chunk,
            # bit-identical int64 partials (same x_ri·x_rj multiply order,
            # same per-term floor; guide §4.2 — vectorize, bound temps)
            for lo in range(0, xs.shape[0], 2048):
                blk = xs[lo : lo + 2048]
                for i in range(dim):
                    outer_i = blk[:, i : i + 1] * blk
                    g[i] += (
                        np.floor(outer_i * PCA_SCALE + 0.5)
                        .astype(np.int64)
                        .sum(axis=0)
                    )
        yield pa.RecordBatch.from_pydict(
            {
                "n": [n],
                "s": [s.tolist()],
                "g": [g.reshape(-1).tolist()],
            }
        )

    parts = emb.select("x").mapInArrow(
        partials, schema="n bigint, s array<bigint>, g array<bigint>"
    )
    rows = parts.collect()  # ≤ num_partitions rows, dim²-scale each
    import numpy as np  # noqa: F811

    n = sum(r["n"] for r in rows)
    s = sum(np.array(r["s"], dtype=np.int64) for r in rows)
    g = sum(np.array(r["g"], dtype=np.int64) for r in rows).reshape(dim, dim)
    mean = s.astype(np.float64) / PCA_SCALE / n
    cov = g.astype(np.float64) / PCA_SCALE / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k×dim
    # sign pin: the coordinate with the largest magnitude is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    tot = float(np.trace(cov))
    evr = [float(vals[o]) / tot for o in order]
    eigvals = [float(vals[o]) for o in order]
    return comps, mean, evr, eigvals


def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the corpus onto its top PCA_K components: fit via
    the one-pass integer-micro partials (pca_fit), then project every
    vector JVM-side — the k×dim component matrix enters the plan as
    literal arrays and each score is a zip_with dot product, so the
    corpus-scale pass is pure codegen (no Python). Approximate-free but
    driver-eigensolve-based → rows-only check; properties (orthonormality,
    variance ordering, determinism, reconstruction) are pinned in
    tests/test_embeddings_pca.py."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # no geometry, no projection (r9)
    ).select("vec_id", F.col("embedding").alias("x"))
    if emb.first() is None:  # empty corpus: nothing to fit (r9 hostile)
        return local_frame(
            spark, [], "vec_id BIGINT, " + ", ".join(
                f"pc{i + 1} DOUBLE" for i in range(PCA_K)
            )
        )
    comps, mean, _, _ = pca_fit(emb)
    mean_lit = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(F.col("x"), mean_lit, lambda a, b: a - b)
    cols = []
    for i, c in enumerate(comps):
        c_lit = F.array(*[F.lit(float(v)) for v in c])
        score = F.aggregate(
            F.zip_with(centered, c_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.round(score, 6).alias(f"pc{i + 1}"))
    return emb.select("vec_id", *cols)


WHITEN_K = 8


def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening projection — the standard embedding preprocessing
    before similarity work (decorrelates dimensions and equalizes their
    variance, so cosine/L2 stop being dominated by a few high-variance
    axes): y = diag(1/√λ) · V_kᵀ · (x − μ) over the top WHITEN_K
    components. Fit rides the SAME one-pass integer Gram partials as
    pca_fit (driver eigensolve is O(D²), never data-scale); the
    projection applies the k×D matrix as literal expressions — pure
    codegen scan, zero shuffle, the q_embedding_pca_project pattern.

    Driver-eigensolve-based → rows-only check (the PCA contract);
    properties pinned in tests/test_embeddings_pca.py: post-whitening
    sample covariance ≈ I_k (diagonal 1, off-diagonal 0 — verified
    against numpy), determinism under repartition, and agreement with a
    direct numpy whitening of the collected vectors.

    Output: (vec_id, w_micros) with the whitened vector comma-joined as
    integer micros (the registry's sortable-string vector encoding)."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # no geometry, no projection (r9)
    ).select("vec_id", F.col("embedding").alias("x"))
    if emb.first() is None:  # empty corpus: nothing to fit (r9 hostile)
        return local_frame(spark, [], "vec_id BIGINT, w_micros STRING")
    comps, mean, _, eigvals = pca_fit(emb, k=WHITEN_K)
    mean_lit = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(F.col("x"), mean_lit, lambda a, b: a - b)
    import math

    cols = []
    for i, c in enumerate(comps):
        lam = max(eigvals[i], 1e-12)  # guard degenerate trailing components
        w = [float(v) / math.sqrt(lam) for v in c]
        w_lit = F.array(*[F.lit(v) for v in w])
        score = F.aggregate(
            F.zip_with(centered, w_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("bigint"))
    return emb.select(
        "vec_id",
        F.concat_ws(
            ",", *[c.cast("string") for c in cols]
        ).alias("w_micros"),
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health profile across the corpus: mean, variance, and
    zero-fraction for each of the 64 dims — the dead-dimension / scale-
    drift detector run before any ANN index build. Moments from exact
    integer-micro sums (order-free); posexplode keys the shuffle by dim
    (64 groups, map-side combined)."""
    from clusterindices_spark.functions.aggregates import round6_stable

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    )
    micros = F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    # milli for the square (micro² overflows at corpus scale — the rolling
    # z-score lesson)
    millis = F.floor(F.col("v") * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    stats = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros).alias("s1"),
        F.sum(millis * millis).alias("s2m"),
        F.sum((F.col("v") == 0.0).cast("bigint")).alias("n_zero"),
    )
    mean = F.col("s1") / F.col("n") / F.lit(1e6)
    var = F.greatest(
        F.col("s2m") / F.col("n") / F.lit(1e6) - mean * mean, F.lit(0.0)
    )
    return stats.select(
        "dim",
        "n",
        round6_stable(F.coalesce(mean, F.lit(0.0))).alias("mean_x"),
        round6_stable(var).alias("var_x"),
        round6_stable(F.col("n_zero") / F.col("n")).alias("zero_frac"),
    )


NORM_TOL = 1e-3  # |l2 − 1| tolerance for the unit-norm contract


def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm contract audit over the whole corpus: ONE row with the
    norm envelope (min/mean/max at 6dp), the count of vectors violating
    |‖x‖ − 1| ≤ 1e-3, zero vectors, and non-finite coordinates — the
    embedding-QA gate run before every index build (an un-normalized or
    NaN-poisoned batch breaks cosine-as-dot silently). The fixture corpus
    IS pre-normalized, so the audit passing with 0 violations over every
    row is the non-trivial assertion. One scan, one 1-row aggregate."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.distances import norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    nm = norm(F.col("x"))
    has_bad = F.exists(
        F.col("x"), lambda v: F.isnan(v) | (F.abs(v) > F.lit(1e30))
    )
    micros = F.floor(nm * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    return emb.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        round6_stable(F.min(nm)).alias("min_norm"),
        (F.sum(micros) / F.count(F.lit(1)) / F.lit(1e6)).alias("mean_norm"),
        round6_stable(F.max(nm)).alias("max_norm"),
        F.sum(
            (F.abs(nm - 1.0) > F.lit(NORM_TOL)).cast("bigint")
        ).alias("n_unnormalized"),
        F.sum((nm == 0.0).cast("bigint")).alias("n_zero_vectors"),
        F.sum(has_bad.cast("bigint")).alias("n_nonfinite"),
    )


MATRYOSHKA_DIM = 32  # audited prefix length (half the fixture dim)


def q_embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much of each vector's energy
    lives in the first MATRYOSHKA_DIM dims — the go/no-go check before
    serving truncated embeddings (an MRL-trained model concentrates energy
    in the prefix; a conventionally-trained one spreads it ≈ uniformly,
    and truncation silently destroys ranking). share = ‖x[:32]‖²/‖x‖²
    per vector (= cos²(x, truncation), so share ≥ 0.5 means the truncated
    vector still points mostly along the original). Per-label: n, exact
    decimal mean of the 6dp shares, min share, fraction ≥ 0.5.

    Scale: pure scan-side HOF arithmetic + one 10-group agg."""
    from clusterindices_spark.functions.aggregates import round6_stable

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("x")
    )
    esum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, v: acc + v * v
    )
    share = esum(F.slice(F.col("x"), 1, MATRYOSHKA_DIM)) / F.nullif(
        esum(F.col("x")), F.lit(0.0)
    )
    s6 = round6_stable(share)
    rows = emb.select("label", s6.alias("share6"))
    return rows.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        round6_stable(
            F.sum(F.col("share6").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_share"),
        F.min("share6").alias("min_share"),
        round6_stable(
            F.sum((F.col("share6") >= 0.5).cast("int"))
            / F.count(F.lit(1))
        ).alias("frac_majority"),
    )


def _bits_word(x, lo: int, hi: int):
    """Pack sign bits of dims [lo, hi) into a BIGINT: bit (i−lo) set when
    x[i] > 0. Folded acc·2+bit from the top dim down — PySpark's shiftleft
    takes only literal shift amounts, the fold needs none."""
    return F.aggregate(
        F.sequence(F.lit(hi - 1), F.lit(lo), F.lit(-1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc * F.lit(2)
        + F.when(F.get(x, i) > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def q_embedding_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization: 64 float dims → two BIGINT words
    (w_lo = dims 0–31, w_hi = 32–63) + positive-dim count — 256 bytes →
    16, the retrieval-at-scale compression tier below int8 (Hamming
    distance on the packed words approximates angular distance on
    unit vectors; see similarity_hamming_topk for the search side).
    Scan-shaped, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    x = F.col("x")
    return emb.select(
        "vec_id",
        _bits_word(x, 0, 32).alias("w_lo"),
        _bits_word(x, 32, 64).alias("w_hi"),
        F.size(F.filter(x, lambda v: v > 0)).alias("n_pos"),
    )


HAMMING_TOP_K = 5
HAMMING_N_PROBES = 10


def q_similarity_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval on the binary sign-bit codes: Hamming distance =
    popcount(xor) over the two packed words — the deterministic,
    fully-oracle-checkable face of approximate search (unlike the
    LSH/IVF tiers, every step here is exact integer arithmetic, so the
    driver hash can gate it). Codes are 16 B/vector; the probe side is
    a broadcast; per-probe top-k rides WindowGroupLimit.

    Recall vs exact cosine is property-tested next to the other ANN
    tiers; at 100 TB this is the memory-resident first pass in front of
    an exact re-rank (the binary-quantization deployment pattern)."""
    from pyspark.sql import Window

    codes = q_embedding_binary_quantize(spark, sf_dir)
    probes = codes.where(F.col("vec_id") < HAMMING_N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("w_lo").alias("p_lo"),
        F.col("w_hi").alias("p_hi"),
    )
    hd = (
        F.bit_count(F.col("w_lo").bitwiseXOR(F.col("p_lo")))
        + F.bit_count(F.col("w_hi").bitwiseXOR(F.col("p_hi")))
    ).cast("int")
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(probes))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", hd.alias("hamming"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= HAMMING_TOP_K)
        .select("probe_id", "neighbor_id", "hamming")
    )


HIST_PROBES = 50
HIST_BINS = 20


def q_embedding_pair_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine histogram over a fixed probe sample × the corpus —
    the separation diagnostic read before choosing ANN parameters (a mass
    near 1.0 means near-dups; mass hugging 0 means near-orthogonal — this
    fixture — and LSH needs more bands). 20 equal bins over [−1, 1];
    probe-sampled, never all-pairs, so the pair count is probes·n at any
    scale and the result is a 20-row table."""
    from clusterindices_spark.functions.aggregates import round6_stable

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    from clusterindices_spark.functions.distances import (
        cosine_sim_hoisted,
        norm,
    )

    # norms hoisted per side, not per probes×n pair (guide §2.3);
    # cosine_sim_hoisted is bit-identical to cosine_sim
    a = emb.where(F.col("vec_id") < HIST_PROBES).select(
        F.col("vec_id").alias("pa"), F.col("x").alias("xa")
    ).withColumn("na", norm(F.col("xa")))
    b = emb.select(
        F.col("vec_id").alias("pb"), F.col("x").alias("xb")
    ).withColumn("nb", norm(F.col("xb")))
    # round6_stable (floor-based), not F.round: cos6 feeds a DISCRETE bin
    # decision, so a .xxxxxx5 half-boundary disagreement between Spark
    # HALF_UP and DuckDB's scaled-multiply ROUND would flip a bin count
    # (ADVICE r5 item 4). Same formulation on the oracle side.
    cos6 = round6_stable(
        cosine_sim_hoisted(F.col("xa"), F.col("xb"), "na", "nb")
    )
    bin_ = F.least(
        F.floor((cos6 + F.lit(1.0)) / F.lit(2.0 / HIST_BINS)),
        F.lit(HIST_BINS - 1),
    ).cast("int")
    return (
        b.crossJoin(F.broadcast(a))
        .where(F.col("pa") != F.col("pb"))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            round6_stable(
                F.lit(-1.0) + F.col("bin") * F.lit(2.0 / HIST_BINS)
            ).alias("bin_lo"),
            round6_stable(
                F.lit(-1.0) + (F.col("bin") + 1) * F.lit(2.0 / HIST_BINS)
            ).alias("bin_hi"),
            "n",
        )
    )


def q_similarity_hamming_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall audit of the binary sign-bit retrieval tier against the
    exact cosine yardstick, per probe — the hash-checkable QA loop for the
    compression tier (same pattern as dedup_minhash_est for MinHash: the
    production tier is approximate, so ship the estimator-vs-exact audit
    as a first-class query the driver can gate bit-exactly — both tiers
    here are deterministic integer/6dp arithmetic). Emits
    (probe_id, n_exact, n_overlap, recall6).

    Scale: both inputs are the existing top-k plans (broadcast probes,
    WindowGroupLimit); the audit itself joins two ≤probes·k-row frames."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.operators.similarity import (
        q_similarity_topk_exact,
    )

    exact = q_similarity_topk_exact(spark, sf_dir)
    ham = q_similarity_hamming_topk(spark, sf_dir)
    # both sides are probes·k rows by construction — broadcast explicitly
    # (post-window stats are unknown to Catalyst, which otherwise plans SMJ)
    hits = (
        exact.select("probe_id", "neighbor_id")
        .join(
            F.broadcast(ham.select("probe_id", "neighbor_id")),
            ["probe_id", "neighbor_id"],
        )
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    spine = exact.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return spine.join(F.broadcast(hits), "probe_id", "left").select(
        "probe_id",
        "n_exact",
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
            "n_overlap"
        ),
        round6_stable(
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint"))
            / F.col("n_exact")
        ).alias("recall6"),
    )


INT8_ERR_PROBES = 10


def q_embedding_int8_cosine_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-error audit for the int8 storage tier: per probe, the
    distribution of |cos(exact) − cos(int8-dequantized)| over the whole
    corpus — the number that decides whether a recall-critical stage may
    read the 4×-smaller int8 copy instead of float32. Same per-vector
    min-max affine code as embedding_quantize_int8 (s = ⌊(v−mn)/(mx−mn)
    ·255 + 0.5⌋, v̂ = s/255·(mx−mn) + mn); every step is deterministic
    double arithmetic mirrored in the oracle, so the audit is
    hash-gateable even though it audits a lossy tier.

    Scale: probes·n pair work (probe side broadcast), one probe-keyed agg
    — the mean rides exact integer micro-sums (no float accumulation
    order), only the final division floats."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.distances import (
        cosine_sim_hoisted,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    mn = F.array_min(F.col("x"))
    mx = F.array_max(F.col("x"))
    deq = F.transform(
        F.col("x"),
        lambda v: F.floor((v - mn) / (mx - mn) * F.lit(255.0) + F.lit(0.5))
        / F.lit(255.0)
        * (mx - mn)
        + mn,
    )
    pts = emb.where(mx > mn).select("vec_id", "x", deq.alias("d"))
    # both the exact and the dequantized norms hoisted per side — four
    # fewer O(dim) HOF folds per probes×n pair (guide §2.3); bit-identical
    a = pts.where(F.col("vec_id") < INT8_ERR_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("x").alias("xa"),
        F.col("d").alias("da"),
        norm(F.col("x")).alias("nxa"),
        norm(F.col("d")).alias("nda"),
    )
    b = pts.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("x").alias("xb"),
        F.col("d").alias("db"),
        norm(F.col("x")).alias("nxb"),
        norm(F.col("d")).alias("ndb"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    err6 = r6(
        F.abs(
            r6(cosine_sim_hoisted(F.col("xa"), F.col("xb"), "nxa", "nxb"))
            - r6(cosine_sim_hoisted(F.col("da"), F.col("db"), "nda", "ndb"))
        )
    )
    err_micros = F.floor(err6 * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    return (
        b.crossJoin(F.broadcast(a))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", err_micros.alias("em"))
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            round6_stable(
                F.sum("em") / F.count(F.lit(1)) / F.lit(1e6)
            ).alias("mean_abs_err"),
            round6_stable(F.max("em") / F.lit(1e6)).alias("max_abs_err"),
        )
    )


def _dim_cov_finalize(s: DataFrame) -> DataFrame:
    """Shared cov/corr arithmetic over per-pair INTEGER sufficient stats
    (dim_a, dim_b, n, sa, sb, sab, saa, sbb): one double-op sequence used
    by BOTH the Gram-partial production path and the self-join
    definitional twin, so the two paths cannot drift by an ulp. Mirrors
    the DuckDB oracle expression for expression."""
    from clusterindices_spark.functions.aggregates import round6_stable

    n = F.col("n").cast("double")
    mean_a = F.col("sa") / n / F.lit(1e6)
    mean_b = F.col("sb") / n / F.lit(1e6)
    cov = F.col("sab") / n / F.lit(1e6) - mean_a * mean_b
    var_a = F.greatest(
        F.col("saa") / n / F.lit(1e6) - mean_a * mean_a, F.lit(0.0)
    )
    var_b = F.greatest(
        F.col("sbb") / n / F.lit(1e6) - mean_b * mean_b, F.lit(0.0)
    )
    corr = cov / F.nullif(F.sqrt(var_a * var_b), F.lit(0.0))
    return s.select(
        "dim_a",
        "dim_b",
        "n",
        round6_stable(cov).alias("cov"),
        round6_stable(F.coalesce(corr, F.lit(0.0))).alias("corr"),
    )


def dim_covariance_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFINITIONAL twin of q_embedding_dim_covariance (the
    agg_weighted_median contract): the covariance read straight off the
    posexplode → vec_id self-join → D²/2-group agg definition. Kept for
    gate-SF agreement tests ONLY — at corpus scale the self-join shuffles
    corpus×D exploded rows on both sides, which is exactly the plan the
    production Gram-partial path exists to avoid (VERDICT r6 wrong #1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("u"),
        F.floor(F.col("v") * F.lit(1e3) + F.lit(0.5)).cast("bigint").alias("m"),
    )
    a = ex.select(
        "vec_id",
        F.col("dim").alias("dim_a"),
        F.col("u").alias("ua"),
        F.col("m").alias("ma"),
    )
    b = ex.select(
        "vec_id",
        F.col("dim").alias("dim_b"),
        F.col("u").alias("ub"),
        F.col("m").alias("mb"),
    )
    pairs = a.join(b, "vec_id").where(F.col("dim_a") < F.col("dim_b"))
    s = pairs.groupBy("dim_a", "dim_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ua").alias("sa"),
        F.sum("ub").alias("sb"),
        F.sum(F.col("ma") * F.col("mb")).alias("sab"),
        F.sum(F.col("ma") * F.col("ma")).alias("saa"),
        F.sum(F.col("mb") * F.col("mb")).alias("sbb"),
    )
    return _dim_cov_finalize(s)


def q_embedding_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dimension covariance/correlation audit over the corpus: for
    every dim pair i<j (D(D−1)/2 = 2016 rows at D=64), the exact-integer
    covariance and Pearson correlation — the whitening/PCA QA readout
    (a healthy isotropic embedding space shows |corr| ≈ 0 off-diagonal;
    a collapsed or rotated batch lights up immediately). Complements
    embedding_dim_stats, which sees only the diagonal.

    Determinism: all five sufficient sums are integer (milli-quantized
    values for products — micro² would overflow BIGINT at corpus scale,
    the dim_stats lesson — micro sums for the means), accumulated
    per-partition so they are row- AND partition-order-free; the cov/corr
    arithmetic (_dim_cov_finalize) is the same double-op sequence both
    engines run, then round6_stable.

    Scale (VERDICT r6 wrong #1, closed): ONE corpus pass through the same
    mapInArrow integer Gram partials the PCA path uses — each partition
    folds (n, Σu, Σmmᵀ) into int64 numpy accumulators (~33 KB at D=64),
    ≤num_partitions partial rows collect to the driver, and the D²/2 pair
    expansion is a LOCAL 2016-row relation. ZERO data-scale exchange — the
    old posexplode → vec_id self-join (corpus×D rows shuffled on both
    sides) survives only as dim_covariance_selfjoin, the definitional twin
    asserted bit-identical at gate SFs in tests.

    NOTE: the driver-collect-then-local-relation shape means CONSTRUCTING
    this plan already runs the full corpus Gram pass (first() + mapInArrow
    collect) — callers that only want to explain/audit still pay one scan.
    Accepted: the returned plan itself is exchange-free by design and the
    audit suite budgets for it."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # oracle's unnest drops NULLs too
    ).select(F.col("embedding").alias("x"))
    first = emb.first()
    if first is None:  # empty corpus → empty 8-column frame (ADVICE r7)
        return local_frame(
            spark, [],
            "dim_a INT, dim_b INT, n BIGINT, sa BIGINT, sb BIGINT, "
            "sab BIGINT, saa BIGINT, sbb BIGINT",
        ).transform(_dim_cov_finalize)
    dim = len(first["x"])

    def partials(batches):
        n = 0
        su = np.zeros(dim, dtype=np.int64)
        g = np.zeros((dim, dim), dtype=np.int64)
        for batch in batches:
            xs = _batch_xs(batch, dim)
            if xs.size == 0:
                continue
            n += xs.shape[0]
            # identical quantization to the twin's posexplode columns:
            # u = floor(v·1e6+0.5) feeds the means, m = floor(v·1e3+0.5)
            # feeds the product sums
            su += np.floor(xs * 1e6 + 0.5).astype(np.int64).sum(axis=0)
            m = np.floor(xs * 1e3 + 0.5)
            # float64 BLAS gemm instead of numpy's loop-based int64 matmul:
            # EXACT because every milli product ≤ ~1e7 and per-batch sums
            # ≤ ~1e11 ≪ 2^53 — integers in float64 stay integers
            g += (m.T @ m).astype(np.int64)
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "su": [su.tolist()], "g": [g.reshape(-1).tolist()]}
        )

    rows = emb.mapInArrow(
        partials, schema="n bigint, su array<bigint>, g array<bigint>"
    ).collect()  # ≤ num_partitions rows, D²-scale each
    total_n = sum(r["n"] for r in rows)
    su = sum(np.array(r["su"], dtype=np.int64) for r in rows)
    g = sum(np.array(r["g"], dtype=np.int64) for r in rows).reshape(dim, dim)
    stats = [
        (
            i,
            j,
            int(total_n),
            int(su[i]),
            int(su[j]),
            int(g[i, j]),
            int(g[i, i]),
            int(g[j, j]),
        )
        for i in range(dim)
        for j in range(i + 1, dim)
    ]
    # list-built on purpose: the plan audit and a test pin Scan ExistingRDD here
    s = spark.createDataFrame(
        stats,
        "dim_a INT, dim_b INT, n BIGINT, sa BIGINT, sb BIGINT, "
        "sab BIGINT, saa BIGINT, sbb BIGINT",
    )
    return _dim_cov_finalize(s)


RP_OUT_DIM = 16
RP_IN_DIM = 64
RP_HASH_ROW = 131
RP_HASH_KNUTH = 2654435761
RP_HASH_MOD = 1000003


def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Achlioptas sparse random projection 64→16: y = √(3/k)·Sᵀx with
    S ∈ {+1, −1, 0} at probabilities {1/6, 1/6, 2/3}, the signs drawn from
    the PORTABLE Knuth hash h(i,j) = ((i·131 + j)·2654435761) mod 1000003
    (h%6 → sign) so the "random" matrix is reproducible in plain SQL — the
    projection needs NO training pass (vs PCA) and preserves pairwise
    distances to JL tolerance.

    Exactness: inputs quantize to integer micros u = floor(v·1e6 + 0.5)
    once, the 64×16 sign matmul runs in float64 BLAS on integer values
    (products ≤ ~1.3e8 ≪ 2^53 — exact, the Gram-partials lesson), and
    only the final √(3/k)·s/1e6 rendering is float, floor-micro'd in the
    identical op order on both engines. The oracle is the DEFINITIONAL
    unnest → sign-table join → per-(vec,j) sum.

    Scale: per-row mapInArrow with a driver-built 1 KB constant matrix —
    ZERO exchanges, embarrassingly parallel; the oracle twin's
    corpus×64-exploded join exists only inside DuckDB at gate SFs.
    """
    import math

    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # oracle's unnest drops NULLs too
    ).select("vec_id", F.col("embedding").alias("x"))
    dim = RP_IN_DIM
    ii = np.arange(dim, dtype=np.int64)[:, None]
    jj = np.arange(RP_OUT_DIM, dtype=np.int64)[None, :]
    h = ((ii * RP_HASH_ROW + jj) * RP_HASH_KNUTH) % RP_HASH_MOD
    sgn = np.where(h % 6 == 0, 1.0, np.where(h % 6 == 1, -1.0, 0.0))
    scale = math.sqrt(3.0 / RP_OUT_DIM)

    def project(batches):
        import pyarrow.compute as pc

        def _emit(ids_g, xs, d):
            # oracle's sign join is INNER on i, so a length-d row projects
            # its first min(d, 64) components
            d_eff = min(d, dim)
            u = np.floor(xs[:, :d_eff] * 1e6 + 0.5)  # integer micros
            acc = u @ sgn[:d_eff]  # exact: integer values ≪ 2^53
            val = np.floor((acc / 1e6) * scale * 1e6 + 0.5) / 1e6
            n, k = val.shape
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids_g, k), type=pa.int64()),
                    pa.array(
                        np.tile(np.arange(k, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    pa.array(val.reshape(-1), type=pa.float64()),
                ],
                names=["vec_id", "out_dim", "val"],
            )

        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            col = batch.column("x")
            if len(col) == 0:
                continue
            # corpus dim measured PER ROW, not from row 0 (ADVICE r10:
            # probing row 0 meant a leading empty-list row silently
            # dropped the WHOLE batch, where the oracle's unnest drops
            # only that row; mixed dims within one batch hit the ragged
            # to_pylist fallback, which raises on inhomogeneous lists).
            # Rows group by length; each group projects its own
            # min(d, 64) components — exactly the oracle's INNER-join-
            # on-i semantics. Zero-length rows emit nothing, matching
            # the unnest of an empty list.
            lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            lens = np.asarray(lens, dtype=np.int64)
            uniq = np.unique(lens[lens > 0])
            if uniq.size == 0:
                continue
            if uniq.size == 1 and int(uniq[0]) * len(col) == int(lens.sum()):
                # uniform-dim fast path: zero-copy flatten reshape
                yield _emit(ids, _batch_xs(batch, int(uniq[0])), int(uniq[0]))
                continue
            pylist = col.to_pylist()
            for d in uniq:
                idx = np.nonzero(lens == d)[0]
                xs = np.asarray([pylist[i] for i in idx], dtype=np.float64)
                yield _emit(ids[idx], xs, int(d))

    return emb.mapInArrow(
        project, schema="vec_id bigint, out_dim int, val double"
    )


QUERIES = {
    "embedding_random_projection": q_embedding_random_projection,
    "embedding_dim_covariance": q_embedding_dim_covariance,
    "embedding_pair_distance_hist": q_embedding_pair_distance_hist,
    "embedding_matryoshka": q_embedding_matryoshka,
    "embedding_binary_quantize": q_embedding_binary_quantize,
    "similarity_hamming_topk": q_similarity_hamming_topk,
    "embedding_normalize": q_embedding_normalize,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "embedding_centroid_drift": q_embedding_centroid_drift,
    "embedding_pca_project": q_embedding_pca_project,
    "embedding_whiten": q_embedding_whiten,  # rows-only (driver eigensolve)
    "embedding_dim_stats": q_embedding_dim_stats,
    "embedding_norm_audit": q_embedding_norm_audit,
    "similarity_hamming_recall_audit": q_similarity_hamming_recall_audit,
    "embedding_int8_cosine_err": q_embedding_int8_cosine_err,
}

_X = "CAST(embedding AS DOUBLE[])"
_NORM = f"sqrt(list_sum(list_transform({_X}, v -> v * v)))"

# sign-bit word: SUM over i of bit << i replays Spark's acc·2+bit fold
_BQ_WORD = (
    "CAST(list_sum(list_transform(range({n}), "
    "i -> CASE WHEN {x}[{lo} + i + 1] > 0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)
_BQ_LO = _BQ_WORD.format(n=32, lo=0, x="x")
_BQ_HI = _BQ_WORD.format(n=32, lo=32, x="x")

_COS_E = (
    "(list_sum(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]))"
    " / NULLIF(sqrt(list_sum(list_transform({a}, v -> v * v)))"
    " * sqrt(list_sum(list_transform({b}, v -> v * v))), 0.0))"
)

# exact-cosine top-k uses the SAME probe-set/k constants as the Hamming
# tier (interpolated, never hardcoded — ADVICE r5 item 2's drift class)
_R6_ERR = SQL_ROUND6.format(
    x=(
        f"abs({SQL_ROUND6.format(x=_COS_E.format(a='a.x', b='b.x'))}"
        f" - {SQL_ROUND6.format(x=_COS_E.format(a='a.d', b='b.d'))})"
    )
)

ORACLES = {
    "embedding_random_projection": f"""
WITH x AS (
  SELECT vec_id,
         unnest(range(len({_X}))) AS i,
         unnest({_X}) AS v
  FROM embeddings
),
q AS (
  SELECT vec_id, i,
         CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS u
  FROM x
),
s AS (
  SELECT i, j,
         CASE ((i * {RP_HASH_ROW} + j) * {RP_HASH_KNUTH}) % {RP_HASH_MOD} % 6
           WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn
  FROM range({RP_IN_DIM}) t(i), range({RP_OUT_DIM}) u(j)
),
p AS (
  SELECT q.vec_id, s.j,
         CAST(SUM(q.u * s.sgn) AS BIGINT) AS acc
  FROM q JOIN s USING (i) GROUP BY q.vec_id, s.j
)
SELECT vec_id, CAST(j AS INT) AS out_dim,
       {SQL_ROUND6.format(x=f"(CAST(acc AS DOUBLE) / 1000000.0) * sqrt(3.0 / {RP_OUT_DIM})")}
         AS val
FROM p
""",
    "embedding_dim_covariance": f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id,
         unnest(range(len({_X}))) AS dim,
         unnest({_X}) AS v
  FROM embeddings
),
q AS (
  SELECT vec_id, dim,
         CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS u,
         CAST(floor(v * 1000.0 + 0.5) AS BIGINT) AS m
  FROM ex
),
s AS (
  SELECT a.dim AS dim_a, b.dim AS dim_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a.u) AS BIGINT) AS sa,
         CAST(SUM(b.u) AS BIGINT) AS sb,
         CAST(SUM(a.m * b.m) AS BIGINT) AS sab,
         CAST(SUM(a.m * a.m) AS BIGINT) AS saa,
         CAST(SUM(b.m * b.m) AS BIGINT) AS sbb
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim < b.dim
  GROUP BY 1, 2
),
m AS (
  SELECT dim_a, dim_b, n,
         sa / CAST(n AS DOUBLE) / 1000000.0 AS mean_a,
         sb / CAST(n AS DOUBLE) / 1000000.0 AS mean_b,
         sab / CAST(n AS DOUBLE) / 1000000.0 AS eab,
         greatest(saa / CAST(n AS DOUBLE) / 1000000.0
                  - (sa / CAST(n AS DOUBLE) / 1000000.0)
                    * (sa / CAST(n AS DOUBLE) / 1000000.0), 0.0) AS var_a,
         greatest(sbb / CAST(n AS DOUBLE) / 1000000.0
                  - (sb / CAST(n AS DOUBLE) / 1000000.0)
                    * (sb / CAST(n AS DOUBLE) / 1000000.0), 0.0) AS var_b
  FROM s
)
SELECT dim_a, dim_b, n,
       {SQL_ROUND6.format(x="eab - mean_a * mean_b")} AS cov,
       {SQL_ROUND6.format(x="COALESCE((eab - mean_a * mean_b) / NULLIF(sqrt(var_a * var_b), 0.0), 0.0)")}
         AS corr
FROM m
""",
    "similarity_hamming_recall_audit": f"""
WITH pts AS (SELECT vec_id, {_X} AS x FROM embeddings),
ex AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY ROUND({_COS_E.format(a='a.x', b='b.x')}, 6) DESC,
                      b.vec_id) AS rn
    FROM pts a JOIN pts b
      ON a.vec_id < {HAMMING_N_PROBES} AND a.vec_id <> b.vec_id
  ) WHERE rn <= {HAMMING_TOP_K}
),
codes AS MATERIALIZED (
  SELECT vec_id, {_BQ_LO} AS w_lo, {_BQ_HI} AS w_hi FROM pts
),
hm AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY bit_count(xor(c.w_lo, p.w_lo))
                      + bit_count(xor(c.w_hi, p.w_hi)) ASC, c.vec_id) AS rn
    FROM codes c JOIN codes p
      ON p.vec_id < {HAMMING_N_PROBES} AND c.vec_id <> p.vec_id
  ) WHERE rn <= {HAMMING_TOP_K}
)
SELECT e.probe_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       {SQL_ROUND6.format(x="CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS recall6
FROM ex e LEFT JOIN hm h
  ON e.probe_id = h.probe_id AND e.neighbor_id = h.neighbor_id
GROUP BY e.probe_id
""",
    "embedding_int8_cosine_err": f"""
WITH mm AS (
  SELECT vec_id, {_X} AS x,
         list_aggregate({_X}, 'min') AS mn,
         list_aggregate({_X}, 'max') AS mx
  FROM embeddings
),
pts AS MATERIALIZED (
  SELECT vec_id, x,
         list_transform(x, v ->
           floor((v - mn) / (mx - mn) * 255.0 + 0.5) / 255.0 * (mx - mn) + mn
         ) AS d
  FROM mm WHERE mx > mn
),
pairs AS (
  SELECT a.vec_id AS probe_id,
         CAST(floor({_R6_ERR} * 1e6 + 0.5) AS BIGINT) AS em
  FROM pts a JOIN pts b
    ON a.vec_id < {INT8_ERR_PROBES} AND a.vec_id <> b.vec_id
)
SELECT probe_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {SQL_ROUND6.format(x="CAST(SUM(em) AS DOUBLE) / COUNT(*) / 1e6")} AS mean_abs_err,
       {SQL_ROUND6.format(x="CAST(MAX(em) AS DOUBLE) / 1e6")} AS max_abs_err
FROM pairs GROUP BY probe_id
""",
    "embedding_pair_distance_hist": f"""
WITH pts AS (SELECT vec_id, {_X} AS x FROM embeddings),
pairs AS (
  SELECT LEAST(CAST(floor(({SQL_ROUND6.format(x=_COS_E.format(a='a.x', b='b.x'))} + 1.0)
                          / {2.0 / HIST_BINS}) AS INT), {HIST_BINS - 1}) AS bin
  FROM pts a JOIN pts b
    ON a.vec_id < {HIST_PROBES} AND a.vec_id <> b.vec_id
),
h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY bin)
SELECT bin,
       {SQL_ROUND6.format(x=f"-1.0 + bin * {2.0 / HIST_BINS}")} AS bin_lo,
       {SQL_ROUND6.format(x=f"-1.0 + (bin + 1) * {2.0 / HIST_BINS}")} AS bin_hi,
       n
FROM h
""",
    "embedding_matryoshka": f"""
WITH e AS (
  SELECT label,
         list_sum(list_transform(list_slice({_X}, 1, 32), v -> v * v)) AS e_head,
         list_sum(list_transform({_X}, v -> v * v)) AS e_full
  FROM embeddings
),
s AS (
  SELECT label,
         {SQL_ROUND6.format(x="e_head / NULLIF(e_full, 0.0)")} AS share6
  FROM e
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n,
       {SQL_ROUND6.format(x="CAST(SUM(CAST(share6 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)")} AS mean_share,
       MIN(share6) AS min_share,
       {SQL_ROUND6.format(x="CAST(SUM(CASE WHEN share6 >= 0.5 THEN 1 WHEN share6 IS NOT NULL THEN 0 END) AS DOUBLE) / COUNT(*)")} AS frac_majority
FROM s GROUP BY label
""",
    "embedding_binary_quantize": f"""
WITH b AS (SELECT vec_id, {_X} AS x FROM embeddings)
SELECT vec_id,
       {_BQ_LO} AS w_lo,
       {_BQ_HI} AS w_hi,
       CAST(len(list_filter(x, v -> v > 0)) AS INT) AS n_pos
FROM b
""",
    "similarity_hamming_topk": f"""
WITH b AS (SELECT vec_id, {_X} AS x FROM embeddings),
codes AS MATERIALIZED (
  SELECT vec_id, {_BQ_LO} AS w_lo, {_BQ_HI} AS w_hi FROM b
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.w_lo, p.w_lo))
              + bit_count(xor(c.w_hi, p.w_hi)) AS INT) AS hamming
  FROM codes c JOIN codes p ON p.vec_id < {HAMMING_N_PROBES} AND c.vec_id <> p.vec_id
),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY probe_id ORDER BY hamming ASC, neighbor_id) AS rn
  FROM scored
)
SELECT probe_id, neighbor_id, hamming FROM r WHERE rn <= {HAMMING_TOP_K}
""",
    "embedding_dim_stats": f"""
WITH ex AS (
  SELECT CAST(unnest(range(len({_X}))) AS INT) AS dim, unnest({_X}) AS v
  FROM embeddings
),
st AS (
  SELECT dim, COUNT(*) AS n,
         CAST(SUM(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(floor(v * 1e3 + 0.5) AS BIGINT)
                  * CAST(floor(v * 1e3 + 0.5) AS BIGINT)) AS BIGINT) AS s2m,
         CAST(SUM(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM ex GROUP BY dim
)
SELECT dim, n,
       {SQL_ROUND6.format(x="COALESCE(CAST(s1 AS DOUBLE) / n / 1e6, 0.0)")} AS mean_x,
       {SQL_ROUND6.format(x="greatest(CAST(s2m AS DOUBLE) / n / 1e6 - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6), 0.0)")} AS var_x,
       {SQL_ROUND6.format(x="CAST(n_zero AS DOUBLE) / n")} AS zero_frac
FROM st
""",
    "embedding_norm_audit": f"""
WITH wn AS (
  SELECT vec_id, {_NORM} AS l2,
         len(list_filter({_X}, v -> isnan(v) OR abs(v) > 1e30)) > 0 AS has_bad
  FROM embeddings
)
SELECT COUNT(*) AS n_vectors,
       {SQL_ROUND6.format(x="MIN(l2)")} AS min_norm,
       CAST(SUM(CAST(floor(l2 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 1e6 AS mean_norm,
       {SQL_ROUND6.format(x="MAX(l2)")} AS max_norm,
       CAST(SUM(CASE WHEN abs(l2 - 1.0) > 0.001 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unnormalized,
       CAST(SUM(CASE WHEN l2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_vectors,
       CAST(SUM(CASE WHEN has_bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite
FROM wn
""",
    "embedding_normalize": f"""
SELECT vec_id,
       CASE WHEN {_NORM} = 0.0 THEN NULL
            ELSE array_to_string(
                   list_transform({_X},
                     v -> CAST(FLOOR(v / {_NORM} * 1000000.0 + 0.5) AS BIGINT)),
                   ',')
       END AS unit_micros,
       ROUND({_NORM}, 6) AS l2_norm
FROM embeddings
""",
    "embedding_quantize_int8": f"""
SELECT vec_id,
       CASE WHEN list_max({_X}) = list_min({_X}) THEN NULL
            ELSE array_to_string(
                   list_transform({_X},
                     v -> CAST(FLOOR((v - list_min({_X}))
                                     / (list_max({_X}) - list_min({_X}))
                                     * 255.0 + 0.5) AS INT) - 128),
                   ',')
       END AS qvec_csv,
       ROUND(CAST(list_min({_X}) AS DOUBLE), 6) AS q_min,
       ROUND(CAST(list_max({_X}) AS DOUBLE), 6) AS q_max
FROM embeddings
""",
    "embedding_centroid_drift": f"""
WITH pts AS (
  SELECT vec_id, label, {_X} AS x, vec_id % 2 AS half FROM embeddings
),
dimvals AS (
  SELECT label, half, unnest(range(len(x))) AS dim, unnest(x) AS val FROM pts
),
cent AS (
  SELECT label, half, dim, AVG(val) AS m
  FROM dimvals GROUP BY label, half, dim
),
cv AS (
  SELECT label, half, list(m ORDER BY dim) AS c
  FROM cent GROUP BY label, half
),
counts AS (
  SELECT label, half, COUNT(*) AS n FROM pts GROUP BY label, half
)
SELECT a.label,
       (SELECT n FROM counts WHERE label = a.label AND half = 0) AS n_a,
       (SELECT n FROM counts WHERE label = a.label AND half = 1) AS n_b,
       ROUND(list_distance(a.c, b.c), 6) AS drift
FROM cv a JOIN cv b ON a.label = b.label AND a.half = 0 AND b.half = 1
""",
}
