"""Similarity search + multimodal vector stats (SURVEY.md §2C).

- similarity_topk_exact : brute-force cosine top-k for a probe set — the
  correctness baseline, oracle-checked. Probe side is broadcast; ranking is a
  window over (rounded sim, neighbor id) so ties are deterministic in both
  engines.
- dedup_embedding_cosine: near-duplicate pairs by cosine ≥ 0.99 over all
  pairs (oracle-checked ground truth; the LSH tier is the scale path).
- similarity_ann_lsh    : BucketedRandomProjectionLSH over L2-normalized
  vectors (cosine-equivalent ordering), seed=42 — approximate by
  construction → rows-only check + recall property test vs the exact baseline.
- multimodal_vector_stats: per-label embedding stats (reuses the centroid
  machinery — where reference index math and pipeline ops converge).

Scale: exact top-k broadcasts the probes (n·p rows, no shuffle before the
per-probe top-k); at 100 TB swap in the LSH/IVF tier and keep this as the
recall yardstick on samples. The all-pairs cosine tier is O(n²) by definition
and exists only as oracle ground truth.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions.distances import (
    cosine_sim,
    cosine_sim_hoisted,
    l2sq,
    norm,
)
from clusterindices_spark.functions import cellassign as _ck
from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.functions.lloyd import fit_seeded
from clusterindices_spark.sources.fixtures import fan_out, load_table

N_PROBES = 10
TOP_K = 5
# synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51 at
# sf0.01); 0.4 exercises the operator with non-empty output. Real corpora
# would use ~0.95+.
COSINE_DUP_THRESHOLD = 0.4
# fallback placeholder dimension for NULL vectors in the LSH paths when
# the corpus has no non-null vector to measure (fixture dim, FIXTURES.md)
NULL_VEC_PLACEHOLDER_DIM = 64


def _corpus_dim(emb: DataFrame, col: str = "x") -> int:
    """Dimension of the corpus's vectors, read from the first non-null row
    (LIMIT-1 scan — short-circuits at the first qualifying row). Spark's
    UDF pull-out evaluates array_to_vector AND the LSHModel hash UDF below
    the norm>0 filter, so NULL-x rows still flow through both UDFs and
    need a placeholder of the MODEL'S dimension — a hardcoded constant
    crashes the hash on any other-dimension corpus (r10 advice)."""
    row = (
        emb.where(F.col(col).isNotNull())
        .select(F.size(col).alias("d"))
        .first()
    )
    return int(row["d"]) if row is not None else NULL_VEC_PLACEHOLDER_DIM


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: per-row O(dim) vector math on a 1-file scan would run on one
    # core; no-op when the input is already well-partitioned
    return fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("x")
    )


def topk_exact(
    emb: DataFrame, probes: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k neighbors for each probe row (probe side broadcast)."""
    # norms hoisted per side (guide §2.3 / the knn_graph r3 A/B): inline
    # cosine_sim would re-run two O(dim) HOF folds per PAIR for per-row
    # constants; cosine_sim_hoisted is arithmetically identical.
    a = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("x").alias("xa")
    ).withColumn("na", norm(F.col("xa")))
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("x").alias("xb")
    ).withColumn("nb", norm(F.col("xb")))
    sims = (
        b.crossJoin(F.broadcast(a))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                cosine_sim_hoisted(F.col("xa"), F.col("xb"), "na", "nb"), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def q_similarity_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return topk_exact(emb, emb.where(F.col("vec_id") < N_PROBES))


RANGE_TAU = 0.35  # fixture embeddings are near-orthogonal (see
# COSINE_DUP_THRESHOLD note); 0.35 yields a non-trivial answer set at every
# SF. Real corpora would use ~0.8+.


def range_search(
    emb: DataFrame, probes: DataFrame, tau: float = RANGE_TAU
) -> DataFrame:
    """Threshold retrieval (range search): EVERY neighbor with cosine ≥ τ
    per probe — the retrieval mode behind RAG context assembly and
    near-dup candidate pull, where the answer set size is data-dependent
    rather than a fixed k. Probe side broadcasts; the corpus is scanned
    once and the τ-filter runs scan-side, so output is the only thing
    that scales with match density."""
    # norms hoisted per side — see topk_exact; bit-identical quotient
    a = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("x").alias("xa")
    ).withColumn("na", norm(F.col("xa")))
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("x").alias("xb")
    ).withColumn("nb", norm(F.col("xb")))
    return (
        b.crossJoin(F.broadcast(a))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                cosine_sim_hoisted(F.col("xa"), F.col("xb"), "na", "nb"), 6
            ).alias("sim"),
        )
        .where(F.col("sim") >= tau)
    )


def q_similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return range_search(emb, emb.where(F.col("vec_id") < N_PROBES))


MMR_LAMBDA = 0.7  # relevance weight; (1−λ) penalizes redundancy
MMR_POOL = 10  # exact-top-N candidate pool fed to the greedy
MMR_K = 5  # picks per probe


def q_similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: greedy reranking of
    the exact top-MMR_POOL pool — pick 1 = most similar; pick t maximizes
    λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) over the not-yet-picked pool
    (Carbonell-Goldstein '98, the de-dup-the-context step RAG stacks run
    after retrieval).

    r13 shape (guide §8 — decide with small rows): the CORPUS-scale work
    (exact top-MMR_POOL pool per probe, the pool×pool sim matrix) stays
    distributed; the greedy selection itself folds on the driver over the
    collected pool — probes × pool² ≤ N_PROBES·MMR_POOL² rows, a CONSTANT
    of the operator contract independent of corpus size (the same
    sanctioned K-row-fold idiom as the other driver-scale folds in this
    repo). The previous unrolled-plan formulation spent K−1 eager
    localCheckpoints (46 Spark jobs, ~3.2 s min at sf0.1) scheduling
    joins over ≤1000 rows. The fold replicates Spark expression semantics
    exactly — IEEE-754 binary64 arithmetic, floor-stable 6dp rounding,
    max-ignores-NULLs, DESC NULLS LAST / NaN-largest ordering, cid
    tie-break — and the DuckDB oracle still unrolls the greedy
    CTE-for-CTE, so every pick and score stays hash-gated.

    Scale: pool selection is the topk_exact scan; the fold input is
    bounded by construction, never data-scale."""
    import math

    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < N_PROBES)
    # localCheckpoint: pool is read by BOTH the cand collect and the pair
    # tier; without the cut each reference re-runs the CORPUS-scale top-k
    # subtree — measured 19.3 s at sf0.1 vs ~2 s checkpointed.
    cand = (
        topk_exact(emb, probes, k=MMR_POOL)
        .select("probe_id", F.col("neighbor_id").alias("cid"), "sim")
        .localCheckpoint()
    )
    # candidate vectors: corpus scan semi-reduced by the broadcast pool
    pool = (
        emb.select(F.col("vec_id").alias("cid"), F.col("x").alias("xc"))
        .join(F.broadcast(cand), "cid")
        .localCheckpoint()
    )
    # pool norm computed ONCE per pool row, reused by both pair sides
    # (guide §2.3); cosine_sim_hoisted is bit-identical to cosine_sim
    pool_n = pool.withColumn("nc", norm(F.col("xc")))
    a = pool_n.select(
        "probe_id",
        F.col("cid").alias("cid_a"),
        F.col("xc").alias("va"),
        F.col("nc").alias("nva"),
    )
    b = pool_n.select(
        "probe_id",
        F.col("cid").alias("cid_b"),
        F.col("xc").alias("vb"),
        F.col("nc").alias("nvb"),
    )
    pairs = (
        a.join(b, "probe_id")
        .where(F.col("cid_a") != F.col("cid_b"))
        .select(
            "probe_id",
            "cid_a",
            "cid_b",
            F.round(
                cosine_sim_hoisted(F.col("va"), F.col("vb"), "nva", "nvb"), 6
            ).alias("sim_ab"),
        )
    )
    cand_rows = pool.select("probe_id", "cid", "sim").collect()
    pair_rows = pairs.collect()

    # ---- driver-scale greedy fold (bounded: ≤ N_PROBES·MMR_POOL² rows) --
    def _desc_key(v, cid):
        # Spark ORDER BY v DESC, cid ASC: NULLs LAST, NaN sorts as the
        # LARGEST double (first under DESC)
        if v is None:
            return (2, 0.0, cid)
        if isinstance(v, float) and math.isnan(v):
            return (0, 0.0, cid)
        return (1, -v, cid)

    def _r6(x):
        # round6_stable: floor(x·1e6 + 0.5)/1e6 in the same binary64 ops
        return math.floor(x * 1e6 + 0.5) / 1e6

    by_probe: dict = {}
    for r in cand_rows:
        by_probe.setdefault(r["probe_id"], []).append((r["cid"], r["sim"]))
    red_map = {
        (r["probe_id"], r["cid_a"], r["cid_b"]): r["sim_ab"]
        for r in pair_rows
    }
    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    out_rows = []
    for probe in sorted(by_probe):
        cands = by_probe[probe]
        first_cid, first_sim = min(cands, key=lambda c: _desc_key(c[1], c[0]))
        picked = [(first_cid, 1, first_sim, first_sim)]
        sel_ids = {first_cid}
        for t in range(2, MMR_K + 1):
            best = None
            for cid, sim in cands:
                if cid in sel_ids:
                    continue
                present = [
                    red_map[k]
                    for s in sel_ids
                    if (k := (probe, cid, s)) in red_map
                ]
                if not present:
                    # the unrolled plan's INNER join to the pair table:
                    # a candidate with no pair row this step is not a
                    # pick candidate at all
                    continue
                nn = [v for v in present if v is not None]
                if any(isinstance(v, float) and math.isnan(v) for v in nn):
                    red = math.nan  # Spark max: NaN is the largest double
                elif nn:
                    red = max(nn)
                else:
                    red = None  # max over all-NULL group
                score = (
                    None
                    if red is None or sim is None
                    else _r6(lam * sim - om * red)
                )
                key = _desc_key(score, cid)
                if best is None or key < best[0]:
                    best = (key, cid, sim, score)
            if best is None:
                break
            _, cid, sim, score = best
            picked.append((cid, t, sim, score))
            sel_ids.add(cid)
        out_rows.extend(
            (probe, pick, cid, sim, score)
            for cid, pick, sim, score in picked
        )
    return local_frame(
        spark, out_rows,
        "probe_id BIGINT, pick_order INT, neighbor_id BIGINT, "
        "sim DOUBLE, mmr_score DOUBLE",
    )


def dedup_embedding_cosine(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    sample_fraction: float | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup pairs — O(n²) ground-truth yardstick.
    Guarded: refuses inputs beyond the quadratic cap unless an explicit
    deterministic hash-sample is requested (functions/guards.py). The scale
    path is the LSH/IVF tier; this tier validates it on samples."""
    from clusterindices_spark.functions.guards import (
        QUADRATIC_MAX_ROWS,
        cap_quadratic,
    )

    emb = cap_quadratic(
        emb,
        "dedup_embedding_cosine",
        "vec_id",
        max_rows=max_rows if max_rows is not None else QUADRATIC_MAX_ROWS,
        sample_fraction=sample_fraction,
    )
    # r14 (guide §4.2/§8): the n²/2 per-pair interpreted HOF dot was this
    # tier's entire wall (~40 µs × 2M pairs at sf0.1 inside the crossJoin
    # filter). Pairs are now scored in vectorized NumPy left-folds, grouped
    # by unordered id-block pair (g = pmod(vec_id, B)): every row ships
    # through Arrow B times (B·n·dim doubles — 8 MB at sf0.1, vs 2 GB of
    # pair rows), each unordered pair is scored in exactly one group, and
    # the JVM re-applies the ORIGINAL rounded-cosine filter on the emitted
    # (dot, norm) doubles — bit-identical output (oracle hash re-verified;
    # full-output equality at sf0.001/0.01/0.1). NULL-x / NULL-element rows
    # are dropped before the boundary: their HOF dot is NULL ⇒ cosine NULL
    # ⇒ they could never pass ``>=`` (pandas→Arrow cannot carry the
    # NULL-vs-NaN distinction; NaN-bearing rows still flow and keep NaN
    # cosine via the nn flag — Spark compares NaN as largest, so they pass
    # the filter exactly as before).
    from clusterindices_spark.functions.pairdots import (
        PAIR_SCHEMA,
        make_allpairs_fold,
    )

    B = 8  # 36 unordered block pairs — balanced groups at any corpus size
    pts = emb.select("vec_id", "x").where(
        F.col("x").isNotNull() & ~F.exists("x", lambda e: e.isNull())
    )
    rep = pts.select(
        "vec_id",
        "x",
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("g"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("j"),
    ).select(
        "vec_id",
        "x",
        "g",
        F.least("g", "j").alias("bi"),
        F.greatest("g", "j").alias("bj"),
    )
    surv = rep.groupby("bi", "bj").applyInPandas(
        make_allpairs_fold(threshold, B), PAIR_SCHEMA
    )
    cos_parts = F.when(F.col("nn"), F.lit(float("nan"))).otherwise(
        F.round(
            F.col("d") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)), 6
        )
    )
    return surv.select(
        F.col("probe_id").alias("vec_a"),
        F.col("neighbor_id").alias("vec_b"),
        cos_parts.alias("cos"),
    ).where(F.col("cos") >= threshold)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_embedding_cosine(_emb(spark, sf_dir))


def _clusters_from_pairs(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared cluster-construction contract for every semantic-dedup pair
    source: (vec_a, vec_b) edges → large/small-star components → per-vector
    membership (vec_id, component_id, is_canonical, n_members).

    The edge list is handed to the star engine UN-checkpointed: the
    engine's canonicalize step lazily checkpoints it, and its first action
    (the bounded collect that decides between the driver finish and the
    Spark rounds) materializes it, so the pair scan runs exactly once and
    no outer checkpoint adds a full pass over the pair tier (r13). A pair
    graph within LOCAL_CC_EDGES is labelled in the driver."""
    from pyspark.sql import Window as W

    from clusterindices_spark.operators.dedup import (
        connected_components_star,
    )

    comp = connected_components_star(
        emb.select(F.col("vec_id").alias("node")),
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")),
    )
    w = W.partitionBy("component")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("component_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped SEMANTIC deduplication: cluster vectors whose
    cosine crosses the near-dup threshold into connected components and
    elect one canonical representative (min id) per cluster — the
    embedding-space analogue of the text dedup→components pipeline, used
    to drop paraphrases/translations byte-level tiers can't see. Emits
    (vec_id, component_id, is_canonical, n_members) like dedup_components.

    Composition, not new machinery: the exact cosine pair tier feeds the
    large/small-star component engine. This EXACT tier keeps the gate
    hash-exact but is cap_quadratic-guarded — the 100 TB path is
    q_dedup_semantic_clusters_ann below: identical contract, IVF
    cell-co-bucketed edge source (r12), no quadratic anywhere."""
    emb = _emb(spark, sf_dir)
    return _clusters_from_pairs(emb, dedup_embedding_cosine(emb))


def semantic_pairs_ann(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    n_cells: int | None = None,
    n_probe_cells: int = 12,
    hot_cell_factor: int = 8,
) -> DataFrame:
    """Near-dup pair candidates via IVF cell co-bucketing — the
    NON-QUADRATIC edge source for semantic dedup.

    r12 rewrite (scaling-curve sweep finding): the previous MLlib
    BucketedRandomProjectionLSH tier was NOT actually pruning — on unit
    vectors the projection dot lies in [-1, 1], so bucketLength 2.0 put
    the whole corpus into ~2 buckets per table and the self-join was a
    disguised all-pairs (it exhausted 75 GB of shuffle disk at 1M vectors
    on a clustered corpus). Worse, the hazard is not parameter tuning: at
    the loose dedup threshold (cos ≥ 0.4 ⇒ d ≤ 1.10 vs ~1.41 for random
    pairs) p-stable AND hyperplane LSH collision rates for
    threshold-pairs vs random pairs are nearly indistinguishable
    (~0.58 vs ~0.49 per table at w=2) — no bucket scheme separates them.

    The scale-correct candidate tier at a loose threshold is the
    knn_graph machinery: Lloyd IVF cells (sampled fit — constant cost in
    corpus size, ivf_build), each vector probes its ``n_probe_cells``
    nearest cells, and a candidate pair meets when one side's probe set
    contains the other's home cell — an equi-join on cell, never n².
    Survivors are verified with the EXACT tier's own expression
    (round(cosine_sim, 6) ≥ threshold), so false positives are impossible
    and the only approximation is boundary pairs whose cells don't
    overlap (recall floors: ≥0.9 vs the exact tier on gate fixtures,
    identical membership on planted paraphrase clusters —
    tests/test_r6_ops.py; bench recall floor re-verified per round).

    Dense-ball defense (the regime that melted the LSH tier): cells whose
    occupancy exceeds ``hot_cell_factor × n/K`` are STAR-expanded — only
    (min-id hub, member) candidates are emitted — because the downstream
    consumer is connected components, where a verified star connects a
    tight duplicate ball with m−1 edges instead of m²/2. The filter runs
    BEFORE the distinct, so candidate pairs stream through codegen and
    only true pairs ever hit a shuffle.

    Scale: fit is O(sample·K·iters); assignment and probing are one
    broadcast pass each; the candidate join shuffles n(1+p) rows by cell
    and streams n·p·(n/K) pair evaluations — Θ(n^1.5·p) total work at the
    K=√n default, the same documented trade as knn_graph. Returns
    (vec_a, vec_b, cos) with vec_a < vec_b, same contract as
    dedup_embedding_cosine."""
    n_valid = F.col("x").isNotNull() & (norm(F.col("x")) > 0)
    emb_v = emb.where(n_valid).select("vec_id", "x")
    n = emb_v.count()
    if n == 0:
        # MLlib-era contract: empty corpus → empty 3-col frame
        return local_frame(
            emb.sparkSession, [], "vec_a BIGINT, vec_b BIGINT, cos DOUBLE"
        )
    if n_cells is None:
        # WIDE default calibration for the LOOSE default threshold: K =
        # √n/2 cells probed 12-deep clears the ≥0.9 recall floor on every
        # gate/bench fixture (measured r12: 1.00 / 1.00 / 0.93 at
        # sf0.001/0.01/0.1) at Θ(24·n^1.5) work — the price of a τ=0.4
        # "broadly similar" contract over near-orthogonal fixtures, where
        # over-threshold pairs are NOT localized (no bucket scheme
        # separates d≤1.10 from the random d≈1.41; the grid A/B lives in
        # the r12 round notes). At a PRODUCTION dedup threshold (τ ≥ 0.85,
        # tight balls) pass n_probe_cells=2 and n_cells=isqrt(n):
        # planted-cluster membership is exact there at Θ(2·n^1.5) — the
        # knn_graph cost class, and what tools/scaling_curves.py measures.
        n_cells = max(8, math.isqrt(n) // 2)
    folded, index = ivf_build(emb_v, n_cells=n_cells)
    occ = index.groupBy("cell").agg(F.count(F.lit(1)).alias("occ"))
    cap = max(64, hot_cell_factor * max(n // n_cells, 1))
    # r14 (guide §8 — decide with small rows): the hot-cell set is
    # hot-bucket-scale BY CONSTRUCTION (< K/hot_cell_factor cells can
    # exceed hot_cell_factor × the mean), so it is collected once and the
    # plan is specialized on it instead of paying two broadcast anti/semi
    # joins plus the full (empty) hub-tier stage chain on every corpus:
    # no hot cells → the anti-joins are no-ops and the hub tier emits
    # nothing, so both vanish; few hot cells → IN-list filters replace the
    # broadcast joins. Same candidate set row-for-row in every case.
    hot_cells = sorted(
        r["cell"] for r in occ.where(F.col("occ") > cap).collect()
    )
    probe_side = _ck.probe_cells_kernel(
        emb_v, _cents_of(folded.collect()), n_probe_cells, "vec_id", "x"
    )
    idx_n = index
    if hot_cells:
        probe_side = probe_side.where(~F.col("cell").isin(hot_cells))
        idx_n = index.where(~F.col("cell").isin(hot_cells))
    # r14 candidate scoring (guide §4.2): the per-pair interpreted HOF dot
    # (~40 µs × n·p·(n/K) candidates — the family's measured wall) moves to
    # a vectorized per-cell NumPy fold; each side ships through Arrow ONCE,
    # cogrouped by cell. Python emits margin-survivors with their exact
    # (dot, norm) doubles and the decisive expression below re-applies the
    # ORIGINAL rounded-cosine filter in the JVM — bit-identical pair sets
    # (see functions/pairdots.py; full-output equality verified at
    # sf0.001/0.01/0.1).
    from clusterindices_spark.functions.pairdots import (
        PAIR_SCHEMA,
        make_threshold_fold,
    )

    surv = (
        probe_side.groupby("cell")
        .cogroup(idx_n.groupby("cell"))
        .applyInPandas(make_threshold_fold(threshold), PAIR_SCHEMA)
    )
    cos_parts = F.when(F.col("nn"), F.lit(float("nan"))).otherwise(
        F.round(
            F.col("d") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)), 6
        )
    )
    normal = (
        surv.select(
            F.least("probe_id", "neighbor_id").alias("vec_a"),
            F.greatest("probe_id", "neighbor_id").alias("vec_b"),
            cos_parts.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
    if not hot_cells:
        return normal.distinct()
    from clusterindices_spark.functions.distances import dot

    idx_h = index.where(F.col("cell").isin(hot_cells))
    cos = F.round(
        dot(F.col("xa"), F.col("xb"))
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        6,
    )
    hubs = idx_h.groupBy("cell").agg(F.min("neighbor_id").alias("hub"))
    hub_vecs = hubs.join(
        idx_h.select(
            "cell",
            F.col("neighbor_id").alias("hub"),
            F.col("xb").alias("xa"),
        ),
        ["cell", "hub"],
    ).withColumn("na", norm(F.col("xa")))
    hot_pairs = (
        idx_h.withColumn("nb", norm(F.col("xb")))
        .join(hub_vecs, "cell")
        .where(F.col("neighbor_id") != F.col("hub"))
        .select(
            F.least("hub", "neighbor_id").alias("vec_a"),
            F.greatest("hub", "neighbor_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
    return normal.unionByName(hot_pairs).distinct()


def q_dedup_semantic_clusters_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic dedup at 100 TB: the SAME membership contract as
    q_dedup_semantic_clusters, with the quadratic exact pair tier swapped
    for the IVF cell-co-bucket candidate tier (semantic_pairs_ann, r12).
    Rows-only by design — cell assignment is model-specific — with the
    agreement contract pinned in tests: ≥0.9 pair recall and ≥98%
    membership agreement vs the exact tier on the gate fixtures, and
    identical canonical sets on planted paraphrase clusters."""
    emb = _emb(spark, sf_dir)
    return _clusters_from_pairs(emb, semantic_pairs_ann(emb))


def ann_lsh_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = TOP_K,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-projection LSH on unit vectors.
    approxSimilarityJoin prunes to bucket-mates; exact cosine re-ranks the
    survivors. On unit vectors cos = 1 − d²/2, so euclidean LSH ≡ cosine LSH."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # zero-norm vectors have no direction — they can't participate in
    # cosine similarity, so they're filtered out. The normalization must
    # ALSO be total on zero rows: Catalyst merges the norm>0 guard with
    # MLlib's own UDF predicates into one Filter whose conjunct order is
    # unspecified, so the features expression can evaluate on a zero row
    # before the guard conjunct drops it (observed: ANSI DIVIDE_BY_ZERO
    # with a bare division; MLlib's non-null vector assert with nullif).
    # CASE WHEN evaluates branches conditionally per row — the zero row
    # speculatively maps to a valid all-zero vector, then the guard
    # conjunct removes it from every result.
    dim = _corpus_dim(emb)

    def unit(df: DataFrame, idc: str, xc: str) -> DataFrame:
        n = norm(F.col("x"))
        # `safe` must be a NON-NULL, FULL-DIMENSION vector on every row:
        # the UDF pull-out evaluates array_to_vector and the LSH hash UDF
        # below the n>0 filter (r9 hostile edge — array_to_vector(NULL)
        # NPEs; a short placeholder crashes the hash), so filtered-out
        # rows still need a hashable stand-in of the MODEL'S dimension —
        # measured from the corpus (_corpus_dim), never assumed
        safe = F.when(
            n > 0,
            F.transform("x", lambda v: v / n),
        ).otherwise(
            F.transform(
                F.coalesce(
                    F.col("x"),
                    F.array_repeat(F.lit(0.0), dim),
                ),
                lambda v: F.lit(0.0),
            )
        )
        return df.where(n > 0).select(F.col("vec_id").alias(idc), safe.alias(xc))
    a = unit(probes, "probe_id", "xa").select(
        "probe_id", array_to_vector("xa").alias("features")
    )
    b = unit(emb, "neighbor_id", "xb").select(
        "neighbor_id", array_to_vector("xb").alias("features")
    )
    if b.isEmpty():  # MLlib fit crashes on an empty corpus (r9 hostile)
        return b.select(
            F.lit(None).cast("bigint").alias("probe_id"),
            F.lit(None).cast("bigint").alias("neighbor_id"),
            F.lit(None).cast("double").alias("sim"),
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(b)
    joined = model.approxSimilarityJoin(
        a, b, threshold=2.0, distCol="dist"  # unit sphere: bucket pruning only
    )
    sims = joined.select(
        F.col("datasetA.probe_id").alias("probe_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.round(1 - F.col("dist") * F.col("dist") / 2, 6).alias("sim"),
    ).where(F.col("probe_id") != F.col("neighbor_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < N_PROBES))


def _cents_of(rows):
    """(cl, c) list from a collected 1-row folded centroid table."""
    (row,) = rows
    return [(s["cl"], s["c"]) for s in row["cents"]]


def fold_cents_table(cents: DataFrame) -> DataFrame:
    """Fold a K-row (cluster, centroid) table into the 1-row broadcast form."""
    return cents.agg(
        F.collect_list(
            F.struct(F.col("cluster").alias("cl"), F.col("centroid").alias("c"))
        ).alias("cents")
    )


def unfold_cents(folded: DataFrame) -> DataFrame:
    """1-row folded centroids → K-row (cluster, centroid) table."""
    return folded.select(F.explode("cents").alias("s")).select(
        F.col("s.cl").alias("cluster"), F.col("s.c").alias("centroid")
    )


def ivf_build(emb: DataFrame, n_cells: int = 8) -> tuple[DataFrame, DataFrame]:
    """IVF index build: coarse-quantize vectors into ``n_cells`` Voronoi
    cells — fully deterministic, no MLlib randomness.

    The fit is ``lloyd.fit_seeded`` on one driver sample (the whole corpus
    up to ``lloyd.SAMPLE_CAP`` rows, else its ``hash_slice``): one count,
    one ``toArrow()`` collect, then the seeds — the ``n_cells`` lowest
    ``vec_id`` rows of the sample with a usable vector — refined by
    ``lloyd.SEEDED_ITERS`` Lloyd updates in NumPy. A cell that an update
    leaves empty is dropped, and the others keep their seed index as
    ``cl``. The corpus is distance-evaluated once, by the index
    assignment (``cellassign.assign_cells``, one Arrow pass), so the build
    costs O(s·K·iters) driver work plus O(n·K) in Spark.

    Rows with a NULL vector, a NULL or non-finite coordinate, or another
    dimension than most take no part in the fit; the assignment still
    places every row, by the kernel's NULL-distance rule. (When such a row
    was a seed, its NULL distance outranked every real one and its cell
    took every row.)

    Returns ``(folded_cents, index)``: the 1-row folded centroid table
    ``cents ARRAY<STRUCT<cl INT, c ARRAY<DOUBLE>>>`` (``unfold_cents``
    gives the K-row form), a local relation, and the inverted file
    ``(neighbor_id, cell, xb)``. K-row tables only materialize at the
    storage boundary (ivf_write_bucketed).

    ``x`` is cast to ``ARRAY<DOUBLE>`` on entry (a no-op on double input),
    so a float32 or other numeric corpus gets double centroids and
    distances, and its ``xb`` is ``ARRAY<DOUBLE>``."""
    # not persisted: the fit's count and sample collect read ``emb``
    # twice, which costs less than caching it (traced ksweep), and the
    # lazy index re-reads it anyway when its caller runs it
    pts = emb.select("vec_id", F.col("x").cast("array<double>").alias("x"))
    (cents,) = fit_seeded(pts, n_cells)
    folded = local_frame(
        emb.sparkSession, [(cents,)], "cents ARRAY<STRUCT<cl: INT, c: ARRAY<DOUBLE>>>"
    )
    index = _ck.assign_cells(pts, cents, "vec_id", "x").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("x").alias("xb"),
    )
    return folded, index


def _probe_cells(
    probes: DataFrame, folded: DataFrame, n_probe_cells: int
) -> DataFrame:
    """(probe_id, xa, cell_rank, cell) — each probe's n_probe_cells nearest
    cells in rank order, selected with per-row array math over the
    broadcast 1-row folded centroid table (zero shuffle; tie-break
    (d2, cell) matches the window formulation this replaced).

    Probe-constant sites (``_ivf_search``, ``ivf_search_bucketed``,
    ``ivfpq_topk``) stay on this form: there ``probe_cells_kernel`` cost
    24-31% more CPU per 20-probe bucketed query (5k×32, 32 cells, 4-core
    host), its Python stage running for the pruning collect and again for
    the broadcast."""
    return (
        probes.select(F.col("vec_id").alias("probe_id"), F.col("x"))
        .crossJoin(F.broadcast(folded))
        .select(
            "probe_id",
            F.col("x").alias("xa"),
            F.posexplode(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.transform(
                                "cents",
                                lambda s: F.struct(
                                    l2sq(F.col("x"), s["c"]).alias("d2"),
                                    s["cl"].alias("cl"),
                                ),
                            )
                        ),
                        1,
                        n_probe_cells,
                    ),
                    lambda s: s["cl"],
                )
            ).alias("cell_rank", "cell"),
        )
    )


def _ivf_search(
    folded_cents: DataFrame,
    index: DataFrame,
    probes: DataFrame,
    k: int,
    n_probe_cells: int,
) -> DataFrame:
    """Search an IVF index: each probe ranks the broadcast centroid table,
    keeps its ``n_probe_cells`` nearest cells, and scans only those cells'
    inverted lists (equi-join on cell — never a full cross join). Exact
    cosine re-ranks the survivors.

    Cell selection is per-row array math (sort the broadcast d2 structs,
    slice the first n_probe_cells), NOT a row_number window — the window
    formulation shuffled every (probe × cell) row just to rank K broadcast
    cells (measured ~0.6 s of pure stage overhead at sf0.1). array_sort on
    struct(d2, cl) keeps the same (d2, cell) tie-break. The probe side of
    the inverted-list join is broadcast: probes × n_probe_cells rows vs a
    corpus-scale index — at 100 TB the index never shuffles."""
    # norms hoisted per side (probe side: probes×n_probe_cells rows; index
    # side: once per inverted-list row) — bit-identical to inline cosine_sim
    sims = (
        F.broadcast(
            _probe_cells(probes, folded_cents, n_probe_cells).withColumn(
                "na", norm(F.col("xa"))
            )
        )
        .join(index.withColumn("nb", norm(F.col("xb"))), "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                cosine_sim_hoisted(F.col("xa"), F.col("xb"), "na", "nb"), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = TOP_K,
    n_cells: int = 8,
    n_probe_cells: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN — the 100 TB scale path for similarity search.

    Inline build + search (see ivf_build/_ivf_search). At 100 TB the index
    side is written bucketed by cell instead — ivf_write_bucketed /
    ivf_search_bucketed — so the search scans n_probe_cells/n_cells of the
    data with zero shuffle of the big side; n_cells grows to ~sqrt(n) and
    the centroid table stays broadcastable. Approximate by construction →
    rows-only check + recall property test vs topk_exact
    (tests/test_dedup_similarity.py).
    """
    cents, index = ivf_build(emb, n_cells=n_cells)
    return _ivf_search(cents, index, probes, k=k, n_probe_cells=n_probe_cells)


def ivf_write_bucketed(
    emb: DataFrame,
    table: str,
    n_cells: int = 8,
    n_buckets: int | None = None,
) -> None:
    """Persist an IVF index with the inverted file bucketed by ``cell``
    (table ``{table}``) and the centroid table at ``{table}_cents``.

    Build once, search many: the bucket layout moves the by-cell shuffle to
    write time, and search-time point predicates on ``cell`` prune whole
    buckets (SelectedBucketsCount in the scan — tests/test_bucketing.py).
    """
    from clusterindices_spark.sources.bucketing import drop_table, write_bucketed

    folded, index = ivf_build(emb, n_cells=n_cells)
    write_bucketed(index, table, "cell", n_buckets or n_cells)
    spark = emb.sparkSession
    drop_table(spark, f"{table}_cents")
    unfold_cents(folded).write.mode("overwrite").format("parquet").saveAsTable(
        f"{table}_cents"
    )


def ivf_append_bucketed(
    new_emb: DataFrame,
    table: str,
    n_buckets: int | None = None,
) -> int:
    """Incremental index maintenance: absorb NEW vectors into a persisted
    bucketed IVF index WITHOUT retraining — the 100 TB operating mode,
    where the corpus grows continuously and a coarse-quantizer rebuild is
    a scheduled event, not a per-ingest cost.

    New vectors are assigned to their nearest EXISTING cell (one Arrow
    argmin pass against the collected centroid table, zero shuffle) and
    appended with the SAME bucket spec, so bucket pruning keeps holding:
    the appended rows land in their cell's bucket files. Centroids drift
    as data grows — embeddings.centroid_drift is the monitoring signal
    for when to schedule the rebuild. Returns the number of rows appended;
    a centroid table with a NULL ``cluster`` raises ``ValueError``.
    """
    spark = new_emb.sparkSession
    cents = [
        (r["cluster"], r["centroid"])
        for r in spark.table(f"{table}_cents").collect()
    ]
    try:
        assigned = _ck.assign_cells(new_emb, cents, "vec_id", "x")
    except ValueError as e:
        raise ValueError(f"{table}_cents: {e}") from e
    rows = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("x").alias("xb"),
    )
    # Default the bucket count to the EXISTING table's bucket spec, not
    # n_cells: ivf_write_bucketed allows n_buckets != n_cells, and an append
    # with a mismatched spec dies on Spark's bucket-spec AnalysisException
    # (ADVICE r3, low). DESCRIBE EXTENDED carries "Num Buckets" for any
    # bucketed table.
    if n_buckets is not None:
        nb = n_buckets
    else:
        nb = None
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
            if r.col_name.strip() == "Num Buckets":
                nb = int(r.data_type.strip())
                break
        if nb is None:
            raise ValueError(
                f"table {table} has no bucket spec; pass n_buckets explicitly"
            )
    n = rows.count()
    (
        rows.write.mode("append")
        .bucketBy(nb, "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )
    return n


def ivf_search_bucketed(
    spark: SparkSession,
    table: str,
    probes: DataFrame,
    k: int = TOP_K,
    n_probe_cells: int = 4,
) -> DataFrame:
    """Search a persisted bucketed IVF index.

    The probe set first ranks the (tiny) centroid table to pick its cells;
    the union of candidate cells — at most n_probes × n_probe_cells ints —
    becomes an IN-list predicate on the bucketed scan, so whole buckets of
    the inverted file are pruned before the equi-join (the parquet-level
    analogue of IVF's "visit n_probe of n_list postings"). The collect is
    driver-scale by construction: cell ids, not vectors.
    """
    cents = spark.table(f"{table}_cents")
    index = spark.table(table)
    probe_cells = _probe_cells(probes, fold_cents_table(cents), n_probe_cells)
    wanted_cells = sorted(
        r["cell"] for r in probe_cells.select("cell").distinct().collect()
    )
    pruned = index.where(F.col("cell").isin(wanted_cells))
    # norms hoisted per side — see _ivf_search; bit-identical quotient
    sims = (
        F.broadcast(probe_cells.withColumn("na", norm(F.col("xa"))))
        .join(pruned.withColumn("nb", norm(F.col("xb"))), "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                cosine_sim_hoisted(F.col("xa"), F.col("xb"), "na", "nb"), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No fan_out here: IVF's per-row work is an argmin over K broadcast
    # centroids (trivial), so repartitioning a small input only multiplies
    # task count across the build's many tiny stages (A/B at sf0.1:
    # ~0.15 s). At scale the scan arrives well-partitioned and fan_out
    # would be a no-op anyway.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    return ivf_topk(emb, emb.where(F.col("vec_id") < N_PROBES))


IVF_NPROBE_GRID = (1, 2, 4, 8)  # n_cells=8 → the last point is brute force


def q_similarity_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs n_probe_cells — the IVF TUNING TABLE (the ANN analog of
    dedup_minhash_pr_curve): "if I probe p of the 8 cells, what recall do
    I buy for what fraction of the scan?" One row per grid point with the
    hit count against the exact top-k ground truth.

    Single-scan formulation: the search runs ONCE at the max grid nprobe
    with each candidate tagged by the RANK of the cell it came from
    (``_probe_cells``'s cell_rank); recall at p is then a filter
    cell_rank < p + re-rank — the whole curve costs one inverted-list
    join, not |grid| searches. Each neighbor lives in exactly one cell,
    so the slices need no dedup.

    rows-only by design (the xxhash-seeded Lloyd quantizer is engine-
    specific); properties pinned in tests: recall is monotone
    non-decreasing in p, and at p = n_cells (scan everything) the top-k
    equals the exact tier EXACTLY — recall 1.0, identical tie-breaks."""
    from clusterindices_spark.functions.aggregates import round6_stable

    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < N_PROBES)
    k = TOP_K
    max_p = max(IVF_NPROBE_GRID)
    folded, index = ivf_build(emb, n_cells=8)
    ranked = _probe_cells(probes, folded, max_p)
    # r14: the r13 norm hoist is REVERTED at this site — candidates here
    # are only probes × max_p × (n/K) rows (~20k at sf0.1, candidate-scale
    # at any corpus: the probe set is an operator constant), so the hoist
    # saved microseconds of HOF work while its extra projections on both
    # join inputs cost real stage time. Interleaved min-of-7 A/B
    # (reports/adjudicate_r14.md): inline 2.47/2.78 s vs hoisted
    # 2.90/3.32 s (min/median) — the r13 driver regression (2.46 → 2.99 s,
    # PERF_r13) reproduced and bisected to this hoist; outputs identical.
    sims = (
        F.broadcast(ranked)
        .join(index, "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            "cell_rank",
            F.round(cosine_sim(F.col("xa"), F.col("xb")), 6).alias("sim"),
        )
    )
    grid = local_frame(
        spark, [(p,) for p in IVF_NPROBE_GRID], "n_probe_cells INT"
    )
    cand = sims.join(
        F.broadcast(grid), F.col("cell_rank") < F.col("n_probe_cells")
    )
    w = Window.partitionBy("probe_id", "n_probe_cells").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    ivf_k = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "n_probe_cells")
    )
    exact = topk_exact(emb, probes, k=k).select("probe_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    # the ground-truth side is n_probes·k rows — broadcast it so the hit
    # count never sort-merges the candidate set
    hits = ivf_k.join(
        F.broadcast(exact), ["probe_id", "neighbor_id"]
    ).groupBy("n_probe_cells").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        grid.join(F.broadcast(hits), "n_probe_cells", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "n_probe_cells",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            round6_stable(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0))
            ).alias("recall"),
        )
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe_cells: int = 2,
) -> DataFrame:
    """Approximate k-NN GRAPH (every vector is a probe) — the neighbor
    graph behind near-dup clustering, label propagation, and graph-based
    diversity sampling over an embedding corpus.

    All-pairs is O(n²); instead each vector searches only its
    ``n_probe_cells`` nearest IVF cells, and candidates meet by an
    EQUI-JOIN on cell between the probe-expanded corpus and the inverted
    file. Unlike `_ivf_search` (few probes → probe side broadcast), BOTH
    sides here are corpus-scale, so the join shuffles both by cell —
    per-cell fan-out is (n/K)·n_probe_cells, bounded by Lloyd-balanced
    cells; at 100 TB grow n_cells ~ √n so per-cell work stays ~n^1.5/K ≈
    linear per partition. Each (probe, neighbor) candidate meets exactly
    once (the neighbor's home cell is unique in the index), so no dedup
    shuffle is needed before the per-probe top-k, which compiles to
    partial+final WindowGroupLimit — the rank shuffle moves O(n·k) rows,
    not all candidates. Approximate by construction (boundary neighbors in
    unprobed cells are missed) → rows-only check + recall property test
    vs brute force.

    ``n_cells=None`` enacts the √n sizing this docstring used to only
    advise: K = max(16, isqrt(n)) balances the O(n·K) assignment against
    the O(n·p·n/K) candidate join at ~n^1.5 total — the r10 hostile-scale
    gate showed a FIXED K is quadratic (n²·p/K) on any corpus big enough,
    hot blob or not (tools/scale_stress.py knn arm measures the A/B).
    The registry key keeps K=16 for stable gate/bench artifacts at gate
    SFs, where 16 > isqrt(n) anyway.

    NULL/zero-norm contract (r10): vectors with no direction are excluded
    from BOTH sides — as probes they'd emit all-NULL sims ranked below
    every real candidate (junk rows), and as index members they'd pad
    candidate lists with NULL-sim noise; the exact/LSH tiers already
    exclude them, so the graph tiers now agree."""
    n_valid = F.col("x").isNotNull() & (norm(F.col("x")) > 0)
    emb = emb.where(n_valid)
    if n_cells is None:
        import math

        n_cells = max(16, math.isqrt(emb.count()))
    folded, index = ivf_build(emb, n_cells=n_cells)
    # r14 candidate scoring (guide §4.2/§8): the cell equi-join's per-pair
    # interpreted HOF dot (the measured wall of this key — ~40 µs ×
    # n·p·(n/K) candidates inside the join filter) moves to a vectorized
    # per-cell NumPy fold; each side crosses the Arrow boundary ONCE,
    # cogrouped by cell. Python emits, per (probe, cell), the raw top-k
    # padded by a rounding margin — provably a superset of the global
    # top-k (each candidate meets in exactly one cell; see
    # functions/pairdots.py) — and the JVM re-derives the ORIGINAL rounded
    # sim and runs the same top-k window, so the emitted graph is
    # bit-identical (full-output equality verified at sf0.001/0.01/0.1).
    # The rank shuffle still moves only O(n·k) rows (WindowGroupLimit).
    from clusterindices_spark.functions.pairdots import (
        PAIR_SCHEMA,
        make_topk_fold,
    )

    probe_side = _ck.probe_cells_kernel(
        emb, _cents_of(folded.collect()), n_probe_cells, "vec_id", "x"
    )
    surv = (
        probe_side.groupby("cell")
        .cogroup(index.groupby("cell"))
        .applyInPandas(make_topk_fold(k), PAIR_SCHEMA)
    )
    sim = F.when(F.col("nn"), F.lit(float("nan"))).otherwise(
        F.round(
            F.col("d") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)), 6
        )
    )
    cand = surv.select("probe_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def q_similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    return knn_graph(emb)


def q_similarity_knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The √n-cells SCALE path as its own gated artifact (VERDICT r12
    "What's wrong" #4 / "Next round" #7): ``n_cells=None`` → K =
    max(16, isqrt(n)) — the plan the engine would run on a real corpus,
    where fixed K=16 is quadratic (n²·p/K; 1978 s measured at 100k
    vectors, r12). At gate SFs the keys genuinely diverge — isqrt(500)=22
    cells at sf0.01, isqrt(2000)=44 at sf0.1, vs the twin's pinned 16 —
    so the AUTO-SIZING path (count → isqrt → ivf_build at a different K)
    gets its own driver row and recall floor, not just a docstring claim.
    Rows-only by design, like the K=16 twin: IVF probing is approximate
    (boundary neighbors in unprobed cells), so no SQL oracle can state
    the exact edge set; tests/test_r13_advice-adjacent recall test pins
    recall ≥ floor vs brute force at sf0.001."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    return knn_graph(emb, n_cells=None)


def q_multimodal_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clusterindices_spark.functions.aggregates import round6_stable

    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    # round6_stable, not F.round: the decimal-sum/count quotient can land
    # exactly on a .xxxxxx5 boundary where the engines' ROUND conventions
    # flip the 6th decimal (fuzz gate seed 102004: mean_norm 4.1801685 →
    # 4.180169 vs 4.180168) — the text_quality class
    return (
        emb.select("label", x.alias("x"), norm(x).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round6_stable(
                F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_norm"),
            round6_stable(F.max("nrm")).alias("max_norm"),
            round6_stable(F.min("nrm")).alias("min_norm"),
        )
    )


QUERIES = {
    "similarity_topk_exact": q_similarity_topk_exact,
    "similarity_range_search": q_similarity_range_search,
    "similarity_mmr_rerank": q_similarity_mmr_rerank,
    "dedup_semantic_clusters": q_dedup_semantic_clusters,
    "dedup_semantic_clusters_ann": q_dedup_semantic_clusters_ann,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "similarity_ann_lsh": q_similarity_ann_lsh,
    "similarity_ann_ivf": q_similarity_ann_ivf,
    "similarity_ivf_nprobe_curve": q_similarity_ivf_nprobe_curve,  # rows-only
    "similarity_knn_graph": q_similarity_knn_graph,
    "similarity_knn_graph_auto": q_similarity_knn_graph_auto,  # rows-only
    "multimodal_vector_stats": q_multimodal_vector_stats,
}

# cosine in explicit SQL (list_sum fold order matches Spark's sequential
# aggregate; divergence is sub-ulp and killed by round 6)
_COS = (
    "list_sum(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]))"
    " / NULLIF(sqrt(list_sum(list_transform({a}, v -> v * v)))"
    " * sqrt(list_sum(list_transform({b}, v -> v * v))), 0.0)"
)

ORACLES = {
    "similarity_topk_exact": f"""
WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
sims AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         ROUND({_COS.format(a='a.x', b='b.x')}, 6) AS sim
  FROM pts a JOIN pts b ON a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
)
SELECT probe_id, neighbor_id, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
  FROM sims
) WHERE rn <= {TOP_K}
""",
    "similarity_range_search": f"""
WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
       ROUND({_COS.format(a='a.x', b='b.x')}, 6) AS sim
FROM pts a JOIN pts b ON a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
WHERE ROUND({_COS.format(a='a.x', b='b.x')}, 6) >= {RANGE_TAU}
""",
    "dedup_embedding_cosine": f"""
WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_COS.format(a='a.x', b='b.x')}, 6) AS cos
FROM pts a JOIN pts b ON a.vec_id < b.vec_id
WHERE ROUND({_COS.format(a='a.x', b='b.x')}, 6) >= {COSINE_DUP_THRESHOLD}
""",
    # similarity_ann_lsh: approximate (seeded MLlib hash family) → rows-only
    "multimodal_vector_stats": """
WITH pts AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS x,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n,
       (floor(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              * 1000000.0 + 0.5) / 1000000.0) AS mean_norm,
       (floor(MAX(nrm) * 1000000.0 + 0.5) / 1000000.0) AS max_norm,
       (floor(MIN(nrm) * 1000000.0 + 0.5) / 1000000.0) AS min_norm
FROM pts GROUP BY label
""",
}


def _mmr_oracle_sql() -> str:
    """The same unrolled greedy as q_similarity_mmr_rerank, one CTE pair
    per pick — generated mechanically so Spark and oracle can never drift
    on λ or the tie-break (the pagerank-unroll idiom)."""
    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    from clusterindices_spark.functions.aggregates import SQL_ROUND6

    score = SQL_ROUND6.format(x=f"{lam} * sim - {om} * red")
    head = f"""
WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
sims AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         ROUND({_COS.format(a='a.x', b='b.x')}, 6) AS sim
  FROM pts a JOIN pts b ON a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
),
cand AS MATERIALIZED (
  SELECT probe_id, neighbor_id AS cid, sim FROM (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
    FROM sims
  ) WHERE rn <= {MMR_POOL}
),
pairs AS MATERIALIZED (
  SELECT a.probe_id, a.cid AS cid_a, b.cid AS cid_b,
         ROUND({_COS.format(a='pa.x', b='pb.x')}, 6) AS sim_ab
  FROM cand a
  JOIN cand b ON a.probe_id = b.probe_id AND a.cid <> b.cid
  JOIN pts pa ON pa.vec_id = a.cid
  JOIN pts pb ON pb.vec_id = b.cid
),
s1 AS MATERIALIZED (
  SELECT probe_id, cid, 1 AS pick, sim, sim AS mmr_score FROM (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sim DESC, cid) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    steps = []
    prev = "s1"
    for t in range(2, MMR_K + 1):
        steps.append(f"""
red{t} AS (
  SELECT c.probe_id, c.cid, c.sim, MAX(p.sim_ab) AS red
  FROM cand c
  JOIN pairs p ON p.probe_id = c.probe_id AND p.cid_a = c.cid
  JOIN {prev} s ON s.probe_id = p.probe_id AND s.cid = p.cid_b
  WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                    WHERE x.probe_id = c.probe_id AND x.cid = c.cid)
  GROUP BY c.probe_id, c.cid, c.sim
),
sel{t} AS (
  SELECT probe_id, cid, {t} AS pick, sim, mmr_score FROM (
    SELECT probe_id, cid, sim, mmr_score,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY mmr_score DESC, cid) AS rn
    FROM (SELECT probe_id, cid, sim, {score} AS mmr_score FROM red{t})
  ) WHERE rn = 1
),
s{t} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{t})""")
        prev = f"s{t}"
    tail = f"""
SELECT probe_id, pick AS pick_order, cid AS neighbor_id, sim, mmr_score
FROM {prev}"""
    return head + "," + ",".join(steps) + tail


ORACLES["similarity_mmr_rerank"] = _mmr_oracle_sql()

# semantic clusters: recursive transitive closure over the cosine pair set
# (the dedup_components closure pattern with embedding edges)
ORACLES["dedup_semantic_clusters"] = f"""
WITH RECURSIVE
pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM pts a JOIN pts b ON a.vec_id < b.vec_id
  WHERE ROUND({_COS.format(a='a.x', b='b.x')}, 6) >= {COSINE_DUP_THRESHOLD}
),
edges AS (
  SELECT va AS s, vb AS d FROM pairs
  UNION
  SELECT vb AS s, va AS d FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
mins AS (SELECT s, MIN(d) AS mn FROM reach GROUP BY s),
comp AS (
  SELECT vec_id, LEAST(vec_id, COALESCE(mn, vec_id)) AS component_id
  FROM embeddings LEFT JOIN mins ON mins.s = vec_id
)
SELECT vec_id, component_id,
       vec_id = component_id AS is_canonical,
       COUNT(*) OVER (PARTITION BY component_id) AS n_members
FROM comp
"""
