"""Product quantization (PQ) — the compression leg of the ANN stack
(complements similarity.py's IVF cell-pruning leg; together they are the
IVF-PQ layout every billion-vector system runs).

PQ splits each d-dim vector into M subvectors and vector-quantizes each
subspace independently with its own K-centroid codebook: a vector becomes M
small integer codes (here 8 codes of 4 bits = 4 bytes vs 256 bytes of
float32 — 64×), and approximate distances are computed WITHOUT decoding via
a per-probe distance table (ADC: d²(q, x) ≈ Σ_m T[m][code_m(x)]).

Spark-first shape:
- training is ``lloyd.fit_seeded`` on one driver sample, each subspace a
  block of columns, so all M codebooks come from one count and one
  collect; encoding is one Arrow pass over the exploded frame
  (vec_id, m, sub), and codebooks stay M broadcastable rows;
- the corpus-side cost of search is a scan of the CODES table (4 bytes/vec
  + the per-row M-term table-lookup fold) with zero shuffle before the
  per-probe top-k (partial+final WindowGroupLimit moves O(n·k) rows);
- the per-probe distance tables are M×K doubles — broadcast by
  construction, computed from the M-row codebook without touching the
  corpus.

Determinism: codebook seeds are the subvectors of the sample's PQ_K lowest
vec_ids with a usable vector; every collect_list is array_sort'ed by an
explicit key; ties in argmin break on (d2, code). Approximate by
construction → rows-only driver check + recall / determinism / shape tests
(tests/test_pq.py).

Scale (100 TB): training reads a fixed-size sample (at most
``lloyd.SAMPLE_CAP`` vectors) into the driver, so its cost is constant in
corpus size; encoding is one scan plus the vec_id reassembly shuffle;
search never shuffles the corpus (codes scan + broadcast tables) until the
top-k. Compose with IVF cells (assign codes within each cell's residual
space) to prune the scan itself; the codes table is small enough (4
bytes/vec) that even the unpruned scan is ~25 GB per 6G vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions import cellassign as _ck
from clusterindices_spark.functions.distances import l2sq, norm
from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.functions.lloyd import fit_seeded
from clusterindices_spark.sources.fixtures import fan_out, load_table

M_SUBSPACES = 8  # 64-dim fixtures → 8 subvectors of 8 dims
PQ_K = 16  # centroids per subspace → 4-bit codes
PQ_TOP_K = 5
PQ_N_PROBES = 10
# ADC over-retrieve factor. The r6 A/B on the worst-case near-orthogonal
# fixtures (BASELINE.md "PQ over-retrieve A/B"): recall 0.60/0.74/0.84/0.90
# at expand 8/16/32/64 with FLAT query time (~1.1-1.8 s at sf0.1) — the ADC
# codes scan dominates; the exact re-rank stays candidate-scale
# (probes·k·expand full vectors, broadcast) at any corpus size, so the high
# factor is free at 100 TB too. IVFPQ tracks the same curve (0.58→0.90 at
# nprobe=4); nprobe was NOT the binding constraint (4→6 changed nothing
# below expand 32) — ADC ordering quality was.
PQ_EXPAND = 64


def _unit(emb: DataFrame) -> DataFrame:
    """L2-normalize so PQ's L2-based ADC ranking is cosine-equivalent
    (‖a−b‖² = 2 − 2·cos on unit vectors) — keeps the recall yardstick
    (cosine topk_exact) apples-to-apples."""
    n = F.nullif(norm(F.col("x")), F.lit(0.0))
    return emb.select(
        "vec_id", F.transform("x", lambda v: v / n).alias("x")
    ).where(F.col("x").isNotNull())


def _subvectors(emb: DataFrame, m: int = M_SUBSPACES) -> DataFrame:
    """(vec_id, m, sub) — one row per subspace; dims must divide evenly."""
    d_sub = F.size("x") / m  # constant per fixture (64/8); int division below
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.slice(
            F.col("x"), (i * d_sub + 1).cast("int"), d_sub.cast("int")
        ),
    )
    return emb.select(
        "vec_id", F.posexplode(subs).alias("m", "sub")
    )


def pq_train_encode(
    emb: DataFrame,
    m: int = M_SUBSPACES,
    k: int = PQ_K,
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    Training is ``lloyd.fit_seeded`` with one block of columns per
    subspace: one count, one ``toArrow()`` collect of the sample (the
    whole corpus up to ``lloyd.SAMPLE_CAP`` vectors, else its
    ``hash_slice``), then per subspace the seeds — the subvectors of the
    ``k`` lowest-``vec_id`` sample rows with a usable vector — refined by
    ``lloyd.SEEDED_ITERS`` Lloyd updates in NumPy. A code that an update
    leaves empty is dropped, and the others keep their seed index. At a
    fixed cap the training cost is constant in corpus size; the full
    corpus is encoded exactly once, by the Arrow kernel
    ``cellassign.assign_codes_kernel``, which casts ``sub`` to
    ``ARRAY<DOUBLE>``: a float32 (or other numeric) corpus is encoded from
    distances computed in double, and its codebook is ``ARRAY<DOUBLE>``.

    Vectors with a NULL or non-finite coordinate, or another dimension
    than most, take no part in training (``_unit`` maps a zero vector to
    an all-NULL one); the encode still gives every vector a code per
    subspace, by the kernel's NULL-distance rule. (When such a vector was
    a seed, its NULL distances outranked every real one and each subspace
    trained a single code.) An input with no usable vector gives an empty
    codebook and empty codes.

    Returns ``(codebook, codes)``: codebook = M rows (m, book), a local
    relation, codes = (vec_id, codes ARRAY<INT> length M), a corpus-scale
    frame that holds its own local checkpoint."""
    # normalize=False for RESIDUAL inputs (ivfpq): residuals must stay in
    # the raw space the search-side tables are computed in, and a
    # zero-residual vector (point == centroid) must not be dropped by the
    # zero-norm guard
    src = _unit(emb) if normalize else emb.select("vec_id", "x")
    books = {i: b for i, b in enumerate(fit_seeded(src, k, blocks=m)) if b}
    codebook = local_frame(
        emb.sparkSession,
        sorted(books.items()),
        "m INT, book ARRAY<STRUCT<code: INT, c: ARRAY<DOUBLE>>>",
    )
    codes = (
        _ck.assign_codes_kernel(_subvectors(src, m), books, "vec_id")
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )
    # encoded once, here: the returned frame holds its own checkpoint
    return codebook, codes.localCheckpoint(eager=True)


def pq_adc_topk(
    codebook: DataFrame,
    codes: DataFrame,
    probes: DataFrame,
    k: int = PQ_TOP_K,
    m: int = M_SUBSPACES,
) -> DataFrame:
    """ADC search: per-probe distance tables against the broadcast
    codebook, then one codes-table scan with an M-term lookup fold per row
    — the corpus is never decoded and never shuffled before the top-k."""
    psub = _subvectors(_unit(probes), m).withColumnRenamed("vec_id", "probe_id")
    # (probe_id, m, d2s ARRAY<DOUBLE> indexed by code)
    dtab = (
        psub.join(F.broadcast(codebook), "m")
        .select(
            "probe_id",
            "m",
            F.transform(
                F.array_sort("book"),
                lambda s: l2sq(F.col("sub"), s["c"]),
            ).alias("d2s"),
        )
    )
    # 1 row per probe: tabs ARRAY<ARRAY<DOUBLE>> indexed [m][code]
    ptabs = dtab.groupBy("probe_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "d2s"))),
            lambda s: s["d2s"],
        ).alias("tabs")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc + F.get(F.get("tabs", i), F.get("codes", i)),
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(ptabs))
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", F.round(adc, 6).alias("adc_d2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "adc_d2")
    )


def pq_topk_reranked(
    codebook: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
    probes: DataFrame,
    k: int = PQ_TOP_K,
    expand: int = PQ_EXPAND,
    m: int = M_SUBSPACES,
) -> DataFrame:
    """ADC over-retrieve + exact re-rank — how PQ is actually deployed:
    the codes scan returns k·expand candidates per probe (cheap, 4 B/vec),
    then ONLY those candidates fetch their full vectors for exact cosine.
    The re-rank join is candidate-scale (probes·k·expand rows vs the
    corpus — broadcast), so the full-precision vectors are read for a
    vanishing fraction of the corpus; recall is set by the ADC candidate
    set, precision of the final order is exact."""
    cand = pq_adc_topk(codebook, codes, probes, k=k * expand, m=m)
    xb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("x").alias("xb"))
    xa = probes.select(F.col("vec_id").alias("probe_id"), F.col("x").alias("xa"))
    from clusterindices_spark.functions.distances import cosine_sim

    scored = (
        xb.join(F.broadcast(cand.select("probe_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(xa), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("xa"), F.col("xb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


PQ_EXPAND_GRID = (8, 16, 32, 64)  # over-retrieve factors; 64 = the default


def q_similarity_pq_expand_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs the ADC over-retrieve factor — the PQ TUNING TABLE that
    motivated the r6 recall fix (expand 8→64 took recall 0.60→0.90 at
    flat query time, BASELINE.md "PQ over-retrieve A/B"); this key makes
    that A/B a standing, regression-visible artifact, completing the
    tuning-curve family (MinHash PR curve, IVF nprobe curve).

    Single-scan formulation (the nprobe-curve trick): ONE ADC pass at the
    max grid expand ranks candidates by ADC distance, the exact re-rank
    sims are computed ONCE for that maximal candidate set, and each grid
    point is then a filter adc_rank ≤ k·expand + re-rank + hit-count —
    the corpus codes are scanned once for the whole curve.

    rows-only by design (Lloyd codebooks are engine-specific); tests pin
    recall monotonicity in expand and the floor at the deployed factor."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.distances import cosine_sim
    from clusterindices_spark.operators.similarity import topk_exact

    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("x")
    )
    codebook, codes = pq_train_encode(emb)
    probes = emb.where(F.col("vec_id") < PQ_N_PROBES)
    k = PQ_TOP_K
    max_e = max(PQ_EXPAND_GRID)
    cand = pq_adc_topk(codebook, codes, probes, k=k * max_e)
    wr = Window.partitionBy("probe_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    ranked = cand.withColumn("adc_rank", F.row_number().over(wr))
    xb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("x").alias("xb"))
    xa = probes.select(F.col("vec_id").alias("probe_id"), F.col("x").alias("xa"))
    # exact sims ONCE for the maximal candidate set (candidate-scale
    # broadcast onto the corpus vectors), rank slices reuse them
    sims = (
        xb.join(
            F.broadcast(ranked.select("probe_id", "neighbor_id", "adc_rank")),
            "neighbor_id",
        )
        .join(F.broadcast(xa), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            "adc_rank",
            F.round(cosine_sim(F.col("xa"), F.col("xb")), 6).alias("sim"),
        )
    )
    grid = local_frame(
        spark, [(e,) for e in PQ_EXPAND_GRID], "expand INT"
    )
    sel = sims.join(
        F.broadcast(grid), F.col("adc_rank") <= F.col("expand") * F.lit(k)
    )
    w = Window.partitionBy("probe_id", "expand").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    pq_k = (
        sel.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "expand")
    )
    exact = topk_exact(emb, probes, k=k).select("probe_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    hits = pq_k.join(
        F.broadcast(exact), ["probe_id", "neighbor_id"]
    ).groupBy("expand").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        grid.join(F.broadcast(hits), "expand", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "expand",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            round6_stable(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0))
            ).alias("recall"),
        )
    )


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoder output — codes emitted as a CSV string (sortable scalar;
    the gate canonicalizer cannot sort list cells)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("x")
    )
    _, codes = pq_train_encode(emb)
    return codes.select(
        "vec_id", F.concat_ws(",", F.col("codes")).alias("code_csv")
    )


def q_similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed-shape PQ search: ADC candidates from the codes scan, exact
    re-rank of only those candidates (pq_topk_reranked)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("x")
    )
    codebook, codes = pq_train_encode(emb)
    probes = emb.where(F.col("vec_id") < PQ_N_PROBES)
    return pq_topk_reranked(codebook, codes, emb, probes)


QUERIES = {
    "embedding_pq_codes": q_embedding_pq_codes,
    "similarity_ann_pq": q_similarity_ann_pq,
    "similarity_pq_expand_curve": q_similarity_pq_expand_curve,  # rows-only
}

# Approximate/iterative by construction (Lloyd codebooks + ADC ranking):
# rows-only driver check; correctness is pinned by tests/test_pq.py
# (determinism, code-range/shape, ADC-vs-true-distance agreement, recall
# vs the exact cosine yardstick).
ORACLES: dict[str, str] = {}


def ivfpq_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = PQ_TOP_K,
    n_cells: int = 8,
    n_probe_cells: int = 4,
    m: int = M_SUBSPACES,
    pq_k: int = PQ_K,
    expand: int = PQ_EXPAND,
) -> DataFrame:
    """IVF-PQ — the composition both SCALE notes promise and every
    billion-vector system deploys: IVF cells prune WHICH codes are
    scanned, PQ residual codes shrink WHAT is scanned, ADC ranks without
    decoding, and exact re-rank touches only the survivors.

    Build: coarse-quantize (similarity.ivf_build, deterministic Lloyd),
    then PQ-encode each vector's RESIDUAL x − c(cell) — residuals
    concentrate near 0 so a shared codebook spends its 4 bits/subspace on
    the deviation, not the cell offset the cell id already encodes.
    Search: per (probe, probed-cell) distance tables against the residual
    codebook — the table fold already contains the cell offset because it
    is computed from (q − c_cell) — then the codes scan is PRUNED to the
    probed cells by the cell equi-join before any distance work.

    Scale: the index is (vec_id, cell, codes) — 4 B codes + a cell id per
    vector, bucket-prunable by cell exactly like ivf_write_bucketed; the
    per-probe table set is n_probe·M·K doubles, broadcast; nothing
    corpus-scale shuffles before the top-k; the full-precision re-rank
    join is candidate-scale. Approximate → rows-only + recall tests."""
    from clusterindices_spark.operators.similarity import (
        _probe_cells,
        ivf_build,
        unfold_cents,
    )

    unit = _unit(emb)
    folded_cells, index = ivf_build(unit, n_cells=n_cells)
    cells = unfold_cents(folded_cells).select(
        F.col("cluster").alias("cell"), F.col("centroid").alias("cc")
    )
    # residuals against the OWN cell centroid (cells is K rows, broadcast).
    # Checkpointed for the call: the frame feeds codebook training, the
    # encode pass, AND the codes-cell join below, none of which should
    # replay the corpus zip_with.
    resid = (
        index.join(F.broadcast(cells), "cell")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "cell",
            F.zip_with("xb", "cc", lambda a, b: a - b).alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    # normalize=False: residuals live in the raw space the search-side
    # tables are computed in (the corpus was already unit-normalized before
    # the cell quantizer)
    codebook, codes = pq_train_encode(resid, m=m, k=pq_k, normalize=False)
    # (vec_id, codes, cell): the codes table's only corpus-scale shuffle
    codes = codes.join(resid.select("vec_id", "cell"), "vec_id")

    # probe side: n_probe nearest cells, residual q − c_cell per pair
    pc = _probe_cells(_unit(probes), folded_cells, n_probe_cells)
    qresid = pc.join(F.broadcast(cells), "cell").select(
        "probe_id",
        "cell",
        F.zip_with("xa", "cc", lambda a, b: a - b).alias("x"),
    )
    qsub = _subvectors(
        qresid.select(
            F.concat_ws("#", "probe_id", "cell").alias("vec_id"), "x"
        ),
        m,
    )
    dtab = qsub.join(F.broadcast(codebook), "m").select(
        F.col("vec_id").alias("pk"),
        "m",
        F.transform(
            F.array_sort("book"), lambda s: l2sq(F.col("sub"), s["c"])
        ).alias("d2s"),
    )
    ptabs = dtab.groupBy("pk").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "d2s"))),
            lambda s: s["d2s"],
        ).alias("tabs")
    ).select(
        F.split("pk", "#")[0].cast("long").alias("probe_id"),
        F.split("pk", "#")[1].cast("int").alias("cell"),
        "tabs",
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc + F.get(F.get("tabs", i), F.get("codes", i)),
    )
    # the cell equi-join IS the pruning: codes rows in unprobed cells never
    # meet a table row and are filtered by the join, not by distance math
    cand = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(ptabs), "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", F.round(adc, 6).alias("adc_d2"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k * expand)
        .select("probe_id", "neighbor_id")
    )
    # exact cosine re-rank of the shortlist only
    from clusterindices_spark.functions.distances import cosine_sim

    xb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("x").alias("xb"))
    xa = probes.select(F.col("vec_id").alias("probe_id"), F.col("x").alias("xa"))
    scored = (
        xb.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(xa), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("xa"), F.col("xb")), 6).alias("sim"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "sim")
    )


def q_similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("x")
    )
    probes = emb.where(F.col("vec_id") < PQ_N_PROBES)
    return ivfpq_topk(emb, probes)


QUERIES["similarity_ann_ivfpq"] = q_similarity_ann_ivfpq
