"""Synthetic scale-stress for the dedup/CC/ANN tiers (VERDICT r7 item 4).

The gate SFs prove CORRECTNESS; this sidebar drives the three 100 TB-posture
claims at the largest scale local[32] can hold — the skew_stress pattern:
deterministic id-derived fixtures (no rand()), wall + per-partition task-row
distribution per stage, one JSON line per stress. Results are recorded in
BASELINE.md ("Scale stress").

1. star-CC at ~10^7 edges over ~5M nodes — a worst-case mix for label
   propagation (long chains: O(diameter)) that the large/small-star engine
   must close in O(log n) rounds with localCheckpoint'ed lineage. Validates
   chain components exactly (each chain block's component = its min node).
2. MinHash banded-LSH at millions of synthetic docs — measures the REAL
   operator (shingle → 16 seeded xxhash64 mins → 8 bands → bucket join →
   exact-Jaccard verify) with planted duplicate groups; reports band-bucket
   occupancy (the quadratic hazard) and verified-pair recall on the plant.
3. IVF under a CLUSTERED distribution — 90% of vectors in one Voronoi cell:
   build wall, cell histogram (max/mean skew), and hot-vs-cold probe search
   wall, since a skewed inverted list is the ANN analogue of a hot join key.

Run: python tools/scale_stress.py [cc|minhash|ivf ...]
Env: SPARK_GRAFT_CPUS, CC_NODES (default 5M), MH_DOCS (3M), IVF_VECS (5M).
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.procs import cpu_seconds  # noqa: E402

def _part_rows(df, cols) -> dict:
    per = df.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("rows")
    ).collect()
    rows = [r["rows"] for r in per] or [0]
    return {"n_partitions": len(per), "max_task_rows": max(rows)}


def stress_cc(spark) -> dict:
    """~10M edges / ~5M nodes: 10 chains of 100k (diameter killers for
    label-prop) + hash-random edges forming one giant component over the
    rest. Chain blocks are validated exactly."""
    from clusterindices_spark.operators.dedup import connected_components_star

    n_nodes = int(os.environ.get("CC_NODES", "5000000"))
    n_chain = n_nodes // 5  # 20% of nodes in 10 diameter-killer chains
    block = n_chain // 10
    n_rand = n_nodes * 2 - n_chain  # → ~2 edges/node total
    chain = spark.range(0, n_chain).where(
        (F.col("id") % block) != block - 1
    ).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    rnd = spark.range(0, n_rand).select(
        (F.pmod(F.xxhash64("id"), F.lit(n_nodes - n_chain)) + n_chain).alias(
            "src"
        ),
        (
            F.pmod(F.xxhash64(F.col("id") + 1_000_000_007), F.lit(n_nodes - n_chain))
            + n_chain
        ).alias("dst"),
    )
    edges = chain.unionByName(rnd).persist()
    n_edges = edges.count()
    nodes = spark.range(0, n_nodes).select(F.col("id").alias("node")).persist()
    nodes.count()

    t0 = time.monotonic()
    st: dict = {}
    comp = connected_components_star(nodes, edges, stats=st).persist()
    n_comp = comp.select("component").distinct().count()
    sec = time.monotonic() - t0

    # chains must resolve exactly: block b's nodes all label min = b*block
    bad_chain = comp.where(
        (F.col("node") < n_chain)
        & (
            F.col("component")
            != (F.col("node") - F.pmod(F.col("node"), F.lit(block)))
        )
    ).count()
    big = comp.groupBy("component").count().agg(F.max("count")).first()[0]
    part = _part_rows(comp, ["node"])
    comp.unpersist(), edges.unpersist(), nodes.unpersist()
    return {
        "metric": "cc_star_stress",
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "wall_sec": round(sec, 1),
        "rounds": st.get("rounds"),
        "n_components": n_comp,
        "max_component": big,
        "chain_label_errors": bad_chain,
        **part,
    }


def stress_minhash(spark) -> dict:
    """Millions of synthetic ~25-word docs through the REAL minhash_pairs
    operator. 2% of docs are planted duplicates (groups of 2 sharing
    content hash-seeded by the group), the rest unique. Reports the
    band-bucket occupancy tail — the quadratic candidate hazard — plant
    recall, which finish ran (above about 390k docs, the Spark path) with the
    counts that decided it, and the call's wall, CPU and the driver
    process's peak RSS."""
    from clusterindices_spark.operators.dedup import minhash_pairs

    n_docs = int(os.environ.get("MH_DOCS", "3000000"))
    vocab = 50_000
    # seed: dup pairs are (2g, 2g+1) for g % 50 == 0 → 1% of ids pair up
    seed = F.when(
        (F.floor(F.col("id") / 2) % 50 == 0), F.floor(F.col("id") / 2) * 2
    ).otherwise(F.col("id"))
    word = lambda j: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(seed * 31 + j), F.lit(vocab)).cast("string"),
    )
    docs = spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[word(F.lit(j)) for j in range(25)]
        ).alias("text"),
    ).persist()
    docs.count()
    expected_pairs = n_docs // 100  # (2g, 2g+1) groups

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    cpu0 = cpu_seconds(jvm_pid)
    t0 = time.monotonic()
    stats: dict = {}
    pairs = minhash_pairs(docs, threshold=0.9, stats=stats).persist()
    n_pairs = pairs.count()
    sec = time.monotonic() - t0
    cpu = cpu_seconds(jvm_pid) - cpu0
    hit = pairs.where(
        (F.col("doc_b") == F.col("doc_a") + 1)
        & (F.col("doc_a") % 100 == 0)
    ).count()

    from clusterindices_spark.operators.dedup import (
        MINHASH_BAND_ROWS,
        MINHASH_SEEDS,
    )

    part = _part_rows(pairs, ["doc_a"])
    pairs.unpersist(), docs.unpersist()
    return {
        "metric": "minhash_stress",
        "n_docs": n_docs,
        "wall_sec": round(sec, 1),
        # the JVM process tree plus this driver process, over the call
        # and the count of its result
        "cpu_sec": round(cpu, 1),
        "driver_peak_rss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        ),
        "n_verified_pairs": n_pairs,
        "planted_pairs": expected_pairs,
        "plant_recall": round(hit / expected_pairs, 4),
        "bands": MINHASH_SEEDS // MINHASH_BAND_ROWS,
        # "spark" past LOCAL_LSH_BYTES (about 390k docs of 25 words)
        "finish": stats["finish"],
        "text_rows": stats.get("text_rows"),
        "text_bytes": stats.get("text_bytes"),
        "dropped_buckets": stats["dropped_buckets"],
        **part,
    }


def stress_ivf(spark) -> dict:
    """5M 16-dim vectors, 90% packed into ONE cluster: the inverted list
    for that cell is the ANN hot key. Measures build wall, the cell-size
    skew the bucketed layout would inherit, and hot-vs-cold probe walls."""
    from clusterindices_spark.operators.similarity import (
        _ivf_search,
        ivf_build,
    )

    from clusterindices_spark.functions.lloyd import SAMPLE_CAP

    n_vecs = int(os.environ.get("IVF_VECS", "5000000"))
    n_cells = int(os.environ.get("IVF_CELLS", "8"))
    dim = 16
    # cluster 0 gets 90%; 1..7 split the rest. center(c)[j] = 10c; noise
    # in [-0.5, 0.5) from a per-(id, j) hash — fully deterministic.
    cl = F.when(F.pmod(F.col("id"), F.lit(10)) < 9, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id"), F.lit(7)) + 1
    )
    x = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.col("cl") * 10.0
            + (F.pmod(F.xxhash64(F.col("id") * 17 + j), F.lit(1000)) - 500)
            / 1000.0
        ),
    )
    emb = (
        spark.range(0, n_vecs)
        .withColumn("cl", cl)
        .select(F.col("id").alias("vec_id"), x.alias("x"))
        .persist()
    )
    emb.count()

    # A throwaway 2-cell build absorbs the one-time codegen/stage warmup
    # (first-build-runs-cold confounds the wall otherwise).
    ivf_build(emb, n_cells=2)[1].count()
    t0 = time.monotonic()
    cents, index = ivf_build(emb, n_cells=n_cells)
    index = index.persist()
    hist = index.groupBy("cell").count().collect()
    build_sec = time.monotonic() - t0
    sizes = sorted((r["count"] for r in hist), reverse=True)

    def search(cents_, index_, probe_ids, n_probe_cells=1):
        # _probe_cells renames (vec_id, x) -> (probe_id, xa) itself
        probes = emb.where(F.col("vec_id").isin(probe_ids))
        t = time.monotonic()
        got = _ivf_search(
            cents_, index_, probes, k=10, n_probe_cells=n_probe_cells
        ).select("probe_id", "neighbor_id").collect()
        return round(time.monotonic() - t, 1), {
            (r["probe_id"], r["neighbor_id"]) for r in got
        }

    # vec_id % 10 < 9 → cluster 0 (hot); vec_id % 10 == 9 → cold cells
    hot_ids = [i * 10 for i in range(32)]
    cold_ids = [i * 10 + 9 for i in range(32)]
    search(cents, index, hot_ids)  # warm codegen
    hot_sec, _ = search(cents, index, hot_ids)
    cold_sec, _ = search(cents, index, cold_ids)

    # recall floor at the stress scale: nprobe=n_cells IS exact top-k
    # (bit-identical round + tie-break — the r7 one-scan lesson), so the
    # exact ground truth reuses the same search kernel (every cell probed
    # ⇒ every vector scanned).
    probe_ids = hot_ids + cold_ids
    _, exact = search(cents, index, probe_ids, n_probe_cells=n_cells)
    _, got = search(cents, index, probe_ids)

    part = _part_rows(index, ["cell"])
    emb.unpersist(), index.unpersist()
    return {
        "metric": "ivf_skew_stress",
        "n_vecs": n_vecs,
        "n_cells": n_cells,
        "dim": dim,
        "sampled": n_vecs > SAMPLE_CAP,
        "build_sec": round(build_sec, 1),
        "recall_at10_nprobe1": round(len(got & exact) / len(exact), 4),
        "cell_sizes_desc": sizes[:10],
        "cell_skew_max_over_mean": round(sizes[0] / (n_vecs / len(sizes)), 2),
        "hot_probe_sec": hot_sec,
        "cold_probe_sec": cold_sec,
        **part,
    }


def stress_pq(spark) -> dict:
    """PQ codebook training at corpus scale (a driver fit on the
    lloyd.SAMPLE_CAP sample): train+encode wall plus recall@5 of the
    deployed ADC-over-retrieve search against exact cosine top-k."""
    from clusterindices_spark.functions.lloyd import SAMPLE_CAP
    from clusterindices_spark.operators.pq import (
        pq_topk_reranked,
        pq_train_encode,
    )
    from clusterindices_spark.operators.similarity import topk_exact

    n_vecs = int(os.environ.get("PQ_VECS", "2000000"))
    dim = 16  # divisible by M_SUBSPACES=8 (d_sub=2)
    x = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("vec_id") * 31 + j),
                          F.lit(2000)) - 1000) / 1000.0,
    )
    emb = (
        spark.range(0, n_vecs)
        .select(F.col("id").alias("vec_id"))
        .withColumn("x", x)
        .persist()
    )
    emb.count()
    probes = emb.where(F.col("vec_id") % (n_vecs // 32) == 0)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, probes, k=5).collect()
    }

    t0 = time.monotonic()
    codebook, codes = pq_train_encode(emb)
    wall = round(time.monotonic() - t0, 1)
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in pq_topk_reranked(codebook, codes, emb, probes, k=5).collect()
    }
    emb.unpersist()
    return {
        "metric": "pq_build_stress",
        "n_vecs": n_vecs,
        "dim": dim,
        "sampled": n_vecs > SAMPLE_CAP,
        "train_encode_sec": wall,
        "recall_at5": round(len(got & exact) / max(len(exact), 1), 4),
    }


def stress_ivfpq(spark) -> dict:
    """IVF-PQ composed-build stress (VERDICT r10 item 6): one end-to-end
    ivfpq_topk at corpus scale, where both legs (the coarse quantizer via
    ivf_build, the residual codebooks via pq_train_encode) fit on the
    lloyd.SAMPLE_CAP sample once n_vecs exceeds it, and the composed recall
    vs exact cosine top-k must hold the bench floor (0.85) with two stacked
    sample estimates."""
    from clusterindices_spark.functions.lloyd import SAMPLE_CAP
    from clusterindices_spark.operators.pq import ivfpq_topk
    from clusterindices_spark.operators.similarity import topk_exact

    n_vecs = int(os.environ.get("IVFPQ_VECS", "2000000"))
    dim = 16  # divisible by M_SUBSPACES=8
    x = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("vec_id") * 31 + j),
                          F.lit(2000)) - 1000) / 1000.0,
    )
    emb = (
        spark.range(0, n_vecs)
        .select(F.col("id").alias("vec_id"))
        .withColumn("x", x)
        .persist()
    )
    emb.count()
    probes = emb.where(F.col("vec_id") % (n_vecs // 32) == 0)
    # cosine is normalization-invariant, so exact top-k over the raw
    # vectors is the ground truth for the unit-normalized composite too
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, probes, k=5).collect()
    }
    t0 = time.monotonic()
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, probes, k=5).collect()
    }
    wall = round(time.monotonic() - t0, 1)
    emb.unpersist()
    return {
        "metric": "ivfpq_composed_build_stress",
        "n_vecs": n_vecs,
        "dim": dim,
        "build_search_sec": wall,
        "recall_at5_vs_exact": round(len(got & exact) / max(len(exact), 1), 4),
        "sampled": n_vecs > SAMPLE_CAP,
    }


def stress_knn(spark) -> dict:
    """k-NN graph at stress scale (r10: the scale-hostile gate proved the
    fixed-16-cell registry instantiation is quadratic in candidates —
    n²·p/K — by hanging at 20k hostile rows). Two sub-arms over KNN_VECS
    vectors, both carrying NULL + zero-norm floods and a 2^53-adjacent id
    block:

    - uniform: hash-uniform corpus — √n auto sizing balances cells, the
      graph EXECUTES end-to-end; reports wall + probe-subset recall vs
      exact cosine and the fixed-16 vs auto candidate-volume A/B (volumes
      from cell histograms: two cheap aggs, never the join itself).
    - hostile blob (90% of vectors in one tight isotropic ball): Lloyd
      means inside the ball CONVERGE TOWARD ITS CENTER, so even √n cells
      collapse the ball's membership into few cells — measured here as
      candidate volumes (the graph only executes if the volume fits
      KNN_CAND_BUDGET; a collapsed blob is ~occ² and is reported, not
      executed). No candidate-generation scheme splits a region denser
      than its partition scale (LSH buckets collapse on a ball tighter
      than the bucket length the same way), and k-NN inside an isotropic
      dense ball is concentration-degenerate — the dedup question the
      ball actually poses is answered by the exact-dup + capped-banded +
      star-CC tiers. Volume-gating here makes the engine refuse loudly
      instead of melting quietly — regimes documented in BASELINE.md
      ("knn_graph at stress scale") with this arm's numbers.
    """
    import math

    from clusterindices_spark.operators.similarity import (
        _probe_cells,
        ivf_build,
        knn_graph,
        norm,
        topk_exact,
    )

    n_vecs = int(os.environ.get("KNN_VECS", "30000"))
    budget = int(os.environ.get("KNN_CAND_BUDGET", "200000000"))
    dim = 64
    p53 = 2 ** 53
    vid = F.when(
        F.col("id") < n_vecs - 5_000, F.col("id") + 1
    ).otherwise(F.lit(p53 - 2_500) + (F.col("id") - (n_vecs - 5_000)))

    def corpus(kind: str):
        hot = F.pmod(F.col("id"), F.lit(10)) < 9
        if kind == "uniform":
            core = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (F.pmod(F.xxhash64(F.col("id") * 29 + j),
                                  F.lit(2000)) - 1000) / 100.0,
            )
        else:  # hostile blob: 90% in a radius-~0.8 ball at 10*e0
            core = F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.when(
                    hot,
                    F.when(j == 0, 10.0).otherwise(F.lit(0.0))
                    + (F.pmod(F.xxhash64(F.col("id") * 17 + j),
                              F.lit(200)) - 100) / 1000.0,
                ).otherwise(
                    (F.pmod(F.xxhash64(F.col("id") * 29 + j),
                            F.lit(2000)) - 1000) / 100.0
                ),
            )
        x = F.when(
            F.pmod(F.col("id"), F.lit(1009)) == 0, F.lit(None)
        ).otherwise(
            F.when(F.pmod(F.col("id"), F.lit(997)) == 0,
                   F.array_repeat(F.lit(0.0), dim)).otherwise(core)
        )
        e = (spark.range(0, n_vecs)
             .select(vid.alias("vec_id"), x.alias("x")).persist())
        e.count()
        return e

    geom_filter = F.col("x").isNotNull() & (norm(F.col("x")) > 0)

    def volumes(emb, n_cells: int) -> tuple[int, int]:
        """(total candidate volume, max cell occupancy) for this sizing —
        from histograms over one build; never executes the pair join."""
        geom = emb.where(geom_filter)
        folded, index = ivf_build(geom, n_cells=n_cells)
        m = index.groupBy("cell").agg(F.count(F.lit(1)).alias("m"))
        p = (_probe_cells(geom, folded, 2)
             .groupBy("cell").agg(F.count(F.lit(1)).alias("p")))
        row = (m.join(p, "cell")
               .agg(F.sum(F.col("m") * F.col("p")).alias("v"),
                    F.max("m").alias("occ")).collect()[0])
        return int(row["v"]), int(row["occ"])

    out: dict = {"metric": "knn_graph_stress", "n_vecs": n_vecs,
                 "dim": dim, "cand_budget": budget, "arms": {}}
    for kind in ("uniform", "hostile_blob"):
        emb = corpus(kind)
        n_geom = emb.where(geom_filter).count()
        auto_k = max(16, math.isqrt(n_geom))
        vol16, occ16 = volumes(emb, 16)
        vol_auto, occ_auto = volumes(emb, auto_k)  # memo stays warm for knn
        arm = {
            "n_geometric": n_geom, "auto_n_cells": auto_k,
            "candidates_fixed16": vol16, "max_occ_fixed16": occ16,
            "candidates_auto": vol_auto, "max_occ_auto": occ_auto,
            "candidate_cut_x": round(vol16 / max(vol_auto, 1), 1),
        }
        if vol_auto <= budget:
            t0 = time.monotonic()
            g = knn_graph(emb, k=5, n_cells=None).persist()
            arm["n_edges"] = g.count()
            arm["wall_sec_auto"] = round(time.monotonic() - t0, 1)
            probe_ids = [i * (n_vecs // 32) + 1 for i in range(32)]
            probes = emb.where(F.col("vec_id").isin(probe_ids))
            exact = {
                (r["probe_id"], r["neighbor_id"])
                for r in topk_exact(
                    emb.where(geom_filter),
                    probes.where(geom_filter), k=5
                ).collect()
            }
            got = {
                (r["probe_id"], r["neighbor_id"])
                for r in g.where(F.col("probe_id").isin(probe_ids)).collect()
            }
            arm["recall_at5_probe_subset"] = round(
                len(got & exact) / max(len(exact), 1), 4
            )
            bad = g.select(
                F.max(F.col("sim").isNull().cast("int")).alias("b")
            ).collect()[0]["b"]
            arm["null_sims"] = int(bad or 0)
            g.unpersist()
        else:
            arm["graph_executed"] = False
            arm["why"] = ("auto-sized candidate volume exceeds budget: "
                          "collapse-prone dense region — no partition "
                          "scheme splits a region denser than its "
                          "partition scale, and k-NN inside an isotropic "
                          "dense ball is concentration-degenerate; the "
                          "dedup question it poses is answered by the "
                          "exact-dup + capped-banded + star-CC tiers "
                          "(BASELINE.md knn regime 3)")
        out["arms"][kind] = arm
        emb.unpersist()
        print(f"# knn arm {kind}: {arm}", file=sys.stderr)
    return out


def main() -> None:
    from clusterindices_spark.session import get_spark

    which = sys.argv[1:] or ["cc", "minhash", "ivf"]
    spark = get_spark("scale-stress", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    fns = {"cc": stress_cc, "minhash": stress_minhash, "ivf": stress_ivf,
           "pq": stress_pq, "ivfpq": stress_ivfpq, "knn": stress_knn}
    for name in which:
        out = fns[name](spark)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
