#!/usr/bin/env python
"""Quiet-host interleaved A/B for the two r13 driver-confirmed regressions
(VERDICT r13 "Next round" item 1):

  dedup_semantic_clusters_ann   7.95 -> 11.46 s (0.69x, also 10.80 s @8c)
  similarity_ivf_nprobe_curve   2.46 -> 2.99 s  (0.82x, also 2.87 s @8c)

Suspect commits per the verdict: 9799715 (the eager edge-checkpoint drop in
_clusters_from_pairs) and 0f60752 (the nprobe-curve norm hoist). Each key is
measured under TWO arms in the SAME session, interleaved sample-by-sample so
hypervisor CPU steal hits both arms equally (the r10/r13 adjudication
discipline); min-of-N is the steal-robust estimator.

Arms are installed by monkeypatching the operator module per sample — the
repo code is never edited mid-run:
  ann/A     : HEAD _clusters_from_pairs (no eager edge checkpoint)
  ann/B     : r12 variant — edges eagerly localCheckpoint()ed before the
              star engine
  nprobe/A  : HEAD q_similarity_ivf_nprobe_curve (hoisted norms)
  nprobe/B  : r12 variant — inline cosine_sim at the sims join
  control   : sd_index at HEAD (stable 0.59-0.87 s across r6-r13) — if the
              control inflates, the whole session is inflated.

Every sample recomputes the key's result (no operator memoizes results).
The sink is .count() — the bench's sink for these keys.

Usage: python tools/adjudicate_r14.py [--iters 7] [--sf /root/testdata/sf0.1]
Report: reports/adjudicate_r14.md (+ JSON rows on stdout)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=7)
    ap.add_argument("--report", default="reports/adjudicate_r14.md")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from clusterindices_spark.operators import dedup as dd
    from clusterindices_spark.operators import similarity as sm
    from clusterindices_spark.registry import all_queries
    from clusterindices_spark.session import get_spark

    spark = get_spark("adjudicate-r14", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # ---- arm B implementations (r12 shapes, lifted from git fadaab3) ----

    head_clusters_from_pairs = sm._clusters_from_pairs

    def clusters_from_pairs_eager_ckpt(emb, pairs):
        """r12 variant: eager edge checkpoint."""
        from pyspark.sql import Window as W

        nodes = emb.select(F.col("vec_id").alias("node"))
        edges = pairs.select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
        ).localCheckpoint()
        comp = dd.connected_components_star(nodes, edges)
        w = W.partitionBy("component")
        return comp.select(
            F.col("node").alias("vec_id"),
            F.col("component").alias("component_id"),
            (F.col("node") == F.col("component")).alias("is_canonical"),
            F.count(F.lit(1)).over(w).alias("n_members"),
        )

    def nprobe_curve_inline_cosine(spark, sf_dir):
        """r12 variant: inline cosine_sim (no hoisted norms) at the sims
        join; everything else identical to HEAD."""
        from pyspark.sql import Window

        from clusterindices_spark.functions.aggregates import round6_stable
        from clusterindices_spark.functions.distances import (
            cosine_sim,
            l2sq,
        )

        emb = sm._emb(spark, sf_dir)
        probes = emb.where(F.col("vec_id") < sm.N_PROBES)
        k = sm.TOP_K
        max_p = max(sm.IVF_NPROBE_GRID)
        folded, index = sm.ivf_build(emb, n_cells=8)
        ranked = (
            probes.select(F.col("vec_id").alias("probe_id"), "x")
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
                            max_p,
                        ),
                        lambda s: s["cl"],
                    )
                ).alias("cell_rank", "cell"),
            )
        )
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
        grid = spark.createDataFrame(
            [(p,) for p in sm.IVF_NPROBE_GRID], "n_probe_cells INT"
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
        exact = sm.topk_exact(emb, probes, k=k).select("probe_id", "neighbor_id")
        n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
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

    # ---- sample machinery ----

    def run_ann(arm: str) -> float:
        sm._clusters_from_pairs = (
            head_clusters_from_pairs if arm == "A" else clusters_from_pairs_eager_ckpt
        )
        spark.sparkContext.setJobDescription(f"adjudicate ann/{arm}")
        t0 = time.monotonic()
        qs["dedup_semantic_clusters_ann"](spark, args.sf).count()
        dt = time.monotonic() - t0
        sm._clusters_from_pairs = head_clusters_from_pairs
        return round(dt, 3)

    def run_nprobe(arm: str) -> float:
        fn = (
            qs["similarity_ivf_nprobe_curve"]
            if arm == "A"
            else (lambda s, d: nprobe_curve_inline_cosine(s, d))
        )
        spark.sparkContext.setJobDescription(f"adjudicate nprobe/{arm}")
        t0 = time.monotonic()
        fn(spark, args.sf).count()
        return round(time.monotonic() - t0, 3)

    def run_control() -> float:
        spark.sparkContext.setJobDescription("adjudicate control sd_index")
        t0 = time.monotonic()
        qs["sd_index"](spark, args.sf).count()
        return round(time.monotonic() - t0, 3)

    # correctness spot-check first: both ann arms must produce identical
    # membership rows at the gate SF (the A/B is pointless otherwise)
    gate = "/root/testdata/sf0.01"
    sm._clusters_from_pairs = head_clusters_from_pairs
    rows_a = sorted(
        tuple(r) for r in qs["dedup_semantic_clusters_ann"](spark, gate).collect()
    )
    sm._clusters_from_pairs = clusters_from_pairs_eager_ckpt
    rows_b = sorted(
        tuple(r) for r in qs["dedup_semantic_clusters_ann"](spark, gate).collect()
    )
    sm._clusters_from_pairs = head_clusters_from_pairs
    same_ann = rows_a == rows_b
    np_a = sorted(tuple(r) for r in qs["similarity_ivf_nprobe_curve"](spark, gate).collect())
    np_b = sorted(tuple(r) for r in nprobe_curve_inline_cosine(spark, gate).collect())
    same_np = np_a == np_b
    print(f"# arm-equality: ann={same_ann} nprobe={same_np}", file=sys.stderr)

    # warm both keys + control at sf0.001 (codegen compile, fixture cache)
    for fn in (run_ann, run_nprobe):
        pass
    qs["dedup_semantic_clusters_ann"](spark, "/root/testdata/sf0.001").count()
    qs["similarity_ivf_nprobe_curve"](spark, "/root/testdata/sf0.001").count()
    qs["sd_index"](spark, "/root/testdata/sf0.001").count()

    samples: dict[str, list[float]] = {
        "ann/A": [],
        "ann/B": [],
        "nprobe/A": [],
        "nprobe/B": [],
        "control": [],
    }
    for i in range(args.iters):
        samples["ann/A"].append(run_ann("A"))
        samples["ann/B"].append(run_ann("B"))
        samples["nprobe/A"].append(run_nprobe("A"))
        samples["nprobe/B"].append(run_nprobe("B"))
        samples["control"].append(run_control())
        print(
            f"# round {i}: " + " ".join(f"{k}={v[-1]}" for k, v in samples.items()),
            file=sys.stderr,
        )

    out = {
        "iters": args.iters,
        "sf": args.sf,
        "arm_equal_ann": same_ann,
        "arm_equal_nprobe": same_np,
        "samples": samples,
        "min": {k: min(v) for k, v in samples.items()},
        "median": {k: sorted(v)[len(v) // 2] for k, v in samples.items()},
    }
    print(json.dumps(out))
    os.makedirs(os.path.dirname(args.report), exist_ok=True)
    with open(args.report, "w") as f:
        f.write("# r14 adjudication: semantic_clusters_ann / ivf_nprobe_curve\n\n")
        f.write(
            "Interleaved same-session A/B, cold result-memos per sample, "
            f"count() sink, local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], "
            f"{args.iters} rounds. Arm A = HEAD, arm B = r12 variant "
            "(eager edge checkpoint / inline cosine).\n\n"
        )
        f.write(f"- arm outputs identical at sf0.01: ann={same_ann}, nprobe={same_np}\n\n")
        f.write("| arm | samples (s) | min | median |\n|---|---|---|---|\n")
        for k, v in samples.items():
            f.write(
                f"| {k} | {v} | {min(v):.3f} | {sorted(v)[len(v) // 2]:.3f} |\n"
            )
    print(f"# report: {args.report}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
