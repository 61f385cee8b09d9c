#!/usr/bin/env python
"""Phase-level profile of the PQ family at scale-arm size (guide §1).

Generates the deterministic scaling_curves embeddings fixture at N rows,
then times each phase of similarity_ann_pq with the noop sink:
  fit      — pq_train_encode's driver fit (count + sample collect) + encode/pin
  encode   — the corpus-scale code assignment (pinned codes count)
  adc      — pq_adc_topk over the pinned codes (k*expand candidates)
  rerank   — pq_topk_reranked end to end (includes adc)
Each phase is labelled (setJobDescription) and reported with the Spark job
count it scheduled. State is cleared before the cold pass.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

N = int(os.environ.get("PQ_PROF_N", "100000"))


def main() -> None:
    import scaling_curves as sc

    from clusterindices_spark.session import get_spark

    spark = get_spark("pq-profile", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="pq_prof_")
    try:
        t0 = time.monotonic()
        sc._GEN["embeddings"](spark, N, root)
        print(f"# fixture @{N:,}: {time.monotonic() - t0:.1f}s")

        from pyspark.sql import functions as F

        from clusterindices_spark.operators import pq as P
        from clusterindices_spark.sources.fixtures import fan_out

        def emb():
            return fan_out(
                spark.read.parquet(os.path.join(root, "embeddings.parquet"))
            ).select("vec_id", F.col("embedding").alias("x"))

        sc_ = spark.sparkContext

        def clear():
            from clusterindices_spark.functions.pins import clear_pins

            clear_pins()

        def jid():
            return int(sc_._jsc.sc().dagScheduler().nextJobId())

        # warm pass at tiny scale for codegen priming
        warm_dir = os.path.join(root, "warm")
        os.makedirs(warm_dir, exist_ok=True)
        sc._GEN["embeddings"](spark, 997, warm_dir)
        wemb = fan_out(
            spark.read.parquet(os.path.join(warm_dir, "embeddings.parquet"))
        ).select("vec_id", F.col("embedding").alias("x"))
        probes_w = wemb.where(F.col("vec_id") < P.PQ_N_PROBES)
        P.pq_topk_reranked(*P.pq_train_encode(wemb), wemb, probes_w).write.format(
            "noop"
        ).mode("overwrite").save()
        clear()

        for it in range(int(os.environ.get("PQ_PROF_ITERS", "2"))):
            clear()
            e = emb()
            probes = e.where(F.col("vec_id") < P.PQ_N_PROBES)
            j0, t0 = jid(), time.monotonic()
            sc_.setJobDescription(f"pq:{it}:train_encode")
            codebook, codes = P.pq_train_encode(e)
            t_fit = time.monotonic() - t0
            j_fit = jid() - j0
            # codes is pinned+counted inside train_encode; adc next
            j0, t0 = jid(), time.monotonic()
            sc_.setJobDescription(f"pq:{it}:adc")
            P.pq_adc_topk(
                codebook, codes, probes, k=P.PQ_TOP_K * P.PQ_EXPAND
            ).write.format("noop").mode("overwrite").save()
            t_adc = time.monotonic() - t0
            j_adc = jid() - j0
            j0, t0 = jid(), time.monotonic()
            sc_.setJobDescription(f"pq:{it}:rerank_full")
            P.pq_topk_reranked(codebook, codes, e, probes).write.format(
                "noop"
            ).mode("overwrite").save()
            t_rr = time.monotonic() - t0
            j_rr = jid() - j0
            sc_.setJobDescription(None)
            print(
                f"# iter{it}: train+encode={t_fit:.2f}s/{j_fit}j "
                f"adc(k*expand)={t_adc:.2f}s/{j_adc}j "
                f"rerank_full={t_rr:.2f}s/{j_rr}j"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
