"""Product-quantization tier: determinism, code shape, ADC fidelity,
recall vs the exact cosine yardstick."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from clusterindices_spark.operators.pq import (
    M_SUBSPACES,
    PQ_K,
    pq_adc_topk,
    pq_train_encode,
    q_embedding_pq_codes,
)
from clusterindices_spark.operators.similarity import _emb, topk_exact
from clusterindices_spark.sources.fixtures import load_table

from tests.conftest import SF_SMOKE


def test_pq_codes_shape_and_determinism(spark):
    a = {r.vec_id: r.code_csv for r in q_embedding_pq_codes(spark, SF_SMOKE).collect()}
    b = {r.vec_id: r.code_csv for r in q_embedding_pq_codes(spark, SF_SMOKE).collect()}
    assert a == b  # deterministic seeds + deterministic Lloyd
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(a) == n_vecs
    for csv in a.values():
        codes = [int(c) for c in csv.split(",")]
        assert len(codes) == M_SUBSPACES
        assert all(0 <= c < PQ_K for c in codes)
    # codebooks must actually discriminate: far more distinct code strings
    # than a collapsed quantizer would produce
    assert len(set(a.values())) > n_vecs // 4


def test_pq_adc_approximates_true_distance(spark):
    """ADC distance must track the true unit-vector L2²: for each probe the
    ADC-nearest neighbor's TRUE distance should be far below the corpus
    median distance (quantization error is bounded by cell radii)."""
    emb = _emb(spark, SF_SMOKE)
    codebook, codes = pq_train_encode(emb)
    probes = emb.where(F.col("vec_id") < 5)
    top = pq_adc_topk(codebook, codes, probes, k=1).collect()

    import numpy as np

    vecs = {r["vec_id"]: np.array(r["x"]) for r in emb.collect()}
    unit = {k: v / np.linalg.norm(v) for k, v in vecs.items()}

    def true_d2(a, b):
        d = unit[a] - unit[b]
        return float(d @ d)

    ids = sorted(unit)
    for r in top:
        p = r["probe_id"]
        d_star = true_d2(p, r["neighbor_id"])
        all_d = sorted(true_d2(p, o) for o in ids if o != p)
        median = all_d[len(all_d) // 2]
        assert d_star < median, (p, d_star, median)


def test_pq_recall_vs_exact(spark):
    from clusterindices_spark.operators.pq import pq_topk_reranked

    emb = _emb(spark, SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, probes, k=5).collect()
    }
    codebook, codes = pq_train_encode(emb)
    adc = {
        (r["probe_id"], r["neighbor_id"])
        for r in pq_adc_topk(codebook, codes, probes, k=5).collect()
    }
    adc_recall = len(exact & adc) / len(exact)
    # pure 4-bit ADC on near-orthogonal synthetic vectors: above chance
    # (5/500 = 1%) demonstrates the codes carry geometry at all
    assert adc_recall >= 0.1, f"pure-ADC recall {adc_recall:.2f} below floor"

    rr = {
        (r["probe_id"], r["neighbor_id"])
        for r in pq_topk_reranked(codebook, codes, emb, probes, k=5).collect()
    }
    rr_recall = len(exact & rr) / len(exact)
    # deployed shape: over-retrieve 8x + exact re-rank must recover most of
    # the true neighborhood and never lose to pure ADC
    assert rr_recall >= max(0.5, adc_recall), (
        f"re-ranked recall {rr_recall:.2f} (pure ADC {adc_recall:.2f})"
    )


def test_ivfpq_recall_vs_exact(spark):
    from clusterindices_spark.operators.pq import ivfpq_topk

    emb = _emb(spark, SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, probes, k=5).collect()
    }
    got = ivfpq_topk(emb, probes, k=5).collect()
    approx = {(r["probe_id"], r["neighbor_id"]) for r in got}
    assert len({r["probe_id"] for r in got}) == 10  # every probe answered
    recall = len(exact & approx) / len(exact)
    # cells bound recall (4/8 probed, IVF alone reaches 0.92 here); the
    # residual-PQ shortlist + exact re-rank must stay well above the
    # pure-ADC floor
    assert recall >= 0.4, f"IVF-PQ recall {recall:.2f} below floor"


def test_pq_expand_curve_monotone_with_deployed_floor(spark):
    """Recall must be monotone non-decreasing in the over-retrieve factor,
    and at the deployed PQ_EXPAND the curve must sit at or above the bench
    recall floor — the r6 'expand 8→64' A/B pinned as a regression test."""
    from clusterindices_spark.operators.pq import (
        PQ_EXPAND,
        PQ_EXPAND_GRID,
        q_similarity_pq_expand_curve,
    )

    rows = sorted(
        q_similarity_pq_expand_curve(spark, SF_SMOKE).collect(),
        key=lambda r: r["expand"],
    )
    assert [r["expand"] for r in rows] == list(PQ_EXPAND_GRID)
    recalls = [r["recall"] for r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:])), recalls
    deployed = dict(zip(PQ_EXPAND_GRID, recalls))[PQ_EXPAND]
    assert deployed >= 0.85, recalls


def test_pq_codebook_sees_overwritten_input(spark, tmp_path):
    """After the corpus file is overwritten in place, the trained codebook
    must be the new rows' codebook — the same one a never-used path
    yields."""
    path, fresh = tmp_path / "emb", tmp_path / "fresh"
    schema = "vec_id BIGINT, x ARRAY<DOUBLE>"

    def write(p, rows):
        # one file: a single scan partition keeps float aggregation order fixed
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(p)
        )

    def book(p):
        folded, _ = pq_train_encode(spark.read.parquet(str(p)), m=2, k=4)
        return sorted((r["m"], r["book"]) for r in folded.collect())

    write(path, [(i, [float((i * 7) % 5 + 1), 1.0, float(i % 3), 2.0]) for i in range(32)])
    old = book(path)
    new_rows = [(i, [1.0, float((i * 5) % 9 + 1), 3.0, float(i % 4)]) for i in range(32)]
    write(path, new_rows)
    write(fresh, new_rows)
    got = book(path)
    want = book(fresh)
    assert want != old
    assert got == want
