"""Round-8 hardening: ADVICE r7 fixes pinned — empty-corpus guard on the
dim-covariance Gram path, roundtrip tempdir keying by full fixture path,
and the attribution integer-div parity (the 2^53 family of hazards)."""

import os
import tempfile


def test_dim_covariance_empty_corpus(spark):
    """An empty embeddings table must return the empty 8-column frame,
    not TypeError on first() → None (ADVICE r7)."""
    from clusterindices_spark.operators.embeddings import (
        q_embedding_dim_covariance,
    )

    tmp = tempfile.mkdtemp(prefix="ci-emptyemb-")
    spark.createDataFrame(
        [], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    out = q_embedding_dim_covariance(spark, tmp)
    assert out.count() == 0
    # same output surface as the populated path
    assert "corr" in out.columns and "cov" in out.columns


def test_roundtrip_path_distinct_roots_same_basename():
    """Two fixture roots sharing a basename (/a/sf0.1 vs /b/sf0.1) must
    get DISTINCT roundtrip dirs in one session (ADVICE r7), while the
    same root must keep reusing ONE location."""
    from clusterindices_spark.sources.readers import _roundtrip_path

    a = os.path.join(tempfile.mkdtemp(prefix="ci-rt-a-"), "sf0.1")
    b = os.path.join(tempfile.mkdtemp(prefix="ci-rt-b-"), "sf0.1")
    pa_, pb = _roundtrip_path("csv", a), _roundtrip_path("csv", b)
    assert pa_ != pb
    assert _roundtrip_path("csv", a) == pa_  # stable per root
    assert _roundtrip_path("json", a) != pa_  # format-keyed


def test_cc_nonconvergence_raises(spark, monkeypatch):
    """A chain needs ~2·log₂(len) star rounds; a cap below that must RAISE,
    never return silently-wrong labels (the round-8 5M-node stress found
    672k bad labels under the old silent truncation). The star engine's
    driver finish is off (edge budget 0), so the chain runs its rounds."""
    import pytest

    from clusterindices_spark.operators import dedup
    from clusterindices_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    monkeypatch.setattr(dedup, "LOCAL_CC_EDGES", 0)
    n = 64
    nodes = spark.range(0, n).selectExpr("id AS node")
    edges = spark.range(0, n - 1).selectExpr("id AS src", "id+1 AS dst")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components_star(nodes, edges, max_iters=2)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iters=3)
    # and with enough rounds both close the chain exactly
    st: dict = {}
    out = connected_components_star(nodes, edges, stats=st)
    assert st["converged"] and st["rounds"] > 2
    assert out.where("component != 0").count() == 0


def test_url_canonical_past_2_53(spark):
    """Page id = doc_id div 4 must stay exact past 2^53: at 2^55 doubles
    are spaced 8 apart, so floor-of-double maps doc_id 2^55+4 (true page
    2^53+1) onto page 2^53 and MERGES two different pages' URLs. The
    integer-div form must keep the two variant-groups separate."""
    from clusterindices_spark.operators.dedup import q_dedup_url_canonical

    big = 1 << 55
    # docs 0-3 -> page big/4; docs 4-7 -> page big/4+1. Per page, variants
    # 0+1 canonicalize together and 2+3 canonicalize together -> 2 dup
    # groups of 2 per page, 4 groups total; a double-division page
    # collapse re-buckets doc big+3 onto the next page and breaks the
    # pairing.
    rows = [(big + i, "en", 10, "t") for i in range(8)]
    tmp = tempfile.mkdtemp(prefix="ci-url53-")
    spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, n_chars INT, text STRING"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = q_dedup_url_canonical(spark, tmp).collect()
    assert len(out) == 4
    assert all(r["n_copies"] == 2 for r in out)
    pages = {r["canonical_url"].split("/page/")[1].split("?")[0] for r in out}
    assert pages == {str(big // 4), str(big // 4 + 1)}


def test_scalar_math_idiv_past_2_53(spark):
    """idiv = l_orderkey div 7 must be the exact integer quotient at
    snowflake scale (floor(x/7.0) in double drifts once x > 2^53)."""
    from clusterindices_spark.operators.relational import q_scalar_math

    # x = 2^53+23: x ≡ 6 (mod 7) and double(x) ties-to-even UP to x+1,
    # a multiple of 7 — so floor(double(x)/7.0) lands on true_quotient+1
    # (red under the old form); integer div must give the true quotient
    big = (1 << 53) + 23
    tmp = tempfile.mkdtemp(prefix="ci-idiv53-")
    spark.createDataFrame(
        [(big, 1, 100.0, 1.0, 0.05)],
        "l_orderkey BIGINT, l_linenumber INT, l_extendedprice DOUBLE, "
        "l_quantity DOUBLE, l_discount DOUBLE",
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    (r,) = q_scalar_math(spark, tmp).collect()
    assert r["idiv"] == big // 7


def test_sample_weighted_snowflake_ids(spark):
    """doc_id = 5e9 breaks the raw Knuth multiply (5e9 * 2654435761 >
    2^63 → ANSI error / wrap); the mod-before-multiply form must select
    fine and by modular arithmetic pick the same clocks as small ids with
    the same residue (int64_audit HIGH hit, round 8)."""
    from clusterindices_spark.operators.curation import (
        _ES_M,
        q_curation_sample_weighted,
    )

    big = 5_000_000_000
    rows = [
        (big + i, "en", 100, "x" * 10) for i in range(5)
    ] + [((big + i) % _ES_M, "fr", 100, "y" * 10) for i in range(5)]
    tmp = tempfile.mkdtemp(prefix="ci-esample-")
    spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, n_chars INT, text STRING"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = q_curation_sample_weighted(spark, tmp).collect()
    en = sorted(
        (r["es_key"] for r in out if r["lang"] == "en")
    )
    fr = sorted((r["es_key"] for r in out if r["lang"] == "fr"))
    assert len(en) == 5 and en == fr  # same residues → same clocks


def test_attribution_share_is_integer_div(spark):
    """Planted purchase with 3 touches: 10 µ-revenue splits as
    div(10,3)=3 per touch, remainder dropped — 9 µ attributed total.
    Exercises the integer-div share path (ADVICE r7)."""
    from datetime import datetime, timezone

    from clusterindices_spark.operators.analytics import (
        q_events_attribution_linear,
    )

    def ts(ms):
        return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(
            tzinfo=None
        )

    base = 1_704_067_200_000  # 2024-01-01
    rows = [
        (1, ts(base + 1000), 7, "view", 0.0),
        (2, ts(base + 2000), 7, "click", 0.0),
        (3, ts(base + 3000), 7, "search", 0.0),
        # purchase of 0.000010 → 10 µ, after the 3 touches
        (4, ts(base + 4000), 7, "purchase", 0.000010),
    ]
    tmp = tempfile.mkdtemp(prefix="ci-attr-")
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE",
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    out = {
        r["channel"]: r for r in q_events_attribution_linear(spark, tmp).collect()
    }
    assert set(out) == {"view", "click", "search"}
    for ch in out:
        assert out[ch]["n_touches"] == 1
        assert abs(out[ch]["attributed_revenue"] - 3e-06) < 1e-12
