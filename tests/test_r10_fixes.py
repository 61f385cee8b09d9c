"""Regression guards for the round-10 advisor fixes (ADVICE.md r10).

Four classes, all cross-engine divergences or latent crashes the r9
hostile gate's fixtures didn't reach:

1. NULL-ts clicks/purchases through the cogrouped as-of UDF (NaN ms cast
   NaN->int64 made the searchsorted array unsorted — purchases silently
   attributed to the NULL-ts click).
2. curation_anneal_mixture on a non-empty corpus whose token total is 0:
   the oracle emits k*T NULL-valued rows, the old guard emitted 0 rows.
3. NULL-vector LSH placeholder hardcoded the fixture dim (64) — any
   other-dimension corpus with NULL vectors crashed the hash UDF.
4. Sign-preserving % in the fit-sample hash swept every negative-id
   vector into the fit set unconditionally.
"""

import os
import sys
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

REF_SF = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def test_cogrouped_asof_ignores_null_ts_clicks(spark):
    """ADVICE r10 high: purchase@3000 with clicks@2000,1000,NaN must
    attribute to the click@2000, never the NULL-ts click."""
    from clusterindices_spark.operators.udfs import _attach_clicks

    purch = pd.DataFrame(
        {"user_id": [1], "event_id": [900], "ms": [3000.0]}
    )
    clk = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_id": [10, 11, 12],
            "ms": [2000.0, 1000.0, float("nan")],  # Arrow nulls -> NaN
        }
    )
    out = _attach_clicks(purch, clk)
    assert len(out) == 1
    r = out.iloc[0]
    assert r["click_id"] == 10 and r["click_ms"] == 2000


def test_cogrouped_asof_null_ts_purchase_unmatched(spark):
    """NULL-ts purchase: the oracle's click_ms <= NULL never matches —
    emit the purchase row with NA purchase_ms/click, not a NaN->int64
    garbage lookup."""
    from clusterindices_spark.operators.udfs import _attach_clicks

    purch = pd.DataFrame(
        {"user_id": [1, 1], "event_id": [900, 901],
         "ms": [float("nan"), 3000.0]}
    )
    clk = pd.DataFrame(
        {"user_id": [1], "event_id": [10], "ms": [2000.0]}
    )
    out = _attach_clicks(purch, clk)
    by_pid = {r.purchase_id: r for r in out.itertuples()}
    assert pd.isna(by_pid[900].purchase_ms)
    assert pd.isna(by_pid[900].click_id)
    assert by_pid[901].click_id == 10


def test_cogrouped_asof_all_clicks_null_ts(spark):
    """All clicks NULL-ts: equivalent to no clicks at all."""
    from clusterindices_spark.operators.udfs import _attach_clicks

    purch = pd.DataFrame({"user_id": [1], "event_id": [900], "ms": [3000.0]})
    clk = pd.DataFrame(
        {"user_id": [1, 1], "event_id": [10, 11],
         "ms": [float("nan"), float("nan")]}
    )
    out = _attach_clicks(purch, clk)
    assert len(out) == 1 and pd.isna(out.iloc[0]["click_id"])


def _write_docs(d: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{REF_SF}/documents.parquet").remove_metadata()
    tbl = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(schema)],
        schema=schema,
    )
    pq.write_table(tbl, f"{d}/documents.parquet")


@pytest.mark.skipif(not os.path.isdir(REF_SF), reason="driver testdata absent")
def test_anneal_mixture_zero_token_corpus_matches_oracle(spark):
    """ADVICE r10 medium: sources exist but every text is empty/NULL —
    the oracle emits k*ANNEAL_STEPS rows with NULL share/weight/tpm;
    the old `if not total` guard emitted 0 rows."""
    import duckdb

    from clusterindices_spark.operators.curation import (
        ANNEAL_STEPS,
        ORACLES,
        q_curation_anneal_mixture,
    )

    rows = [
        (1, "", "en", "srcA", 0),
        (2, None, "en", "srcA", 0),
        (3, "", "en", "srcB", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(d, rows)
        got = q_curation_anneal_mixture(spark, d).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{d}/documents.parquet')"
        )
        want = con.execute(ORACLES["curation_anneal_mixture"]).fetchall()
    assert len(got) == 2 * ANNEAL_STEPS == len(want)
    for r in got:
        assert r["target_share"] is None
        assert r["weight"] is None
        assert r["tokens_per_million"] is None
    for w in want:
        assert w[2] is None and w[3] is None and w[4] is None


@pytest.mark.skipif(not os.path.isdir(REF_SF), reason="driver testdata absent")
def test_anneal_mixture_empty_corpus_still_empty(spark):
    from clusterindices_spark.operators.curation import (
        q_curation_anneal_mixture,
    )

    with tempfile.TemporaryDirectory() as d:
        _write_docs(d, [])
        assert q_curation_anneal_mixture(spark, d).count() == 0


def test_corpus_dim_measured_not_assumed(spark):
    from clusterindices_spark.operators.similarity import (
        NULL_VEC_PLACEHOLDER_DIM,
        _corpus_dim,
    )

    emb = spark.createDataFrame(
        [(1, None), (2, [1.0] * 16), (3, [2.0] * 16)],
        "vec_id bigint, x array<double>",
    )
    assert _corpus_dim(emb) == 16
    all_null = spark.createDataFrame(
        [(1, None)], "vec_id bigint, x array<double>"
    )
    assert _corpus_dim(all_null) == NULL_VEC_PLACEHOLDER_DIM


def test_lsh_paths_survive_null_vectors_on_16dim_corpus(spark):
    """ADVICE r10 low: a non-64-dim corpus with NULL vectors used to feed
    a wrong-length placeholder to the LSH hash UDF and crash."""
    from clusterindices_spark.operators.similarity import (
        ann_lsh_topk,
        semantic_pairs_ann,
    )

    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(16)])
            for i in range(1, 9)]
    rows.append((9, None))
    rows.append((10, [0.0] * 16))  # zero-norm
    emb = spark.createDataFrame(rows, "vec_id bigint, x array<double>")
    pairs = semantic_pairs_ann(emb, threshold=0.99)
    pairs.collect()  # must not crash; content is threshold-dependent
    topk = ann_lsh_topk(emb, emb.where(F.col("vec_id") == 1), k=2)
    got = topk.collect()
    assert all(r["probe_id"] == 1 for r in got)


def test_fit_sample_hash_pmod_on_negative_ids(spark):
    """ADVICE r10 low: the fit-sample filter must reduce NEGATIVE ids
    into [0, 1000003) so the cap holds; sign-preserving % passed every
    negative id. Pins both the expression semantics and that the one
    source site, lloyd.hash_slice (called by lloyd.fit_seeded, the IVF and
    PQ fits), uses pmod."""
    expr = "pmod(pmod(vec_id, 1000003) * 2654435761, 1000003)"
    df = spark.range(-4000, 0).withColumnRenamed("id", "vec_id")
    lo, hi, n_under = (
        df.select(F.expr(expr).alias("h"))
        .agg(
            F.min("h"), F.max("h"),
            F.sum(F.when(F.col("h") < 50000, 1).otherwise(0)),
        )
        .first()
    )
    assert lo >= 0 and hi < 1000003
    # ~5% expected at thresh 50000; the broken form selected 100%
    assert n_under < 4000 * 0.25
    import inspect

    from clusterindices_spark.functions import lloyd
    from clusterindices_spark.operators import pq as pqmod
    from clusterindices_spark.operators import similarity as simmod

    assert lloyd.hash_slice(df, 4000, 200).count() < 4000 * 0.25
    assert "pmod(pmod(vec_id" in inspect.getsource(lloyd)
    for mod in (lloyd, pqmod, simmod):
        src = inspect.getsource(mod)
        assert "(vec_id % 1000003) * 2654435761" not in src
    assert "hash_slice(" in inspect.getsource(lloyd.fit_seeded)
    for mod in (pqmod, simmod):
        assert "fit_seeded(" in inspect.getsource(mod)


def test_bench_hist_medians_same_sf_only(tmp_path):
    """VERDICT r10 item 2: the auto-rerun trigger reads per-key medians
    from bench_history.jsonl, filtered to the SAME sf before the last-N
    window is taken (a window over mixed sfs would starve the target sf)."""
    import json as _json

    import bench

    repo = tmp_path
    (repo / "reports").mkdir()
    lines = [
        {"sf": 0.1, "queries": {"k1": 1.0, "k2": 5.0}},
        {"sf": 0.01, "queries": {"k1": 99.0}},  # other sf: ignored
        {"sf": 0.1, "queries": {"k1": 2.0}},
        {"sf": 0.1, "queries": {"k1": 3.0}},
    ]
    with open(repo / "reports" / "bench_history.jsonl", "w") as f:
        for e in lines:
            f.write(_json.dumps(e) + "\n")
    h = bench._hist_medians(str(repo), 0.1)
    assert h == {"k1": 2.0, "k2": 5.0}
    assert bench._hist_medians(str(repo), 0.5) == {}
    # last_n window applies AFTER the sf filter
    h2 = bench._hist_medians(str(repo), 0.1, last_n=2)
    assert h2 == {"k1": 2.5}


def test_fold_lower_cross_engine_parity(spark):
    """VERDICT r10 item 5: the locale-stable fold makes Spark (ICU full
    casemap) and DuckDB (simple map) agree on the special-casing code
    points U+0130 and U+03A3 — previously 10 permanent hostile-gate pins."""
    import duckdb

    from clusterindices_spark.functions.text import (
        SQL_FOLD_LOWER,
        fold_lower,
    )

    texts = ["İstanbul Iı", "ΣΙΣΥΦΟΣ", "mixed İ and Σ here", "plain ascii",
             "İ\u0307 İ\u0301x xİ\u0308 ΣΣ ΑΣ. 𝐀Σ😀İ"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["f"] for r in
           df.select(fold_lower(F.col("t")).alias("f")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT " + SQL_FOLD_LOWER.format(col="?::VARCHAR"), [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
    # the exact divergence the pins covered: bare lower() disagrees
    bare_spark = df.select(F.lower(F.col("t")).alias("f")).collect()
    bare_duck = [con.execute("SELECT lower(?::VARCHAR)", [t]).fetchone()[0]
                 for t in texts]
    assert [r["f"] for r in bare_spark][0] != bare_duck[0]  # İ case


def test_knn_graph_excludes_null_and_zero_norm_vectors(spark):
    """r10 NULL/zero-norm contract for the graph tier (aligns with the
    exact/LSH tiers): directionless vectors appear on NEITHER side —
    previously a NULL-x probe emitted k junk rows with NULL sims."""
    from clusterindices_spark.operators.similarity import knn_graph

    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(8)])
            for i in range(1, 30)]
    rows += [(30, None), (31, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id bigint, x array<double>")
    got = knn_graph(emb, k=3, n_cells=4).collect()
    ids = {r["probe_id"] for r in got} | {r["neighbor_id"] for r in got}
    assert 30 not in ids and 31 not in ids
    assert all(r["sim"] is not None for r in got)
    # auto cell sizing floors at 16
    auto = knn_graph(emb, k=3, n_cells=None)
    assert auto.count() > 0


def test_banded_tiers_drop_hot_buckets(spark):
    """r10 scale-hostile finding: an exact-dup clique puts identical
    signatures in ONE bucket of EVERY band — C(clique,2)·n_bands candidate
    rows (4e13 at the 100k mega-group) with no cap. Buckets over
    MAX_BAND_BUCKET are now dropped (the stop-shingle precedent): the
    mega-clique emits no banded pairs (exact-dedup-tier work by contract)
    while small near-dup groups still match."""
    from clusterindices_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        minhash_pairs,
        simhash_pairs,
    )

    mega = [(i, "identical mega duplicate text block shared verbatim",
             "en", "src0", 48) for i in range(1000, 1000 + MAX_BAND_BUCKET + 50)]
    small = [(j, f"near duplicate group text variant {j % 2} tail words",
              "en", "src0", 40) for j in range(10, 28)]
    d = spark.createDataFrame(
        mega + small,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    mh = minhash_pairs(d, threshold=0.5).collect()
    mega_ids = {r[0] for r in mega}
    assert not any(r["doc_a"] in mega_ids or r["doc_b"] in mega_ids
                   for r in mh), "mega clique must not emit banded pairs"
    assert any(r["doc_a"] >= 10 and r["doc_b"] < 30 for r in mh), \
        "small near-dup group must still pair"
    stats = {}
    sh = simhash_pairs(d, stats=stats).collect()
    assert not any(r["doc_a"] in mega_ids or r["doc_b"] in mega_ids
                   for r in sh)
    # the drop is reported: every band of the clique is one hot bucket
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_band_rows"] >= len(mega)
    clean = {}
    simhash_pairs(
        spark.createDataFrame(
            small,
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint",
        ),
        stats=clean,
    ).collect()
    assert clean == {"dropped_buckets": 0, "dropped_band_rows": 0}


def test_path_trigrams_null_type_nullifies_window(spark):
    """r10 NULL-event_type detector: concat_ws SKIPS NULL elements, so a
    trigram window containing a NULL type rendered as a fake bigram while
    the oracle's || nullified it. Both engines now drop such windows."""
    from clusterindices_spark.operators.analytics import (
        q_events_path_trigrams,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{REF_SF}/events.parquet").remove_metadata()
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "view", 1.0, "{}"),
        (2, base, 7, "purchase", 1.0, "{}"),
        (3, base, 7, None, 1.0, "{}"),   # NULL type mid-path
        (4, base, 7, "click", 1.0, "{}"),
        (5, base, 7, "purchase", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        tbl = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(schema)],
            schema=schema,
        )
        pq.write_table(tbl, f"{d}/events.parquet")
        got = {r["trigram"] for r in q_events_path_trigrams(spark, d).collect()}
    # only the one NULL-free window survives; no fake 2-part strings
    assert got == {"click>purchase"} or got == set() or all(
        t.count(">") == 2 for t in got
    )
    assert "purchase>click" not in got  # the old concat_ws rendering


def test_power_mde_singleton_group_null_stats(spark):
    """r10: a singleton group (n=1 -> n-1 = 0, n_arm = 0) must yield NULL
    sizing stats, not an ANSI divide-by-zero crash."""
    from clusterindices_spark.operators.analytics import q_events_power_mde
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    schema = pq.read_schema(f"{REF_SF}/events.parquet").remove_metadata()
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base, 7, "signup", 2.0, "{}")]
    with tempfile.TemporaryDirectory() as d:
        tbl = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(schema)],
            schema=schema,
        )
        pq.write_table(tbl, f"{d}/events.parquet")
        out = q_events_power_mde(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 1 and r["sd"] is None and r["mde_abs"] is None


def test_quantiles_bucketed_keeps_null_type_group(spark):
    """r10: the bucketed-CDF refinement join keyed on event_type silently
    dropped the NULL-type group's quantiles (NULL join keys never match);
    eqNullSafe carries it — parity with the definitional oracle."""
    from clusterindices_spark.operators.relational_ext import (
        q_agg_quantiles_bucketed,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    schema = pq.read_schema(f"{REF_SF}/events.parquet").remove_metadata()
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base, 7, None if i % 2 else "view", float(i), "{}")
            for i in range(1, 21)]
    with tempfile.TemporaryDirectory() as d:
        tbl = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(schema)],
            schema=schema,
        )
        pq.write_table(tbl, f"{d}/events.parquet")
        out = q_agg_quantiles_bucketed(spark, d).collect()
    types = {r["event_type"] for r in out}
    assert None in types and "view" in types


def test_cogrouped_asof_null_user_group_never_attributes():
    """r10½ (fuzz gate seed 101000): Spark's cogroup keys NULL user_id like
    a regular value, so NULL-user purchases landed in one group with
    NULL-user clicks and got attributed; the oracle's equi-join
    (c.user_id = p.user_id) never matches NULL. Purchases keep their rows
    (LEFT JOIN cardinality), clicks must not participate."""
    import numpy as np
    import pandas as pd

    from clusterindices_spark.operators.udfs import _attach_clicks

    purch = pd.DataFrame(
        {"user_id": [np.nan, np.nan], "event_id": [10.0, 11.0],
         "ms": [3000.0, 5000.0]}
    )
    clk = pd.DataFrame(
        {"user_id": [np.nan], "event_id": [20.0], "ms": [2000.0]}
    )
    out = _attach_clicks(purch, clk)
    assert len(out) == 2
    assert out["click_id"].isna().all() and out["click_ms"].isna().all()
    # non-NULL groups unaffected
    purch2 = pd.DataFrame(
        {"user_id": [7, 7], "event_id": [10, 11], "ms": [3000, 5000]}
    )
    clk2 = pd.DataFrame({"user_id": [7], "event_id": [20], "ms": [2000]})
    out2 = _attach_clicks(purch2, clk2)
    assert out2["click_id"].tolist() == [20, 20]
