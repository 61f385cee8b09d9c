"""Banded MinHash: the driver finish against the Spark joins.

``minhash_pairs`` bands, caps and verifies in NumPy on the driver when the
per-doc band table, the candidate pairs and the candidates' shingles each
fit ``LOCAL_LSH_ROWS`` rows; with the budget at 0 every corpus runs the
Spark path (hot-bucket agg, band self-join, distinct, verification joins)
instead. Both must give the same rows with bit-equal Jaccard values, and
the same ``stats`` apart from ``finish``.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pytest

from clusterindices_spark.operators import dedup
from tests.test_dedup_similarity import BASE, EDGE_DOCS, hot_family_docs

SCHEMA = "doc_id BIGINT, text STRING"


def _run(d, budget, monkeypatch, threshold=0.5):
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", budget)
    stats: dict = {}
    pairs = dedup.minhash_pairs(d, threshold=threshold, stats=stats)
    rows = sorted((r["doc_a"], r["doc_b"], r["jaccard"].hex()) for r in pairs.collect())
    return rows, stats, pairs.schema


def _both(d, monkeypatch, threshold=0.5):
    """(rows, stats) of the driver finish, checked against the Spark path."""
    local, st_local, sc_local = _run(d, 1 << 21, monkeypatch, threshold)
    spark_rows, st_spark, sc_spark = _run(d, 0, monkeypatch, threshold)
    assert local == spark_rows
    assert [(f.name, f.dataType) for f in sc_local] == [
        (f.name, f.dataType) for f in sc_spark
    ]
    assert st_local["finish"] == "driver"
    assert st_spark == {**st_local, "finish": st_spark["finish"]}
    return local, st_local, st_spark


def _planted_family(n, extra=()):
    """``n`` copies of BASE[0] with one word swapped per copy."""
    toks = BASE[0].split()
    rows = []
    for i in range(n):
        t = list(toks)
        t[i % len(t)] = f"swap{i}"
        rows.append((i, " ".join(t)))
    return rows + list(extra)


def test_edge_docs_and_planted_pair(spark, monkeypatch):
    rows = EDGE_DOCS + [(20, BASE[0]), (21, BASE[0].replace("brown", "EDITED"))]
    got, st, st_spark = _both(spark.createDataFrame(rows, SCHEMA), monkeypatch)
    assert (20, 21) in {(a, b) for a, b, _ in got}
    assert st_spark["finish"] == "spark"


def test_hot_bucket_family(spark, monkeypatch):
    family, unrelated = hot_family_docs()
    d = spark.createDataFrame(family + unrelated, SCHEMA)
    got, st, _ = _both(d, monkeypatch)
    assert 0 < len(got) < 150 * 149 // 2
    assert st["dropped_buckets"] > 0
    assert st["dropped_band_rows"] > st["dropped_buckets"] * dedup.MAX_BAND_BUCKET


def test_null_doc_ids_fill_buckets_but_never_pair(spark, monkeypatch):
    """MAX_BAND_BUCKET identical docs share one bucket per band: it is kept
    and gives all C(100, 2) pairs. One NULL-id copy more puts every bucket
    over the cap: the NULL row counts towards occupancy, so all 8 buckets
    (101 rows each) are dropped, on both paths."""
    n = dedup.MAX_BAND_BUCKET
    text = BASE[1]
    clique = [(i, text) for i in range(n)]
    got, st, _ = _both(spark.createDataFrame(clique, SCHEMA), monkeypatch)
    assert len(got) == n * (n - 1) // 2 and st["dropped_buckets"] == 0

    # every NULL-id row is one doc of the band table: a NULL copy of the
    # clique's text has the clique's band hashes
    got, st, _ = _both(spark.createDataFrame(clique + [(None, text)], SCHEMA), monkeypatch)
    n_bands = dedup.MINHASH_SEEDS // dedup.MINHASH_BAND_ROWS
    assert got == []
    assert st["dropped_buckets"] == n_bands
    assert st["dropped_band_rows"] == n_bands * (n + 1)

    planted = _planted_family(4, [(None, BASE[0]), (None, BASE[0] + " more")])
    got, _, _ = _both(spark.createDataFrame(planted, SCHEMA), monkeypatch)
    assert got and all(a is not None and b is not None for a, b, _ in got)


def test_duplicate_doc_ids_give_one_row_per_copy(spark, monkeypatch):
    """The verification joins emit one row per (copy of a, copy of b), each
    with its own Jaccard. Copies with NULL or empty text join
    too; NULL shingles have no Jaccard, and neither has a pair of two
    empty copies (empty union)."""
    edited = BASE[0].replace("lazy", "sleepy")
    rows = [
        (1, BASE[0]),
        (1, edited),
        (1, ""),
        (1, None),
        (2, BASE[0]),
        (2, BASE[0]),
        (2, BASE[0] + " and more words here"),
        (2, ""),
        (3, BASE[3]),
        (3, BASE[3]),
    ]
    d = spark.createDataFrame(rows, SCHEMA)
    got, _, _ = _both(d, monkeypatch)
    # J ≥ 0.5: BASE[0] × its two copies and the longer text, edited × the
    # two copies (edited × longer is 9/19)
    assert len([p for p in got if p[:2] == (1, 2)]) == 5
    # threshold 0 keeps every row that has a Jaccard, including 0.0 ones
    got0, _, _ = _both(d, monkeypatch, threshold=0.0)
    assert len([p for p in got0 if p[:2] == (1, 2)]) == 11  # 4×3, less empty×empty


def test_int_doc_ids_keep_their_type(spark, monkeypatch):
    d = spark.createDataFrame(_planted_family(6), "doc_id INT, text STRING")
    got, _, _ = _both(d, monkeypatch)
    assert got
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 1 << 21)
    schema = dedup.minhash_pairs(d).schema
    assert [f.dataType.simpleString() for f in schema] == ["int", "int", "double"]


def test_empty_input_and_no_candidates(spark, monkeypatch):
    empty = spark.createDataFrame([], SCHEMA)
    got, st, st_spark = _both(empty, monkeypatch)
    assert got == [] and st_spark["finish"] == "driver"  # fits any budget
    assert st == {"dropped_buckets": 0, "dropped_band_rows": 0, "finish": "driver"}

    unrelated = spark.createDataFrame(list(enumerate(BASE)), SCHEMA)
    got, st, st_spark = _both(unrelated, monkeypatch)
    assert got == [] and st_spark["finish"] == "spark"


def test_spark_path_plan(spark, monkeypatch):
    """Over the budget the pairs come from the banded joins: bands exploded
    from the band table, an equi-join on (band, bh), broadcast hash joins,
    map-side partial aggregates, and neither a cartesian product nor a
    single-partition exchange."""
    rows = EDGE_DOCS + [(20, BASE[0]), (21, BASE[0].replace("brown", "EDITED"))]
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 0)
    stats: dict = {}
    pairs = dedup.minhash_pairs(spark.createDataFrame(rows, SCHEMA), stats=stats)
    assert pairs.collect() and stats["finish"] == "spark"
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    for frag in ("Generate", "BroadcastHashJoin", "partial"):
        assert frag in plan, frag
    # the shingle explode under the signature aggregate is a Generate too
    assert "Generate explode(array(struct(band, 0, bh, b0#" in plan
    assert re.search(r"(HashJoin|SortMergeJoin) \[band#\d+, bh#\d+\]", plan)
    for frag in ("CartesianProduct", "Exchange SinglePartition"):
        assert frag not in plan, frag


def test_seeds_below_one_band_raise(spark):
    d = spark.createDataFrame(list(enumerate(BASE)), SCHEMA)
    with pytest.raises(ValueError, match="seeds"):
        dedup.minhash_pairs(d, seeds=dedup.MINHASH_BAND_ROWS - 1)


def _brute_band_pairs(ids, valid, bh):
    n_bands, n = bh.shape
    buckets: dict = {}
    for b in range(n_bands):
        for i in range(n):
            buckets.setdefault((b, int(bh[b, i])), []).append(i)
    hot = {k: v for k, v in buckets.items() if len(v) > dedup.MAX_BAND_BUCKET}
    pairs = set()
    for k, rows in buckets.items():
        if k in hot:
            continue
        live = [i for i in rows if valid[i]]
        for x in live:
            for y in live:
                if ids[x] < ids[y]:
                    pairs.add((x, y))
    return sorted(pairs), len(hot), sum(len(v) for v in hot.values())


@pytest.mark.parametrize("n,width", [(0, 3), (1, 3), (40, 2), (300, 3), (300, 400)])
def test_band_pairs_match_brute_force(n, width):
    rng = np.random.default_rng(n + width)
    n_bands = 8
    ids = rng.permutation(10 * max(n, 1))[:n].astype(np.int64) - 5 * n
    valid = rng.random(n) > 0.1
    bh = rng.integers(-width, width, (n_bands, n)).astype(np.int32)
    stats: dict = {}
    ra, rb = dedup._band_pairs(ids, valid, bh, stats)
    want, n_hot, hot_rows = _brute_band_pairs(ids, valid, bh)
    assert sorted(zip(ra.tolist(), rb.tolist())) == want
    assert stats == {"dropped_buckets": n_hot, "dropped_band_rows": hot_rows}


def test_minhash_pairs_job_count(spark, monkeypatch):
    """A near-dup corpus under the budget: the call plus a count of its
    result run at most 9 jobs (8 here; the Spark joins ran 10), and
    give the Spark path's rows."""
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(3000)]
    rows = []
    for g in range(150):
        toks = [rng.choice(vocab) for _ in range(30)]
        for c in range(rng.randint(1, 4)):
            t = list(toks)
            t[rng.randrange(30)] = rng.choice(vocab)
            rows.append((g * 10 + c, " ".join(t)))
    d = spark.createDataFrame(rows, SCHEMA).persist()
    d.count()
    dedup.clear_pins()
    sc = spark.sparkContext
    sc.setJobGroup("minhash-job-count", "minhash_pairs")
    try:
        pairs = dedup.minhash_pairs(d)
        n = pairs.count()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("minhash-job-count"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    want, _, _ = _run(d, 0, monkeypatch)
    got = sorted((r["doc_a"], r["doc_b"], r["jaccard"].hex()) for r in pairs.collect())
    d.unpersist()
    assert got == want and n == len(want) > 100
    assert n_jobs <= 9, n_jobs
