"""Banded MinHash: the driver finish against the Spark joins.

``minhash_pairs`` shingles, hashes, bands, caps and verifies in NumPy on
the driver when the text's bytes fit ``LOCAL_LSH_BYTES`` and its rows per
band, the candidate pairs and their row pairs each fit
``LOCAL_LSH_ROWS``; with the latter budget at 0 every
non-empty corpus runs the Spark path (shingle checkpoint, signature aggregate,
hot-bucket agg, band self-join, distinct, verification joins) instead.
Both must give the same rows with bit-equal Jaccard values, and the same
``stats`` apart from ``finish``.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from clusterindices_spark.functions.sparkhash import arrow_bytes
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


def test_null_doc_ids_never_fill_buckets(spark, monkeypatch):
    """MAX_BAND_BUCKET identical docs share one bucket per band: it is kept
    and gives all C(100, 2) pairs. A NULL-id copy more changes nothing:
    NULL-id rows are dropped before the signature, on both paths, so they
    neither pair nor count towards a bucket's occupancy."""
    n = dedup.MAX_BAND_BUCKET
    text = BASE[1]
    clique = [(i, text) for i in range(n)]
    got, st, _ = _both(spark.createDataFrame(clique, SCHEMA), monkeypatch)
    assert len(got) == n * (n - 1) // 2 and st["dropped_buckets"] == 0

    with_null, st, _ = _both(
        spark.createDataFrame(clique + [(None, text)], SCHEMA), monkeypatch
    )
    assert with_null == got
    assert st["dropped_buckets"] == 0 and st["dropped_band_rows"] == 0
    assert st["text_rows"] == n

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
    assert st == {
        "text_rows": 0,
        "text_bytes": 0,
        "dropped_buckets": 0,
        "dropped_band_rows": 0,
        "finish": "driver",
    }

    unrelated = spark.createDataFrame(list(enumerate(BASE)), SCHEMA)
    got, st, st_spark = _both(unrelated, monkeypatch)
    assert got == [] and st_spark["finish"] == "spark"


def test_spark_path_plan(spark, monkeypatch):
    """Over the budget the pairs come from the banded joins: bands exploded
    from the band table, an equi-join on (band, bh), broadcast hash joins,
    map-side partial aggregates, and neither a cartesian product nor a
    single-partition exchange. The shingles and the band table are
    checkpointed for the call, so their plans are read from the frames
    handed to ``localCheckpoint``."""
    rows = EDGE_DOCS + [(20, BASE[0]), (21, BASE[0].replace("brown", "EDITED"))]
    d = spark.createDataFrame(rows, SCHEMA)
    checkpointed = []
    local_checkpoint = type(d).localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(df)
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(d), "localCheckpoint", spy)
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 0)
    stats: dict = {}
    pairs = dedup.minhash_pairs(d, stats=stats)
    assert pairs.collect() and stats["finish"] == "spark"
    assert len(checkpointed) == 2
    plan = "\n".join(
        f._jdf.queryExecution().executedPlan().toString() for f in [pairs, *checkpointed]
    )
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


def _brute_band_pairs(ids, bh):
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
        for x in rows:
            for y in rows:
                if ids[x] < ids[y]:
                    pairs.add((x, y))
    return sorted(pairs), len(hot), sum(len(v) for v in hot.values())


@pytest.mark.parametrize("n,width", [(0, 3), (1, 3), (40, 2), (300, 3), (300, 400)])
def test_band_pairs_match_brute_force(n, width):
    rng = np.random.default_rng(n + width)
    n_bands = 8
    ids = rng.permutation(10 * max(n, 1))[:n].astype(np.int64) - 5 * n
    bh = rng.integers(-width, width, (n_bands, n)).astype(np.int32)
    stats: dict = {}
    ra, rb = dedup._band_pairs(ids, bh, stats)
    want, n_hot, hot_rows = _brute_band_pairs(ids, bh)
    assert sorted(zip(ra.tolist(), rb.tolist())) == want
    assert stats == {"dropped_buckets": n_hot, "dropped_band_rows": hot_rows}


def test_minhash_pairs_job_count(spark, monkeypatch):
    """A near-dup corpus under the budget: the call plus a count of its
    result run at most 5 jobs (the decision aggregate, the text collect
    and the count; the Spark joins ran 10), and give the Spark path's
    rows."""
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
    assert n_jobs <= 5, n_jobs


def _random_text(rng, n_words):
    """Words of 1–14 characters from a mixed-script, mixed-case alphabet
    (so trigrams cross the hash's 4-, 8- and 32-byte branches), joined by
    runs of spaces, tabs, newlines and vertical tabs; a no-break space is
    part of a word."""
    alpha = "abcXYZ09éÜßİΣς中\U0001f600 "
    seps = [" ", "  ", "\t", "\n", " \r\n ", "\x0b", "\x0c"]
    words = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 14))) for _ in range(n_words)]
    return rng.choice(["", " ", "\t"]) + "".join(w + rng.choice(seps) for w in words)


def test_driver_trigrams_match_doc_shingles(spark):
    """The driver's trigram spans, as byte sets, equal ``_doc_shingles``'
    arrays row by row on degenerate and on random text, NULL text aside
    (it has no shingles and is never collected); ``_row_trigrams``' codes
    give every row its distinct trigrams once, and two rows share as many
    codes as they share trigrams."""
    rng = random.Random(11)
    rows = EDGE_DOCS + [(100 + i, _random_text(rng, rng.randint(0, 30))) for i in range(200)]
    # repeated words make repeated trigrams within and across rows
    rows += [(400 + i, " ".join(rng.choice("abc") for _ in range(12))) for i in range(20)]
    d = spark.createDataFrame(rows, SCHEMA)
    want = {r["doc_id"]: r["shingles"] for r in dedup._doc_shingles(d).collect()}
    assert {k for k, v in want.items() if v is None} == {1}
    table = d.where("text IS NOT NULL").select(
        "doc_id", dedup._collapsed(F.col("text")).alias("s")
    ).toArrow()
    s = table.column("s").combine_chunks()
    ids = table.column("doc_id").to_pylist()

    data = arrow_bytes(s)[0].tobytes()
    spans: dict = {i: set() for i in ids}
    for r, a, n in zip(*(v.tolist() for v in dedup._trigram_spans(s))):
        spans[ids[r]].add(data[a : a + n].decode())
    assert spans == {k: set(v) for k, v in want.items() if v is not None}
    assert sum(map(len, spans.values())) > 2000

    codes: dict = {i: [] for i in ids}
    for r, c in zip(*(v.tolist() for v in dedup._row_trigrams(s))):
        codes[ids[r]].append(c)
    assert {k: len(v) for k, v in codes.items()} == {k: len(v) for k, v in spans.items()}
    keys = sorted(ids)
    for a, b in zip(keys, keys[1:] + keys[:1]):
        assert len(set(codes[a]) & set(codes[b])) == len(spans[a] & spans[b]), (a, b)


def test_random_text_matches_spark_path(spark, monkeypatch):
    """Random multi-script text with planted edits, and the edge docs: the
    driver finish gives the Spark path's rows and stats, and the decision
    counts the non-NULL text rows and their UTF-8 bytes."""
    rng = random.Random(5)
    rows = list(EDGE_DOCS)
    for g in range(40):
        text = _random_text(rng, 20)
        rows.append((100 + 2 * g, text))
        rows.append((101 + 2 * g, text.replace(text[5:9], "edit", 1)))
    d = spark.createDataFrame(rows, SCHEMA)
    got, st, _ = _both(d, monkeypatch, threshold=0.3)
    assert len(got) >= 20
    texts = [t for _, t in rows if t is not None]
    assert (st["text_rows"], st["text_bytes"]) == (
        len(texts),
        sum(len(t.encode()) for t in texts),
    )


def test_text_over_the_byte_budget_runs_spark(spark):
    """Text without ASCII whitespace is one token however long, so only
    the byte budget keeps it from the collect: at the default budgets a
    corpus of long space-free docs just over LOCAL_LSH_BYTES, far under
    the row budget, runs the Spark path."""
    n_docs, size = 33, 1 << 21  # 66 MiB of text in 33 rows
    assert n_docs * size > dedup.LOCAL_LSH_BYTES >= (n_docs - 1) * size
    d = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.repeat(F.lit("x"), size).alias("text")
    )
    stats: dict = {}
    dedup.minhash_pairs(d, stats=stats)
    assert stats["finish"] == "spark"
    assert (stats["text_rows"], stats["text_bytes"]) == (n_docs, n_docs * size)


def _rewritten_input_pairs(spark, tmp_path, finish):
    """(old, got, want): ``minhash_pairs``' rows over a parquet path, then
    over the same path after a writer outside this session rewrote it,
    then over a never-used path with the new rows; every call must take
    the ``finish`` path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, fresh = tmp_path / "docs", tmp_path / "fresh"

    def write(p, base):
        p.mkdir(exist_ok=True)
        rows = _planted_family(6) if base == 0 else [
            (10 + i, BASE[1].replace("hot", f"cold{i}")) for i in range(5)
        ]
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(p / "part-0.parquet"),
        )

    def pairs(p):
        st: dict = {}
        out = dedup.minhash_pairs(spark.read.parquet(str(p)), stats=st).collect()
        assert st["finish"] == finish
        return sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in out)

    write(path, 0)
    old = pairs(path)
    write(path, 1)
    write(fresh, 1)
    return old, pairs(path), pairs(fresh)


def test_driver_path_sees_externally_rewritten_input(spark, monkeypatch, tmp_path):
    """A writer outside this session rewrites the parquet under a path;
    the driver finish returns the new corpus's pairs, exactly as a
    never-used path with the same rows does."""
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 1 << 23)
    old, got, want = _rewritten_input_pairs(spark, tmp_path, "driver")
    assert old and want and want != old
    assert got == want


def test_spark_path_sees_externally_rewritten_input(spark, monkeypatch, tmp_path):
    """The same rewrite over the byte budget: the Spark path checkpoints
    its shingles and band table for the call only, so the second call
    reads the new files instead of an earlier call's cached frames."""
    monkeypatch.setattr(dedup, "LOCAL_LSH_BYTES", 0)
    old, got, want = _rewritten_input_pairs(spark, tmp_path, "spark")
    assert old and want and want != old
    assert got == want


def test_token_dense_text_runs_spark(spark, monkeypatch):
    """Rows and bytes within their budgets but more ' '-split tokens than
    LOCAL_LSH_ROWS: the collected text is counted before any NumPy array
    is built, and the Spark path gives the same rows."""
    rows = _planted_family(6)
    n_tokens = sum(len(t.split(" ")) for _, t in rows)
    d = spark.createDataFrame(rows, SCHEMA)
    want, st_driver, _ = _run(d, 1 << 23, monkeypatch)
    budget = 8 * len(rows)  # the rows fit: 8 bands
    assert n_tokens > budget
    got, stats, _ = _run(d, budget, monkeypatch)
    assert st_driver["finish"] == "driver" and stats["finish"] == "spark"
    assert got == want and want
