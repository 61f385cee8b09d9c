"""Planted-duplicate recall properties for the approximate tiers
(SURVEY.md §5.2.4): hash-based dedup and ANN are not oracle-checkable, so we
plant known duplicates/neighbors and require the pipelines to find them."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clusterindices_spark.operators.dedup import (
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from clusterindices_spark.operators.similarity import ann_lsh_topk, topk_exact

from tests.conftest import SF_SMOKE

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark engines shuffle data between executors when keys are wide and hot",
    "training data pipelines deduplicate documents before tokenizing the corpus",
    "completely unrelated text about cooking pasta with garlic and fresh basil",
]


def planted_docs(spark):
    rows = []
    for i, t in enumerate(BASE):
        rows.append((i * 10, t))
        toks = t.split()
        toks[3] = "EDITED"  # 1-token edit → near-duplicate
        rows.append((i * 10 + 1, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _planted_pairs():
    return {(i * 10, i * 10 + 1) for i in range(len(BASE))}


def test_ngram_jaccard_finds_planted(spark):
    d = planted_docs(spark)
    found = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.2).collect()
    }
    assert _planted_pairs() <= found


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A boilerplate sentence shared by every document must not explode the
    exact tier into all-pairs: with the DF cap active only genuinely
    duplicated content pairs survive; uncapped, the same corpus produces
    O(n²) pairs (which is what the cap exists to prevent)."""
    boiler = "please subscribe to our free newsletter for daily updates and exclusive offers"
    rows = [
        (i, f"{boiler} unique{i} token{i} filler{i} extra{i} end{i}")
        for i in range(60)
    ]
    # planted true near-dups: identical non-boilerplate tail
    rows += [
        (100, f"{boiler} planted duplicate content here matches fully"),
        (101, f"{boiler} planted duplicate content here matches fully"),
    ]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.2, max_shingle_df=10).collect()
    }
    assert capped == {(100, 101)}

    uncapped = ngram_jaccard_pairs(
        d, threshold=0.2, max_shingle_df=10**9
    ).count()
    assert uncapped == 62 * 61 // 2  # every pair shares the hot shingles


def test_ngram_jaccard_cap_inactive_on_planted_fixture(spark):
    """Fixture corpora sit far below MAX_SHINGLE_DF — the capped default must
    return exactly the uncapped result."""
    d = planted_docs(spark)
    with_cap = sorted(
        map(tuple, ngram_jaccard_pairs(d, threshold=0.2).collect())
    )
    no_cap = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(d, threshold=0.2, max_shingle_df=10**9).collect(),
        )
    )
    assert with_cap == no_cap


def test_minhash_finds_planted(spark):
    d = planted_docs(spark)
    # ground truth: exact-Jaccard pairs at the LSH tier's design threshold;
    # the banded pipeline must recover all of them (deterministic given the
    # fixed xxhash64 family — this is a locked outcome, not a flaky sample)
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    assert expected, "fixture must contain pairs at/above the design threshold"
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_pairs(d, threshold=0.5).collect()
    }
    assert expected <= found


def test_minhash_no_false_positives_across_bases(spark):
    d = planted_docs(spark)
    found = minhash_pairs(d, threshold=0.5).collect()
    for r in found:
        assert r["doc_a"] // 10 == r["doc_b"] // 10  # only within-base pairs


def _n_tokenizers(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("regexp_extract_all(")


def test_minhash_layer_tokenizes_once(spark, monkeypatch):
    """The shingle tokenizer (regexp_extract_all over the whitespace-
    collapsed text) runs once per row: no filter on a shingles-derived
    column may be pushed below it with the shingle chain substituted in.
    The driver finish collects the collapsed text once (one
    regexp_replace), runs no tokenizer in Spark and checkpoints nothing."""
    from clusterindices_spark.operators import dedup
    from clusterindices_spark.operators.curation import q_curation_decontaminate

    d = planted_docs(spark)
    assert _n_tokenizers(dedup._doc_shingles(d)) == 1
    checkpointed = []
    local_checkpoint = type(d).localCheckpoint

    def spy_checkpoint(df, *args, **kwargs):
        checkpointed.append(_n_tokenizers(df))
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(d), "localCheckpoint", spy_checkpoint)
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 0)
    dedup.minhash_pairs(d)
    # the shingles and the band table; only the shingles tokenize
    assert sorted(checkpointed) == [0, 1]

    collected = []
    to_arrow = type(d).toArrow

    def spy(df):
        collected.append(df._jdf.queryExecution().optimizedPlan().toString())
        return to_arrow(df)

    checkpointed.clear()
    monkeypatch.setattr(dedup, "LOCAL_LSH_ROWS", 1 << 23)
    monkeypatch.setattr(type(d), "toArrow", spy)
    stats: dict = {}
    dedup.minhash_pairs(d, stats=stats)
    assert stats["finish"] == "driver" and not checkpointed
    assert len(collected) == 1
    assert collected[0].count("regexp_replace(") == 1
    assert "regexp_extract_all(" not in collected[0]
    # one tokenizer per side: the eval set and the training docs
    assert _n_tokenizers(q_curation_decontaminate(spark, SF_SMOKE)) == 2


EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "\n"),
    (4, "one"),
    (5, "two words"),
    (6, "  runs   of\t\tspaces \n\n tabs\t and \r\n newlines  "),
    (7, "a b c a b c a b c"),
    (8, "İstanbul ΣΟΦΙΑ İi Σσς kaİ ΣΣ word"),
    (9, ""),
    (10, "one"),
    (11, "two words"),
    (12, "\ttab\tseparated\twords\t"),
    (13, "cr\rvt\x0bff\x0cmixed\r\n\x0b\x0c end"),
    (14, "   leading and trailing whitespace   \n"),
    (15, "Über STRASSE straße ÜBER Straße über"),
    (16, "x y z x y z x y z x y"),
    (17, "no\u00a0break space\u00a0inside tokens"),
]


def test_doc_shingles_and_minhash_edge_inputs(spark):
    """The projected-tokens shingle frame equals the inline expression row
    for row on degenerate text, and MinHash still finds a planted pair
    while never pairing a document that has no shingles (the empty and
    short documents above include identical copies)."""
    from clusterindices_spark.functions.text import shingles3, tokens
    from clusterindices_spark.operators.dedup import _doc_shingles

    rows = EDGE_DOCS + [(20, BASE[0]), (21, BASE[0].replace("brown", "EDITED"))]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    inline = d.select(
        "doc_id", shingles3(tokens(F.col("text"))).alias("shingles")
    ).withColumn("n_shingles", F.size("shingles"))

    def by_doc(df):
        return {r["doc_id"]: (r["shingles"], r["n_shingles"]) for r in df.collect()}

    got = by_doc(_doc_shingles(d))
    assert got == by_doc(inline)
    assert len(got) == len(rows)

    no_shingles = {k for k, (sh, _) in got.items() if not sh}
    assert no_shingles == {1, 2, 3, 4, 5, 9, 10, 11}
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_pairs(d).collect()}
    assert (20, 21) in pairs
    assert not {x for p in pairs for x in p} & no_shingles


def hot_family_docs():
    """150 variants of one 60-word text (2 random word substitutions each,
    every pair at J ≥ 0.5), and 250 unrelated docs: (family, unrelated)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(2000)]
    base = [rng.choice(vocab) for _ in range(60)]
    rows = []
    for i in range(150):
        t = list(base)
        for _ in range(2):
            t[rng.randrange(60)] = rng.choice(vocab)
        rows.append((i, " ".join(t)))
    unrelated = [
        (1000 + j, " ".join(rng.choice(vocab) for _ in range(60))) for j in range(250)
    ]
    return rows, unrelated


def test_minhash_reports_hot_bucket_drop(spark):
    """A near-duplicate family larger than MAX_BAND_BUCKET (hot_family_docs).
    Whole band buckets of the family go over the cap and are dropped, so
    pairs go missing — and the caller is told how many buckets and band
    rows the cap dropped."""
    from clusterindices_spark.operators.dedup import MAX_BAND_BUCKET

    rows, unrelated = hot_family_docs()
    d = spark.createDataFrame(rows + unrelated, "doc_id BIGINT, text STRING")
    true_pairs = ngram_jaccard_pairs(d, threshold=0.5, max_shingle_df=10**9).count()
    assert true_pairs == 150 * 149 // 2

    stats: dict = {}
    found = minhash_pairs(d, threshold=0.5, stats=stats).count()
    assert found < true_pairs
    assert stats["dropped_buckets"] > 0
    assert stats["dropped_band_rows"] > stats["dropped_buckets"] * MAX_BAND_BUCKET

    clean: dict = {}
    minhash_pairs(
        spark.createDataFrame(unrelated, "doc_id BIGINT, text STRING"), stats=clean
    ).count()
    assert clean == {
        "text_rows": 250,
        "text_bytes": sum(len(t.encode()) for _, t in unrelated),
        "dropped_buckets": 0,
        "dropped_band_rows": 0,
        "finish": "driver",
    }


def test_simhash_finds_exact_copies(spark):
    rows = [(1, BASE[0]), (2, BASE[0]), (3, BASE[3])]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_pairs(d).collect()}
    assert found.get((1, 2)) == 0
    assert (1, 3) not in found


def test_star_components_long_chain(spark):
    """A 200-node path graph is the adversarial case for min-label
    propagation (O(diameter)=200 rounds); the star algorithm must collapse
    it to one component within its default O(log n) iteration budget."""
    from clusterindices_spark.operators.dedup import connected_components_star

    n = 200
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comp = connected_components_star(nodes, edges).collect()
    assert len(comp) == n
    assert {r["component"] for r in comp} == {0}


def test_star_components_match_label_propagation(spark):
    """On a multi-component graph (cliques + chain + singletons) the star
    variant must produce exactly the label-propagation result."""
    import random

    from clusterindices_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    edges = []
    # three cliques
    for base in (0, 10, 20):
        ids = list(range(base, base + 6))
        edges += [(a, b) for a in ids for b in ids if a < b and rng.random() < 0.6]
    edges += [(30 + i, 31 + i) for i in range(8)]  # small chain
    nodes = spark.range(45).select(F.col("id").alias("node"))  # 39..44 singletons
    e = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    star = sorted(map(tuple, connected_components_star(nodes, e).collect()))
    prop = sorted(map(tuple, connected_components(nodes, e).collect()))
    assert star == prop


def test_ann_lsh_recall_vs_exact(spark):
    from clusterindices_spark.operators.similarity import _emb

    emb = _emb(spark, SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["probe_id"], r["neighbor_id"]) for r in topk_exact(emb, probes).collect()
    }
    approx = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb, probes).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-orthogonal synthetic vectors are LSH's worst case; still require
    # well-above-chance recall (chance ≈ k/n = 5/500 = 1%)
    assert recall >= 0.3, f"ANN recall {recall:.2f} below floor"


def test_connected_components_chain(spark):
    from clusterindices_spark.operators.dedup import connected_components

    # chain 1-2-3-4 plus isolated 9: multi-hop propagation must collapse the
    # chain to min-label 1 even though (1,4) is not a direct edge
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "node BIGINT")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src BIGINT, dst BIGINT"
    )
    got = {r["node"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_ann_ivf_recall_vs_exact(spark):
    from clusterindices_spark.operators.similarity import _emb, ivf_topk

    emb = _emb(spark, SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["probe_id"], r["neighbor_id"]) for r in topk_exact(emb, probes).collect()
    }
    approx = {
        (r["probe_id"], r["neighbor_id"])
        for r in ivf_topk(emb, probes).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing 4/8 cells scans ~half the lists; near-orthogonal vectors mean
    # neighbors scatter across cells — require well above the ~50% scan rate
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_ann_ivf_deterministic(spark):
    from clusterindices_spark.operators.similarity import q_similarity_ann_ivf

    a = sorted(map(tuple, q_similarity_ann_ivf(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, q_similarity_ann_ivf(spark, SF_SMOKE).collect()))
    assert a == b


def test_multimodal_decode_stub(spark):
    from clusterindices_spark.operators.multimodal import (
        decode_binary,
        with_binary_payload,
    )
    from clusterindices_spark.sources.fixtures import load_table

    import pytest

    d = with_binary_payload(load_table(spark, SF_SMOKE, "documents"))
    out = decode_binary(d, mode="fake")
    rows = out.limit(5).collect()
    assert {r["n_bytes"] > 0 for r in rows} == {True}
    assert all(r["fake_width"] * r["fake_height"] <= r["n_bytes"] for r in rows)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_binary(d, mode="real").limit(1).collect()


def test_bytes_arrow_non_ascii(spark):
    """mapInArrow byte stats must equal the true UTF-8 encoding for
    multi-byte leading/trailing characters, not just the ASCII fixture."""
    from pyspark.sql import functions as F

    from clusterindices_spark.operators.multimodal import (
        bytes_stats_arrow,
        with_binary_payload,
    )

    texts = ["éclair", "中文 text", "data 🚀", "", "plain"]
    d = spark.createDataFrame(
        [(i, t, "xx", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {
        r["doc_id"]: r
        for r in bytes_stats_arrow(with_binary_payload(d)).collect()
    }
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        assert got[i]["n_bytes"] == len(b)
        assert got[i]["head_byte"] == (b[0] if b else -1)
        assert got[i]["tail_byte"] == (b[-1] if b else -1)


def test_triangle_census_planted_k4_plus_path(spark):
    """K4 (4 triangles, 12 closed wedges) plus a 3-node path (1 open wedge):
    transitivity = 3*4 / 13."""
    from clusterindices_spark.operators.dedup import triangle_census

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(5, 6), (6, 7)]
    e = spark.createDataFrame(k4 + path, "a BIGINT, b BIGINT")
    [row] = triangle_census(e).collect()
    assert row["n_nodes"] == 7
    assert row["n_edges"] == 8
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 13
    assert row["transitivity"] == round(12 / 13, 6)


def test_triangle_census_hub_star_orientation(spark):
    """A hub with 10 leaves + one leaf-leaf edge: exactly 1 triangle. The
    degree orientation points every spoke INTO the hub, so the wedge join
    never fans out on the hub's degree — this is the case the docstring's
    skew bound is about."""
    from clusterindices_spark.operators.dedup import triangle_census

    star = [(i, 100) for i in range(1, 11)]  # id-normalized: leaf < hub
    e = spark.createDataFrame(star + [(1, 2)], "a BIGINT, b BIGINT")
    [row] = triangle_census(e).collect()
    assert row["n_triangles"] == 1
    assert row["n_edges"] == 11
    # wedges: hub C(10,2)=45, leaves 1 and 2 have deg 2 -> 1 each
    assert row["n_wedges"] == 47
    assert row["transitivity"] == round(3 / 47, 6)


def test_triangle_census_no_triangles(spark):
    from clusterindices_spark.operators.dedup import triangle_census

    e = spark.createDataFrame([(1, 2), (3, 4)], "a BIGINT, b BIGINT")
    [row] = triangle_census(e).collect()
    assert row["n_triangles"] == 0
    assert row["n_wedges"] == 0
    assert row["transitivity"] is None


def test_bytes_arrow_large_var_types(spark):
    """With useLargeVarTypes the payload arrives as large_binary (int64
    offsets); the stats must read the offsets buffer at the declared width
    — hardcoded int32 would silently emit garbage."""
    from clusterindices_spark.operators.multimodal import (
        bytes_stats_arrow,
        with_binary_payload,
    )

    key = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        texts = ["éclair", "", "plain text"]
        d = spark.createDataFrame(
            [(i, t, "xx", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id BIGINT, text STRING, lang STRING, source STRING,"
            " n_chars BIGINT",
        )
        got = {
            r["doc_id"]: r
            for r in bytes_stats_arrow(with_binary_payload(d)).collect()
        }
        for i, t in enumerate(texts):
            b = t.encode("utf-8")
            assert got[i]["n_bytes"] == len(b)
            assert got[i]["head_byte"] == (b[0] if b else -1)
            assert got[i]["tail_byte"] == (b[-1] if b else -1)
    finally:
        spark.conf.set(key, old)


def test_ann_lsh_drops_zero_norm_vectors(spark):
    """A zero vector has no direction: it must be excluded from the unit
    normalization (0/0 would be an ANSI divide-by-zero), not crash the
    search or appear as a neighbor."""
    from clusterindices_spark.operators.similarity import ann_lsh_topk

    vecs = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),  # zero-norm
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id BIGINT, x ARRAY<DOUBLE>")
    probes = emb.where("vec_id = 1")
    got = ann_lsh_topk(emb, probes, k=3).collect()
    assert got, "search must still return neighbors"
    assert all(r["neighbor_id"] != 3 for r in got)


def test_ppm_parser_roundtrip_and_comments():
    """The stdlib P6 parser must survive header comments and reject
    truncated rasters — real-file robustness, not just the planted shape."""
    import pytest

    from clusterindices_spark.operators.multimodal import _parse_ppm, _synth_ppm

    w, h, maxval, pix = _parse_ppm(_synth_ppm(42))
    assert (w, h, maxval) == (4, 4, 255)
    assert list(pix) == [(42 * 31 + i * 7) % 256 for i in range(48)]

    with_comment = b"P6\n# a comment line\n2 1\n255\n" + bytes(6)
    assert _parse_ppm(with_comment)[:2] == (2, 1)

    with pytest.raises(ValueError, match="truncated"):
        _parse_ppm(b"P6\n2 2\n255\n" + bytes(5))
    with pytest.raises(ValueError, match="not a P6"):
        _parse_ppm(b"P3\n1 1\n255\n0 0 0")


def test_wav_parser_chunk_walk():
    """The RIFF walker must skip unknown chunks (LIST metadata before
    data) and honor word alignment of odd-sized chunks."""
    import struct

    import pytest

    from clusterindices_spark.operators.multimodal import _parse_wav, _synth_wav

    ch, rate, bits, samples = _parse_wav(_synth_wav(7))
    assert (ch, rate, bits) == (1, 8000, 16)
    assert samples == [((7 * 13 + i * 5) % 65536) - 32768 for i in range(32)]

    # inject an odd-sized LIST chunk between fmt and data
    base = _synth_wav(7)
    fmt_chunk = base[12 : 12 + 8 + 16]
    data_chunk = base[12 + 8 + 16 :]
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    body = fmt_chunk + junk + data_chunk
    riff = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert _parse_wav(riff)[3] == samples

    with pytest.raises(ValueError, match="not a RIFF"):
        _parse_wav(b"OggS" + bytes(40))
    # non-PCM format code refused at the seam
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
    )
    with pytest.raises(ValueError, match="non-PCM"):
        _parse_wav(bad)


def test_decode_media_real_path(spark):
    """End-to-end real tier: synth plants actual PPM/WAV bytes, decode
    parses them back; stats must equal the generator arithmetic."""
    from clusterindices_spark.operators.multimodal import (
        decode_binary,
        synth_media,
    )

    docs = spark.range(6).selectExpr("id AS doc_id")
    rows = {
        r["doc_id"]: r
        for r in decode_binary(synth_media(docs), mode="real").collect()
    }
    for i in range(6):
        r = rows[i]
        if i % 2 == 0:
            assert r["fmt"] == "ppm" and (r["width"], r["height"]) == (4, 4)
            vals = [(i * 31 + j * 7) % 256 for j in range(48)]
        else:
            assert r["fmt"] == "wav" and r["sample_rate"] == 8000
            vals = [((i * 13 + j * 5) % 65536) - 32768 for j in range(32)]
            assert r["value_peak"] == max(abs(v) for v in vals)
        assert r["value_sum"] == sum(vals)


def test_knn_graph_recall_and_shape(spark):
    from clusterindices_spark.operators.similarity import _emb, knn_graph, topk_exact

    emb = _emb(spark, SF_SMOKE)
    got = knn_graph(emb, k=5).collect()
    # every vector appears as a probe with at most k neighbors, no self-loops
    by_probe: dict[int, list] = {}
    for r in got:
        assert r["probe_id"] != r["neighbor_id"]
        by_probe.setdefault(r["probe_id"], []).append(r["neighbor_id"])
    assert len(by_probe) == emb.count()
    assert all(len(v) <= 5 for v in by_probe.values())
    assert all(len(set(v)) == len(v) for v in by_probe.values())  # no dup edges

    # recall vs brute force on the full corpus (k=5): probing 2/16 cells
    # scans ~12.5% of lists, so well-above-scan-rate recall demonstrates
    # the cells actually capture neighborhood structure
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, emb, k=5).collect()
    }
    approx = {(r["probe_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.35, f"knn-graph recall {recall:.2f} below floor"


def test_knn_graph_auto_sqrt_path_recall(spark):
    """The √n-cells scale path (n_cells=None → K=isqrt(500)=22 here,
    genuinely different from the K=16 twin): same shape contract, recall
    floor vs brute force. This is the gated-artifact guard for the
    similarity_knn_graph_auto registry key (VERDICT r12 #7) — the plan
    the engine would run at corpus scale, where fixed K is quadratic."""
    from clusterindices_spark.operators.similarity import (
        _emb,
        knn_graph,
        topk_exact,
    )

    emb = _emb(spark, SF_SMOKE)
    got = knn_graph(emb, k=5, n_cells=None).collect()
    by_probe: dict[int, list] = {}
    for r in got:
        assert r["probe_id"] != r["neighbor_id"]
        by_probe.setdefault(r["probe_id"], []).append(r["neighbor_id"])
    assert len(by_probe) == emb.count()
    assert all(len(v) <= 5 for v in by_probe.values())
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_exact(emb, emb, k=5).collect()
    }
    approx = {(r["probe_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & approx) / len(exact)
    # 2/22 probed cells ≈ 9% list scan rate — recall well above it proves
    # the finer cells still capture neighborhood structure
    assert recall >= 0.3, f"auto-path recall {recall:.2f} below floor"


def test_pagerank_hand_graph(spark):
    from clusterindices_spark.operators.dedup import PR_SCALE, graph_pagerank

    # star: center 0 linked to 1..4, plus isolated node 9 (dangling)
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 4, 9)], "node BIGINT")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "src BIGINT, dst BIGINT"
    )
    got = {r["node"]: r["pr_units"] for r in graph_pagerank(nodes, edges).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 9}
    # the hub dominates; leaves tie exactly (identical integer recurrence);
    # the dangling node holds only base + dangling-redistribution mass
    assert got[0] > got[1]
    assert got[1] == got[2] == got[3] == got[4]
    assert got[9] < got[1]
    # integer mass can only leak via floor losses: total ≤ 1.0, close to it
    total = sum(got.values())
    assert 0.9 * PR_SCALE <= total <= PR_SCALE


@pytest.mark.slow  # second tier (VERDICT r13 item 2); round-close runs both
def test_pagerank_deterministic_across_invocations(spark):
    from clusterindices_spark.operators.dedup import q_dedup_graph_pagerank
    from tests.conftest import SF_SMOKE

    a = sorted((r["node"], r["pr_units"]) for r in q_dedup_graph_pagerank(spark, SF_SMOKE).collect())
    b = sorted((r["node"], r["pr_units"]) for r in q_dedup_graph_pagerank(spark, SF_SMOKE).collect())
    assert a == b


def test_span_coverage_planted_duplicate_spans(spark):
    """A 5-token span copied between two docs is flagged in both; a doc with
    no shared span has dup_frac 0; a doc under 5 tokens has 0 spans and
    NULL dup_frac."""
    from clusterindices_spark.operators.dedup import span_coverage

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared} nine"),
        (3, "totally different words here avoiding overlap entirely"),
        (4, "too short"),
    ]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in span_coverage(d).collect()}
    # doc 1: 8 tokens -> 4 spans, exactly 1 of them ("alpha..epsilon") shared
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 1
    assert out[1]["dup_frac"] == 0.25
    assert out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_spans"] == 0 and out[4]["dup_frac"] is None


def test_graph_hops_chain_and_star(spark):
    """Hand graphs: a 4-chain (1-2-3-4) gives hops 0,1,2,3 from canonical
    1; a star centered on 9 with leaves 10,11,12 gives hops 0,1,1,1; an
    isolated node is its own canonical at hops 0."""
    from clusterindices_spark.operators.dedup import graph_hops

    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 4, 9, 10, 11, 12, 99)], "node BIGINT"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 10), (9, 11), (9, 12)],
        "src BIGINT, dst BIGINT",
    )
    got = {
        r["node"]: (r["component"], r["hops"])
        for r in graph_hops(nodes, edges).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3),
        9: (9, 0), 10: (9, 1), 11: (9, 1), 12: (9, 1),
        99: (99, 0),
    }


def test_containment_catches_subset_jaccard_misses(spark, tmp_path):
    """A short doc fully quoted inside a long one: containment from the
    short side ≈ 1 while Jaccard stays under its threshold — the
    asymmetric detector's reason to exist."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} words{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, "en", short, "s", 1), (2, "en", long_, "s", 1),
         (3, "en", "entirely different content with no shared trigrams at all", "s", 1)],
        "doc_id BIGINT, lang STRING, text STRING, source STRING, n_chars BIGINT",
    )
    out = str(tmp_path / "ct")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    from clusterindices_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from clusterindices_spark.sources.fixtures import load_table

    d = load_table(spark, out, "documents")
    cont = {(r["doc_a"], r["doc_b"]): (r["c_ab"], r["c_ba"])
            for r in ngram_containment_pairs(d).collect()}
    assert (1, 2) in cont
    c_ab, c_ba = cont[(1, 2)]
    assert c_ab == 1.0      # short side fully contained
    assert c_ba < 0.2       # tiny from the long side
    jac = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(d, threshold=0.5).collect()}
    assert (1, 2) not in jac  # Jaccard at a dedup-grade threshold misses it


def test_ivf_nprobe_curve_monotone_and_exact_at_full_probe(spark):
    """The tuning curve must be monotone non-decreasing in n_probe_cells,
    and at p = n_cells (scan every cell) the IVF top-k IS the exact top-k
    — recall exactly 1.0, identical sims and tie-breaks."""
    from clusterindices_spark.operators.similarity import (
        IVF_NPROBE_GRID,
        q_similarity_ivf_nprobe_curve,
    )

    rows = sorted(
        q_similarity_ivf_nprobe_curve(spark, SF_SMOKE).collect(),
        key=lambda r: r["n_probe_cells"],
    )
    assert [r["n_probe_cells"] for r in rows] == list(IVF_NPROBE_GRID)
    recalls = [r["recall"] for r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:])), recalls
    assert rows[-1]["recall"] == 1.0
    assert rows[-1]["n_hits"] == rows[-1]["n_exact"] > 0


def test_cluster_keep_best_invariants(spark):
    """The survivor table must tile the corpus exactly: one row per
    component, members sum to the doc count, and every kept doc is its
    component's longest member (ties to the lowest id) with exact
    dropped-char accounting against the components report."""
    from clusterindices_spark.operators.dedup import (
        q_dedup_cluster_keep_best,
        q_dedup_components,
    )
    from clusterindices_spark.sources.fixtures import load_table

    kept = {r["component_id"]: r for r in q_dedup_cluster_keep_best(spark, SF_SMOKE).collect()}
    comp = q_dedup_components(spark, SF_SMOKE).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars").collect()
    }
    members = {}
    for r in comp:
        members.setdefault(r["component_id"], []).append(r["doc_id"])
    assert set(kept) == set(members)
    assert sum(r["n_members"] for r in kept.values()) == len(chars)
    for cid, docs in members.items():
        k = kept[cid]
        assert k["n_members"] == len(docs)
        best = max(docs, key=lambda d: (chars[d], -d))
        assert k["kept_doc_id"] == best, cid
        assert k["kept_n_chars"] == chars[best]
        assert k["chars_dropped"] == sum(chars[d] for d in docs) - chars[best]


def _write_parquet(spark, path, rows, schema):
    # one file: a single scan partition keeps float aggregation order fixed
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(path)
    )


def test_star_cc_sees_overwritten_input(spark, tmp_path):
    """A result depends only on the rows read, not on call history: after
    the edge file is overwritten in place, star CC must label the new
    graph exactly as a run over a never-used path does."""
    from clusterindices_spark.operators.dedup import connected_components_star

    nodes_p, edges_p, fresh_p = (tmp_path / n for n in ("n", "e", "fresh"))
    schema = "src BIGINT, dst BIGINT"
    _write_parquet(spark, nodes_p, [(i,) for i in range(8)], "node BIGINT")

    def run(path):
        comp = connected_components_star(
            spark.read.parquet(str(nodes_p)), spark.read.parquet(str(path))
        )
        return sorted(tuple(r) for r in comp.collect())

    _write_parquet(spark, edges_p, [(1, 0), (3, 2), (5, 4)], schema)
    run(edges_p)
    new_edges = [(2, 1), (7, 6), (6, 5)]
    _write_parquet(spark, edges_p, new_edges, schema)
    _write_parquet(spark, fresh_p, new_edges, schema)
    got = run(edges_p)
    want = run(fresh_p)
    assert want == [(0, 0), (1, 1), (2, 1), (3, 3), (4, 4), (5, 5), (6, 5), (7, 5)]
    assert got == want


def test_star_cc_runs_a_computed_edge_source_once(spark, monkeypatch, tmp_path):
    """An edge source that computes its rows (here a Python UDF that logs
    each call to a file: an accumulator misses the calls of a task that a
    limit stops early) runs once even when the bounded probe finds it over
    the budget and Spark rounds read it next; one that only projects
    cached or local rows is read in place, with no checkpoint before the
    probe."""
    from pyspark.sql.types import LongType

    from clusterindices_spark.functions.local import local_frame
    from clusterindices_spark.operators import dedup

    log = str(tmp_path / "calls")

    def ident(x):
        with open(log, "a") as f:
            f.write("x")
        return x

    n = 40
    edges = spark.range(n).select(
        F.udf(ident, LongType()).asNondeterministic()(F.col("id")).alias("src"),
        (F.col("id") + 1).alias("dst"),
    )
    monkeypatch.setattr(dedup, "LOCAL_CC_EDGES", 0)
    stats: dict = {}
    comp = dedup.connected_components_star(
        spark.range(n + 1).select(F.col("id").alias("node")), edges, stats=stats
    ).collect()
    assert {r["component"] for r in comp} == {0} and stats["rounds"] > 0
    with open(log) as f:
        assert len(f.read()) == n

    pairs = local_frame(spark, [(1, 2), (3, 4)], "src BIGINT, dst BIGINT")
    cached = spark.range(5).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    cached.persist().count()
    assert dedup._in_memory(pairs.where(F.col("src") > 0).select("src"))
    assert dedup._in_memory(cached.select(F.col("dst").alias("u")))
    assert not dedup._in_memory(edges)
    assert not dedup._in_memory(pairs.join(cached, "src"))
    cached.unpersist()


def test_ivf_build_leaves_no_persisted_frame(spark):
    """Three builds over different inputs keep the session's persistent
    RDD count flat: the build persists nothing, and its index still runs
    afterwards."""
    from clusterindices_spark.operators.similarity import ivf_build

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for b in range(3):
        emb = spark.range(60).select(
            F.col("id").alias("vec_id"),
            F.array(F.col("id") % (3 + b), F.col("id") % 7 + b).cast("array<double>").alias("x"),
        )
        _, index = ivf_build(emb, n_cells=3)
        assert index.count() == 60
        assert jsc.getPersistentRDDs().size() == before, b


def test_ivf_build_sees_overwritten_input(spark, tmp_path):
    """ivf_build's centroids come from the rows at the path now, not from
    an earlier build over the same plan."""
    from clusterindices_spark.operators.similarity import ivf_build, unfold_cents

    path, fresh = tmp_path / "emb", tmp_path / "fresh"
    schema = "vec_id BIGINT, x ARRAY<DOUBLE>"

    def cents(p):
        folded, _ = ivf_build(spark.read.parquet(str(p)), n_cells=3)
        return sorted((r["cluster"], r["centroid"]) for r in unfold_cents(folded).collect())

    _write_parquet(
        spark, path, [(i, [float(i % 5), float(i % 3)]) for i in range(40)], schema
    )
    old = cents(path)
    new_rows = [(i, [10.0 + i % 7, -float(i % 4)]) for i in range(40)]
    _write_parquet(spark, path, new_rows, schema)
    _write_parquet(spark, fresh, new_rows, schema)
    got = cents(path)
    want = cents(fresh)
    assert want != old
    assert got == want
