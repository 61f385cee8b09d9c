"""Deduplication operators for training-data pipelines (SURVEY.md §2C).

Four tiers, all over ``documents``:
- exact        : content hash (sha256) — oracle-checked.
- ngram_jaccard: exact word-3-gram Jaccard on candidate pairs sharing a
                 shingle — oracle-checked (pure relational algebra).
- near_minhash : MinHash signatures + banded LSH candidates, exact-Jaccard
                 verified — hash functions are engine-specific (xxhash64), so
                 rows-only check + planted-duplicate recall tests.
- simhash      : 63-bit SimHash + banded candidates + Hamming verify —
                 rows-only + planted-duplicate tests.

Scale posture: every tier is (scan → per-row expression work → one or two
hash-key shuffles). MinHash banding shuffles by (band, band_hash) — the
classic way to avoid the O(n²) pair explosion at 100 TB; candidate
verification only touches bucket-mates. When one aggregate says the
corpus's text fits LOCAL_LSH_BYTES, one collect brings its collapsed form
to the driver, which shingles, hashes, bands and verifies in NumPy with
bit-exact twins of Spark's hashes (no shuffle of shingles or bands, no
join, nothing persisted). A corpus over the budget pays for that one
aggregate pass, then takes the band shuffle and the verification joins.
The exact-Jaccard tier self-joins on
shingle with stop-shingles (document frequency > MAX_SHINGLE_DF) removed
first, so one boilerplate shingle can't quadratically explode the join; it
exists as the oracle-able ground-truth tier, the LSH tiers are the scale
path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, IntegralType, StructField, StructType

from clusterindices_spark.functions.local import arrow_frame, local_frame
from clusterindices_spark.functions.pins import clear_pins  # noqa: F401
from clusterindices_spark.functions.sparkhash import (
    arrow_bytes,
    murmur3_longs,
    xxhash64_ints,
    xxhash64_long_finish,
    xxhash64_long_key,
    xxhash64_spans,
)
from clusterindices_spark.functions.text import (
    FNV_MOD,
    SQL_FINGERPRINT,
    SQL_SHINGLES3,
    SQL_TOKENS,
    fold_lower,
    tokens,
)
from clusterindices_spark.functions.aggregates import SQL_ROUND6, round6_stable
from clusterindices_spark.sources.fixtures import fan_out, load_table

# 8 bands × 2 rows (16 signatures): S-curve midpoint (1/b)^(1/r) ≈ 0.35 —
# ≈90% candidate probability at the J=0.5 verify threshold, yet only ≈0.7%
# at the J≈0.03 baseline overlap of shared-vocabulary corpora. r=1 banding
# was measured 30x slower at sf0.1: word-soup docs collide on single
# minhashes often enough to make ~20% of ALL pairs candidates.
MINHASH_SEEDS = 16
MINHASH_BAND_ROWS = 2
# Hot-bucket cap for the BANDED candidate tiers (minhash_pairs /
# simhash_pairs) — the band-join twin of MAX_SHINGLE_DF (r10 scale-hostile
# gate): a bucket holding B docs contributes C(B,2) candidate rows, so one
# exact-dup clique of 100k docs (identical signatures → same bucket in
# EVERY band) is 5e9 pairs × n_bands before distinct — the all-pairs
# blowup banding exists to prevent. Buckets over the cap are dropped from
# the join: a bucket that hot is an exact-duplicate class, which the
# exact/normalized dedup tier already collapses at one-hash-shuffle cost
# (run it first — the standing pipeline contract); near-dup banding is
# for the non-identical tail. Planted near-dup groups at gate scale are
# ≤18 docs, far under the cap.
MAX_BAND_BUCKET = 100
# Edge budget of the star-CC driver finish (connected_components_star):
# a canonical edge set of at most this many rows is labelled in NumPy on
# the driver instead of by further Spark rounds — 32 MB as two int64
# Arrow columns.
LOCAL_CC_EDGES = 1 << 21
# Budgets of the MinHash driver finish (minhash_pairs): the UTF-8 bytes of
# the text must number at most LOCAL_LSH_BYTES, the text rows at most
# LOCAL_LSH_ROWS per band, and the candidate pairs (Σ C(s,2) over the kept
# buckets) and their row pairs at most LOCAL_LSH_ROWS each, for the
# shingles, signatures, banding, hot-bucket cap and exact-Jaccard
# verification to run in NumPy on the driver; any count over its budget
# runs the Spark joins instead. The byte budget bounds what the collect
# holds whatever the script (text without ASCII whitespace is one token
# but still all its bytes), and the tokens with it: a token and its
# separator take at least two bytes.
LOCAL_LSH_ROWS = 1 << 23
LOCAL_LSH_BYTES = 1 << 26
SIMHASH_BITS = 63  # 63 keeps the packed value inside a signed int64
JACCARD_THRESHOLD = 0.2
# Stop-shingle cap for the exact-Jaccard tier: a shingle appearing in more
# than this many documents ("call us now", boilerplate headers) is dropped
# from every shingle set before the self-join — the join's output is then
# bounded by Σ df² over df ≤ cap instead of exploding quadratically on one
# hot key. Jaccard is computed over the capped sets (standard stop-shingle
# removal); fixture corpora sit far below the cap (max df: 7 at sf0.01,
# 25 at sf0.1), so fixture results are unchanged.
MAX_SHINGLE_DF = 100
# 4×16-bit bands over the 63-bit hash guarantee a shared band only for
# pairs within Hamming 3; beyond that recall decays, so the verify cutoff
# matches the banding guarantee.
HAMMING_MAX = 3


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def q_dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized exact dedup — the 'fuzzy-exact' tier between byte
    hashing and MinHash that production corpus pipelines run first
    (Gopher/MassiveText-style): lowercase, collapse every non-alphanumeric
    run to one space, trim, THEN hash. Catches case/punctuation/whitespace
    re-encodings of the same content at exact-dedup cost (one hash
    shuffle; no shingles, no candidate join). n_raw_variants counts how
    many distinct byte-level texts collapsed into each canonical form —
    the yield signal for whether this tier is worth running on a corpus."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(fold_lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        d.select("doc_id", F.sha2(norm, 256).alias("norm_hash"),
                 F.sha2(F.col("text"), 256).alias("raw_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
    )


CROSS_SOURCE_PREFIX_LEN = 128


def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source copy matrix: for every unordered source pair, how many
    distinct content fingerprints appear in BOTH — the provenance-leakage
    map (which crawls mirror each other) that decides dedup ORDER in a
    multi-source pipeline. TWO tiers per pair: exact sha256 of the full
    text (true byte-copies) and sha256 of the first
    CROSS_SOURCE_PREFIX_LEN chars (the cheap shared-boilerplate /
    same-lede heuristic crawl triage uses — catches mirrors that differ
    only in a trailing footer). The prefix tier also de-vacuates the
    sf0.01 gate row: at that SF all 500 texts are byte-distinct, so the
    exact tier alone is an empty (trivially hash-equal) result
    (VERDICT r5 "What's wrong" #2).

    One hash shuffle per tier to distinct (fingerprint, source) pairs,
    then per-fingerprint self-joins whose fan-out is bounded by
    sources-per-fingerprint², never corpus-scale; the two K²-bounded pair
    tables full-outer-merge."""
    d = load_table(spark, sf_dir, "documents")

    def _pair_counts(fingerprint, out_col: str) -> DataFrame:
        hs = d.select(fingerprint.alias("h"), "source").distinct()
        a = hs.select("h", F.col("source").alias("source_a"))
        b = hs.select("h", F.col("source").alias("source_b"))
        return (
            a.join(b, "h")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias(out_col))
        )

    exact = _pair_counts(F.sha2(F.col("text"), 256), "n_shared_hashes")
    pref = _pair_counts(
        F.sha2(F.substring(F.col("text"), 1, CROSS_SOURCE_PREFIX_LEN), 256),
        "n_shared_prefixes",
    )
    return exact.join(pref, ["source_a", "source_b"], "full").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_shared_hashes"), F.lit(0).cast("bigint")).alias(
            "n_shared_hashes"
        ),
        F.coalesce(F.col("n_shared_prefixes"), F.lit(0).cast("bigint")).alias(
            "n_shared_prefixes"
        ),
    )


def q_dedup_token_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication inflation per source: token mass carried by
    NON-CANONICAL copies (canonical = min doc_id per content hash) as a
    fraction of the source's total — 'how much of this crawl is duplicate
    bytes', the number that prices a dedup stage before it runs. Two hash
    shuffles (canonical table, per-source agg); the canonical table joins
    back broadcast-scale per hash."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("h"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    canon = d.groupBy("h").agg(F.min("doc_id").alias("keep_doc_id"))
    flagged = d.join(canon, "h").withColumn(
        "is_dup", F.col("doc_id") != F.col("keep_doc_id")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("is_dup"), F.col("n_tokens")).otherwise(0)).alias(
            "dup_tokens"
        ),
        round6_stable(
            F.sum(F.when(F.col("is_dup"), F.col("n_tokens")).otherwise(0))
            # nullif: an all-empty-text source has total_tokens 0 —
            # ANSI Spark errors while DuckDB x/0 is NULL (fuzz 101006)
            / F.nullif(F.sum("n_tokens"), F.lit(0))
        ).alias("dup_token_frac"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (oracle-able ground truth for the LSH tiers)
# ---------------------------------------------------------------------------


# A zero-width match at every token start (string start or after a space)
# that captures the token and the next two: over text whose whitespace runs
# are collapsed to one space, its matches in order are the word 3-grams.
_TRIGRAM_AT_TOKEN = r"(?<=^| )(?=([^ ]+ [^ ]+ [^ ]+))"


def _collapsed(text: Column) -> Column:
    """fold_lower(text) with every \\s+ run (tokens' separator) collapsed
    to one space: the string both MinHash paths take their trigrams from."""
    return F.regexp_replace(fold_lower(text), r"\s+", " ")


def _doc_shingles(d: DataFrame) -> DataFrame:
    # fan_out: never let a 1-file scan serialize the repo's most CPU-bound
    # expression on one core. The shingles are shingles3(tokens(text)) built
    # from two codegen'd regex expressions instead of tokens' filter and
    # shingles3's transform lambdas, which are interpreted: collapse each
    # \s+ run (tokens' separator) to one space, then take every token start's
    # trigram. Leading/trailing whitespace yields no empty token, NULL text
    # gives NULL shingles, and array_distinct keeps first occurrences, as in
    # shingles3. No lambda, so Catalyst shares the chain with n_shingles.
    shingles = F.array_distinct(
        F.regexp_extract_all(_collapsed(F.col("text")), F.lit(_TRIGRAM_AT_TOKEN), 1)
    )
    return (
        fan_out(d)
        .select("doc_id", shingles.alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )


def _ngram_ex0(d: DataFrame, max_shingle_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Capped exploded-shingle frame (doc_id, shingle) behind the whole
    exact-ngram family.

    The exploded frame is localCheckpointed for the call: it feeds the
    hot-set aggregation and the anti-join, and every reader of the capped
    frame (per-doc sizes, both self-join sides, the estimator
    fingerprints) would otherwise replay tokenize→shingle→explode
    (measured 1.7s extra at sf0.1 just for the hot-set pass). The hot set
    is checkpointed too: it is tiny by construction (≤ total_shingle_rows
    / cap entries), and each reader then pays a checkpoint scan + a
    broadcast anti-join build instead of re-running the 260k-row (sf0.1)
    aggregation that derives it."""
    ex_all = (
        _doc_shingles(d)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .localCheckpoint(eager=False)
    )
    hot = (
        ex_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_shingle_df)
        .select("shingle")
        .localCheckpoint(eager=False)
    )
    return ex_all.join(F.broadcast(hot), "shingle", "left_anti")


def _ngram_pair_inter(ex0: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb): pair-intersection counts with both
    docs' set sizes over the capped shingle frame ``ex0`` — behind BOTH
    the jaccard and the containment tiers, whose scores differ only in
    the final arithmetic over (inter, na, nb). The sizes are read twice
    (na and nb), so they are localCheckpointed for the call.

    Set sizes attach AFTER the pair aggregation, not before: v1 joined
    sizes onto the EXPLODED frame (a full shuffle of the biggest frame in
    the pipeline, since the explode output isn't doc_id-partitioned) and
    then carried na/nb through the shingle self-join and the pair groupBy
    as extra key bytes. Attaching to the aggregated PAIR table costs two
    pair-scale joins instead (isolated A/B at sf0.1: 3.0–4.2 → 2.8–3.3 s
    warm, bit-identical). The broadcast hints fit corpora
    up to ~10⁸ docs (16 B/row); beyond that drop the hint and let the
    pair-scale shuffle join run — still strictly cheaper than v1's
    exploded-scale shuffle."""
    sizes = (
        ex0.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .localCheckpoint(eager=False)
    )
    a = ex0.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = ex0.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return inter.join(F.broadcast(na), "doc_a").join(F.broadcast(nb), "doc_b")


def _scored_pairs(ex0: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) over the capped shingle frame ``ex0``."""
    # round6_stable, not F.round: rational inter/union CAN land exactly on
    # a .xxxxxx5 boundary (e.g. inter=1, union=128 → 0.0078125, exact in
    # binary), where Spark HALF_UP and DuckDB's scaled-multiply diverge —
    # and jm-threshold decisions downstream (minhash_pr_curve, simhash_est)
    # are discrete in this value (ADVICE r6). Oracle uses SQL_ROUND6.
    jac = round6_stable(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return _ngram_pair_inter(ex0).select("doc_a", "doc_b", jac.alias("jaccard"))


def ngram_scored_pairs(
    d: DataFrame,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact Jaccard over word-3-gram sets for EVERY pair sharing ≥1
    (non-stop) shingle — the unthresholded candidate universe (the
    estimator PR audit needs the sub-threshold pairs to count false
    positives). Shingles with document frequency > max_shingle_df are
    removed from every set first (see MAX_SHINGLE_DF) — without the cap a
    single boilerplate shingle shared by m documents contributes m²/2
    join rows."""
    return _scored_pairs(_ngram_ex0(d, max_shingle_df))


def ngram_jaccard_pairs(
    d: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """The verified (≥ threshold) pair table — a filter over the scored
    universe."""
    scored = ngram_scored_pairs(d, max_shingle_df=max_shingle_df)
    return scored.where(F.col("jaccard") >= threshold)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


CONTAINMENT_THRESHOLD = 0.6


def ngram_containment_pairs(
    d: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """ASYMMETRIC containment C(A→B) = |A∩B|/|A| for every candidate pair:
    the doc-inside-doc detector Jaccard structurally misses — a short
    document fully quoted inside a long one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1 from the short side.
    Emits pairs where EITHER direction reaches the threshold, with both
    directions' scores (c_ab = |A∩B|/|A|, c_ba = |A∩B|/|B|).

    Same candidate pipeline, stop-shingle cap, and pair-scale size
    attachment as ngram_jaccard_pairs: the scores differ only in the
    final arithmetic over (inter, na, nb)."""
    # round6_stable for the same boundary-safety reason as the jaccard in
    # _scored_pairs: inter/na with a power-of-two na is exact in
    # binary and can sit on .xxxxxx5 where ROUND conventions diverge
    c_ab = round6_stable(F.col("inter") / F.col("na"))
    c_ba = round6_stable(F.col("inter") / F.col("nb"))
    return (
        _ngram_pair_inter(_ngram_ex0(d, max_shingle_df))
        .select("doc_a", "doc_b", c_ab.alias("c_ab"), c_ba.alias("c_ba"))
        .where(
            (F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold)
        )
    )


def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def _drop_hot_buckets(bands: DataFrame, bucket: str, stats: dict | None) -> DataFrame:
    """``bands`` (band, ``bucket``, …) without the buckets holding more
    than MAX_BAND_BUCKET rows; ``stats``, when given, receives
    ``dropped_buckets`` and ``dropped_band_rows`` (the rows they held).

    The Spark form of the cap: ``simhash_pairs`` always runs it,
    ``minhash_pairs`` only above LOCAL_LSH_ROWS (below it ``_band_pairs``
    applies the same rule in NumPy).

    Occupancy is one map-side combined agg over the band rows, and the hot
    set is hot-bucket-scale (tiny by construction). It is collected here
    rather than broadcast inside the caller's action — the same two jobs —
    so the driver can report what the cap dropped. (An Observation on the
    aggregate reads nothing whenever AQE prunes a subtree that ran empty,
    e.g. when every bucket is hot.)"""
    hot = (
        bands.groupBy("band", bucket)
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") > MAX_BAND_BUCKET)
        .collect()
    )
    if stats is not None:
        stats["dropped_buckets"] = len(hot)
        stats["dropped_band_rows"] = sum(r["occ"] for r in hot)
    hot_b = local_frame(
        bands.sparkSession,
        [(r["band"], r[bucket]) for r in hot],
        f"band INT, {bucket} {bands.schema[bucket].dataType.simpleString()}",
    )
    return bands.join(F.broadcast(hot_b), ["band", bucket], "left_anti")


def _runs(counts):
    """(i, j) for every j < counts[i], i ascending — the rows of a join
    that matches input row i with counts[i] rows."""
    i = np.repeat(np.arange(len(counts)), counts)
    j = np.arange(len(i)) - np.repeat(np.cumsum(counts) - counts, counts)
    return i, j


def _band_pairs(ids, bh, stats):
    """Row pairs (ra, rb), ids[ra] < ids[rb], of the per-doc band table
    that share a band bucket — ``_drop_hot_buckets`` plus the candidate
    self-join and its distinct, in NumPy — or None when Σ C(s,2) over the
    kept buckets exceeds LOCAL_LSH_ROWS.

    ``bh[b]`` holds band b's hash of every row; ``ids`` are distinct.
    Buckets over MAX_BAND_BUCKET are dropped and reported in ``stats``."""
    n_bands, n = bh.shape
    band = np.repeat(np.arange(n_bands, dtype=np.int64), n)
    key = (band << 32) | (bh.ravel().astype(np.int64) & 0xFFFFFFFF)
    _, bucket, occ = np.unique(key, return_inverse=True, return_counts=True)
    hot = occ > MAX_BAND_BUCKET
    stats["dropped_buckets"] = int(hot.sum())
    stats["dropped_band_rows"] = int(occ[hot].sum())
    # ids are distinct per row, so rank order is id order
    by_id = np.argsort(ids, kind="stable")
    rank = np.empty(n, np.int64)
    rank[by_id] = np.arange(n)
    row = np.tile(np.arange(n), n_bands)
    kept = ~hot[bucket]
    b, r = bucket[kept], rank[row[kept]]
    order = np.lexsort((r, b))
    b, r = b[order], r[order]
    starts = np.flatnonzero(np.diff(b, prepend=-1))
    sizes = np.diff(np.append(starts, len(b)))
    if int((sizes * (sizes - 1) // 2).sum()) > LOCAL_LSH_ROWS:
        return None
    # each member pairs with every later (larger-id) member of its bucket
    left, j = _runs(np.repeat(starts + sizes, sizes) - np.arange(len(b)) - 1)
    pair = np.unique(r[left] * n + r[left + 1 + j])
    return by_id[pair // n], by_id[pair % n]


def _pair_jaccard(doc, parent, code, a_ids, b_ids, threshold):
    """(doc_a, doc_b, jaccard) of the candidate pairs (a_ids, b_ids) over
    the text rows with ids ``doc``, as the Spark verification joins give
    them — one row per (row of a, row of b), so a duplicated ``doc_id``
    gives one row per copy — or None when those rows exceed
    LOCAL_LSH_ROWS. Row parent[i] holds the distinct shingle code[i] (one
    code per distinct byte string; each row's entries contiguous, rows
    ascending), and the Jaccard is round6_stable's double arithmetic; an
    empty union has no Jaccard and gives no row."""
    size = np.bincount(parent, minlength=len(doc))
    start = np.cumsum(size) - size

    by_id = np.argsort(doc, kind="stable")
    sid = doc[by_id]
    lo_a = np.searchsorted(sid, a_ids)
    n_a = np.searchsorted(sid, a_ids, "right") - lo_a
    lo_b = np.searchsorted(sid, b_ids)
    n_b = np.searchsorted(sid, b_ids, "right") - lo_b
    if int((n_a * n_b).sum()) > LOCAL_LSH_ROWS:
        return None
    p, j = _runs(n_a * n_b)
    ra = by_id[lo_a[p] + j // n_b[p]]
    rb = by_id[lo_b[p] + j % n_b[p]]

    # |A∩B|: each shingle of the smaller set is looked up in the larger
    # one (the sorted (row, code) keys of the larger sides only), in
    # chunks of at most LOCAL_LSH_ROWS lookups (plus one set)
    small = np.where(size[ra] <= size[rb], ra, rb)
    big = ra + rb - small
    n_codes = int(code.max()) + 1 if len(code) else 1
    looked_up = np.zeros(len(doc), bool)
    looked_up[big] = True
    member = np.sort((parent * n_codes + code)[looked_up[parent]])
    ext = size[small]
    first = np.cumsum(ext) - ext
    inter = np.zeros(len(ra), np.int64)
    lo = 0
    while lo < len(ra):
        hi = max(int(np.searchsorted(first, first[lo] + LOCAL_LSH_ROWS)), lo + 1)
        c, k = _runs(ext[lo:hi])
        q = big[lo:hi][c] * n_codes + code[start[small[lo:hi]][c] + k]
        at = np.minimum(np.searchsorted(member, q), len(member) - 1)
        inter[lo:hi] = np.bincount(c[member[at] == q], minlength=hi - lo)
        lo = hi

    union = size[ra] + size[rb] - inter
    ra, rb, inter, union = (v[union > 0] for v in (ra, rb, inter, union))
    x = inter / union
    r = np.floor(x * 1000000.0 + 0.5) / 1000000.0
    jac = np.maximum(np.minimum(r, x + 1.0), x - 1.0)
    keep = jac >= threshold
    return doc[ra[keep]], doc[rb[keep]], jac[keep]


def _tokens(s: pa.Array):
    """(row, start, length, pieces, keep): the ' '-split pieces of each
    string of ``s`` (no nulls) that are non-empty tokens, with each token's
    byte span in ``s``'s data buffer; ``pieces`` holds all the pieces, and
    ``keep`` is the mask of the tokens among them."""
    toks = pc.split_pattern(s, " ")
    pieces = pc.list_flatten(toks)
    _, _, size = arrow_bytes(pieces)
    offsets = toks.offsets.to_numpy()
    row = np.repeat(np.arange(len(s)), np.diff(offsets))
    # the pieces of a row sit one separator byte apart
    at = np.cumsum(size + 1) - (size + 1)
    _, s_start, _ = arrow_bytes(s)
    start = s_start[row] + at - at[offsets[:-1] - offsets[0]][row]
    keep = size > 0
    return row[keep], start[keep], size[keep], pieces, keep


def _trigram_spans(s: pa.Array):
    """(row, start, length): the byte span in ``s``'s data buffer of every
    word 3-gram of each string of ``s`` (collapsed text, no nulls), rows
    ascending — the shingles ``_doc_shingles`` takes, as occurrences.

    On a string whose whitespace runs are single spaces the matches of
    _TRIGRAM_AT_TOKEN are the consecutive triples of its non-empty
    ' '-split tokens, and each spans the text from its first token's start
    to its last token's end. Splitting the bytes at 0x20 is exact: the
    string is valid UTF-8."""
    row, start, size, _, _ = _tokens(s)
    at = np.flatnonzero(row[:-2] == row[2:])
    return row[at], start[at], start[at + 2] + size[at + 2] - start[at]


def _row_trigrams(s: pa.Array):
    """(parent, code): the distinct word 3-grams of each string of ``s``,
    as in ``_trigram_spans``, sorted by (row, code), where equal codes
    mean equal bytes. A token holds no space, so a trigram's three token
    codes identify its bytes."""
    row, _, _, pieces, keep = _tokens(s)
    enc = pc.dictionary_encode(pieces.filter(pa.array(keep)))
    tok = enc.indices.to_numpy().astype(np.int64)
    n = max(len(enc.dictionary), 1)
    at = np.flatnonzero(row[:-2] == row[2:])
    key = tok[at] * n + tok[at + 1]
    if n**3 >= 1 << 63:  # compact the leading pairs so the key stays int64
        _, key = np.unique(key, return_inverse=True)
    _, code = np.unique(key * n + tok[at + 2], return_inverse=True)
    n_codes = max(int(code.max()) + 1 if len(code) else 0, 1)
    member = np.unique(row[at] * n_codes + code)
    return member // n_codes, member % n_codes


# trigram occurrences per block of rows in _driver_bands: one seed's pass
# over a block stays in the CPU cache
_SIG_BLOCK = 1 << 16


def _driver_bands(row_ids, hashes, n_bands):
    """(doc_ids, bh): the Spark path's band table in NumPy, from the
    trigram occurrences' ``doc_id``s and xxhash64 values (grouped by text
    row). Each distinct ``doc_id`` gets, per seed s, the minimum of
    xxhash64(lit(s), h) over its trigrams' hashes h, and bh[b] is band
    b's ``hash`` of its seeds' minima (int32).

    The seed-independent half of ``hashLong`` is computed once per
    occurrence; each seed then finishes it block by block."""
    n_seeds = n_bands * MINHASH_BAND_ROWS
    key = xxhash64_long_key(hashes)
    starts = np.flatnonzero(np.diff(row_ids, prepend=row_ids[:1] - 1))
    seeds = xxhash64_ints(np.arange(n_seeds))
    sig = np.empty((n_seeds, len(starts)), np.int64)
    cuts = np.unique(np.searchsorted(starts, np.arange(0, len(key), _SIG_BLOCK)))
    ends = np.append(starts, len(key))
    buf = np.empty(len(key), np.uint64)
    for r0, r1 in zip(cuts, np.append(cuts[1:], len(starts))):
        p0, p1 = ends[r0], ends[r1]
        out = buf[: p1 - p0]
        for s in range(n_seeds):
            x = xxhash64_long_finish(key[p0:p1], int(seeds[s]), out=out)
            sig[s, r0:r1] = np.minimum.reduceat(x, starts[r0:r1] - p0)
    # copies of a doc_id pool into one signature, as the groupBy does
    ids = row_ids[starts]
    order = np.argsort(ids, kind="stable")
    sid = ids[order]
    first = np.flatnonzero(np.diff(sid, prepend=sid[:1] - 1))
    if len(sid):
        sig = np.minimum.reduceat(sig[:, order], first, axis=1)
    bh = np.stack(
        [
            murmur3_longs(sig[b * MINHASH_BAND_ROWS : (b + 1) * MINHASH_BAND_ROWS])
            for b in range(n_bands)
        ]
    )
    return sid[first], bh


def _driver_minhash_pairs(
    d: DataFrame, n_bands: int, threshold: float, stats: dict
) -> DataFrame | None:
    """``minhash_pairs``' driver finish: its verified pairs as an Arrow
    relation, or None when ``doc_id`` is not an integer, or the text is
    over LOCAL_LSH_BYTES, or its rows, its tokens, the candidate pairs or
    their row pairs are over LOCAL_LSH_ROWS (``stats`` is then left to the
    Spark path)."""
    id_type = d.schema["doc_id"].dataType
    if not isinstance(id_type, IntegralType):
        return None
    d = d.where(F.col("text").isNotNull())
    # a length read per row, no pass over the characters
    n_rows, n_bytes = d.agg(F.count(F.lit(1)), F.sum(F.octet_length("text"))).first()
    n_bytes = n_bytes or 0
    stats["text_rows"], stats["text_bytes"] = n_rows, n_bytes
    if n_rows > LOCAL_LSH_ROWS // n_bands or n_bytes > LOCAL_LSH_BYTES:
        return None
    table = d.select("doc_id", _collapsed(F.col("text")).alias("s")).toArrow()
    ids = table.column("doc_id").to_numpy()
    s = table.column("s").combine_chunks()
    # the ' '-split pieces: the NumPy arrays below hold 40–75 bytes per
    # piece, so one-letter words at the byte budget would need ~2.4 GB
    n_tokens = (pc.sum(pc.count_substring(s, " ")).as_py() or 0) + len(s)
    if n_tokens > LOCAL_LSH_ROWS:
        return None
    row, start, length = _trigram_spans(s)
    hashes = xxhash64_spans(arrow_bytes(s)[0], start, length)
    doc_ids, bh = _driver_bands(ids[row], hashes, n_bands)
    found = _band_pairs(doc_ids, bh, stats)
    if found is None:
        return None
    a_ids, b_ids = doc_ids[found[0]], doc_ids[found[1]]
    # exact shingle sets for the candidates' rows only
    rows = np.flatnonzero(np.isin(ids, np.concatenate([a_ids, b_ids])))
    parent, code = _row_trigrams(s.take(pa.array(rows)))
    out = _pair_jaccard(ids[rows], parent, code, a_ids, b_ids, threshold)
    if out is None:
        return None
    stats["finish"] = "driver"
    struct = StructType(
        [
            StructField("doc_a", id_type),
            StructField("doc_b", id_type),
            StructField("jaccard", DoubleType()),
        ]
    )
    schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(out, schema)], schema=schema
    )
    return arrow_frame(d.sparkSession, table, struct)


def minhash_pairs(
    d: DataFrame,
    threshold: float = 0.5,
    seeds: int = MINHASH_SEEDS,
    stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs via banded MinHash (2 rows/band), verified with exact
    Jaccard ≥ threshold. The hash family is xxhash64: a shingle g hashes
    to h = xxhash64(g), and seed s's value is xxhash64(s, h).
    The signature is per ``doc_id``: copies of a ``doc_id`` pool their
    shingles into one. Jaccard is per row: one row per (copy of a, copy
    of b). Rows with a NULL ``doc_id`` are dropped first (they can never
    pair); NULL text gives no row; empty text has Jaccard 0 with a
    non-empty copy and none with an empty one.

    Band buckets holding more than MAX_BAND_BUCKET docs are dropped from
    the candidate join, which loses the pairs only they would have found.
    The hot buckets are found when this function is called, and ``stats``,
    when given, receives ``dropped_buckets`` and ``dropped_band_rows``
    (the (doc, band) rows those buckets held), ``finish``: "driver" or
    "spark", and for an integer ``doc_id`` the decision's counts
    ``text_rows`` and ``text_bytes``.

    Driver finish: one aggregate counts the non-NULL text rows and their
    UTF-8 bytes (``octet_length``: a length read, no regex). When the rows
    are at most LOCAL_LSH_ROWS // bands and the bytes at most
    LOCAL_LSH_BYTES (64 MiB), one ``toArrow()`` brings (doc_id, s) to the
    driver, s the case-folded text whose whitespace runs are collapsed to
    one space. Its ' '-split tokens (the 0x20 bytes plus the rows) must
    number at most LOCAL_LSH_ROWS: the NumPy arrays hold about 40–75 bytes
    per token, so 2²³ tokens need at most about 0.6 GB, where 64 MiB of
    one-letter words would have needed 2.4 GB. NumPy takes each
    trigram's byte span in s, hashes it with ``functions/sparkhash.py``'s
    bit-exact twins of ``xxhash64`` and ``hash``, takes the minima per
    ``doc_id``, bands them and applies the cap; the candidate pairs and
    their row pairs must also fit LOCAL_LSH_ROWS. Exact shingle sets are
    built for the candidates' rows only, and each pair is verified with
    byte-exact Jaccard. The result is an Arrow relation, and nothing is
    left persisted. Rows, Jaccard bits and ``stats`` equal the Spark
    path's (``tests/test_minhash_lsh.py``). With ``tools/scale_stress.py``
    (docs of 25 words, 4-core host) 250k docs took 9.2 s wall and 20.5
    CPU-s, and the driver process peaked at 658 MB RSS; the token budget
    holds about 335k such docs.

    A corpus over the budget (any 100 TB one) or with non-integer
    ``doc_id``s runs the Spark path: shingles and a per-doc band table,
    each localCheckpointed for the call; bands exploded from the table,
    shuffled by (band, bucket), self-joined, and verified by joins
    against the shingles. Over the budget the failed decision costs one
    aggregate that reads each text's length (its exchange carries one
    partial row per partition): 0.3–1.2 CPU-s at 400k docs of 25 words,
    about what ``count(1)`` alone costs. Text within the byte budget but
    over the token budget also pays for the collect.

    A ``seeds`` below MINHASH_BAND_ROWS (no whole band) raises ValueError."""

    if seeds < MINHASH_BAND_ROWS:
        raise ValueError(
            f"minhash_pairs needs seeds >= {MINHASH_BAND_ROWS} (one band), got {seeds}"
        )
    n_bands = seeds // MINHASH_BAND_ROWS
    d = d.where(F.col("doc_id").isNotNull())
    stats = {} if stats is None else stats
    local = _driver_minhash_pairs(d, n_bands, threshold, stats)
    if local is not None:
        return local
    stats["finish"] = "spark"
    # checkpointed for the call: read twice (signatures + exact-Jaccard
    # verification), and shingling is the expensive expression work. A doc
    # without shingles explodes to zero rows: no signature, so never a
    # candidate.
    sh = _doc_shingles(d).localCheckpoint(eager=False)
    # signatures via explode → one string hash per shingle → codegen'd
    # long-over-long seeded hashes → min per doc. Higher-order transform()
    # lambdas are INTERPRETED (no codegen); the exploded form codegens and
    # the groupBy min partial-aggregates map-side, so the shuffle carries
    # only docs×seeds minima — measured 1.6× faster than HOF at sf0.1.
    ex = sh.select("doc_id", F.explode("shingles").alias("g"))
    hashed = ex.select("doc_id", F.xxhash64("g").alias("h")).select(
        "doc_id",
        *[F.xxhash64(F.lit(s), F.col("h")).alias(f"x{s}") for s in range(seeds)],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"x{s}").alias(f"h{s}") for s in range(seeds)]
    )
    # checkpointed: the hot-bucket agg and the band self-join both read
    # it, so the signature aggregate runs once
    per_doc = sig.select(
        "doc_id",
        *[
            F.hash(
                *[
                    F.col(f"h{b * MINHASH_BAND_ROWS + r}")
                    for r in range(MINHASH_BAND_ROWS)
                ]
            ).alias(f"b{b}")
            for b in range(n_bands)
        ],
    ).localCheckpoint(eager=False)
    bands = per_doc.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    bands = _drop_hot_buckets(bands, "bh", stats)
    ca = bands.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    cb = bands.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    cands = (
        ca.join(cb, ["band", "bh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-Jaccard verification of candidates only
    verified = (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                F.col("n_shingles").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("n_shingles").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            # an empty union (two empty-text copies of duplicated ids)
            # has no Jaccard: NULL, not an ANSI division error
            round6_stable(
                F.col("inter")
                / F.nullif(F.col("na") + F.col("nb") - F.col("inter"), F.lit(0))
            ),
        )
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(d: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """63-bit SimHash per doc.

    r14 (guide §2.3): the bit dimension is a compile-time constant, so the
    per-bit ±1 votes are ``bits`` conditional aggregates in ONE doc-keyed
    pass — the previous token × bit double-explode generated 63× the token
    rows (16M at sf0.1) through a broadcast-NLJ against the bitvals frame
    before its first partial aggregation, and needed a second (doc, bit)
    aggregation afterwards (the dedup_simhash_est / pr_curve τ-grid move).
    Exact integer arithmetic, same vote sums, same ties-to-0 sign rule →
    identical signatures (verified row-for-row at sf0.001/0.01/0.1).
    (hv >>> b) & 1 == (hv >> b) & 1 for b < 64 — &1 reads bit b either way.
    """
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).withColumn("hv", F.xxhash64("tok"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("hv"), b).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sim = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for b in range(bits)
    )
    return votes.select("doc_id", sim.alias("simhash"))


def spark_bitvals(spark: SparkSession, bits: int) -> DataFrame:
    return local_frame(
        spark, [(b, 1 << b) for b in range(bits)], "bit INT, bitval BIGINT"
    )


def simhash_pairs(
    d: DataFrame, hamming_max: int = HAMMING_MAX, stats: dict | None = None
) -> DataFrame:
    """Banded candidates (4 × 16-bit bands — pairs within Hamming ≤ 3 of a
    64-bit hash must share a band; wider radius trades recall) + exact
    Hamming verification.

    Band buckets holding more than MAX_BAND_BUCKET docs are dropped, as in
    ``minhash_pairs``: the hot buckets are collected when this function is
    called, and ``stats``, when given, receives ``dropped_buckets`` and
    ``dropped_band_rows``."""
    sig = simhash_signatures(d)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bv")
    # an exact-dup clique shares every band value (MAX_BAND_BUCKET note)
    bands = _drop_hot_buckets(bands, "bv", stats)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(sa ^ sb)").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= hamming_max)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# connected components over near-dup pairs → canonical-document selection
# ---------------------------------------------------------------------------


def _symmetric(edges: DataFrame) -> DataFrame:
    """The distinct (src, dst) edges in both directions, localCheckpointed
    for the caller's call: its label rounds read them once per round."""
    return (
        edges.select(F.col("src"), F.col("dst"))
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _owned(df: DataFrame) -> DataFrame:
    """A driver loop's last, materialized table as a frame that holds its
    own blocks: a persisted table (a CacheManager entry, which would
    outlive the call) is copied into a local checkpoint and unpersisted; a
    checkpointed one is returned as it is. Spark frees the checkpoint
    once the returned frame is unreachable."""
    if not df.is_cached:
        return df
    out = df.localCheckpoint(eager=True)
    df.unpersist()
    return out


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Min-label propagation over undirected edges → (node, component) with
    component = smallest node id reachable. Deterministic.

    Driver loop with one join + min-agg per iteration, converging in
    O(diameter) rounds; each round persists its label table and checks a
    scalar convergence sum (one tiny action). The label table is referenced
    twice per round, so the logical plan doubles every round — every third
    round localCheckpoints to truncate lineage (planning OOMs on long
    chains otherwise), while the common tiny-clique case (diameter ≤ ~3)
    converges before ever paying a checkpoint (measured ~3s/round saved at
    sf0.1 vs checkpointing every round). At 100 TB swap localCheckpoint
    for checkpoint() to reliable storage; for adversarially long chains
    switch to connected_components_star (same primitives, O(log n) rounds).
    Nothing stays persisted after the call: the returned frame holds its
    own checkpoint of the last label table.
    """
    # the edge list is usually the output of an expensive candidate pipeline
    # (shingle joins); checkpoint it for the call or every propagation
    # round replays it.
    sym = _symmetric(edges)
    labels = nodes.select(F.col("node"), F.col("node").alias("label")).persist()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    for i in range(max_iters):
        neighbor_labels = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_labels = (
            # lazy on truncation rounds: the fixpoint agg right below is
            # the materializer either way (r13, −1 job per 3 rounds)
            new_labels.localCheckpoint(eager=False)
            if i % 3 == 2
            else new_labels.persist()
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:  # labels only ever decrease; sum is a fixpoint witness
            converged = True
            break
        prev_sum = new_sum
    # O(diameter) truncation is WRONG labels, not an approximation — fail
    # loudly and point at the O(log n) engine (the round-8 CC stress lesson)
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iters} rounds "
            f"(diameter > rounds); use connected_components_star or raise "
            f"max_iters"
        )
        if strict:
            labels.unpersist()
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    labels = _owned(labels)
    return labels.withColumnRenamed("label", "component")


def _local_components(u, v):
    """(node ids, component) for every node of the edge list u–v, where
    component is the smallest id in the node's connected component.

    Min-label hooking with pointer jumping over ids compacted by
    ``np.unique`` (so a smaller index is a smaller id): each round hooks
    the label root of every edge end to the other end's label, in both
    directions, then jumps pointers until every label is a root. A label
    only decreases and always names a node of the same component, so the
    round that changes nothing leaves each component labelled by its
    minimum."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(ids))
    while True:
        before = lab.copy()
        np.minimum.at(lab, lab[a], lab[b])
        np.minimum.at(lab, lab[b], lab[a])
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, before):
            return ids, ids[lab]


def _driver_labels(e: DataFrame, edges: pa.Table) -> DataFrame:
    """(u, component) for every node of the collected (u, v) edge table,
    labelled by ``_local_components`` and handed back to Spark in the
    column types of ``e``."""
    ids, comp = _local_components(
        edges.column("u").to_numpy(), edges.column("v").to_numpy()
    )
    struct = StructType(
        [
            StructField("u", e.schema["u"].dataType),
            StructField("component", e.schema["v"].dataType),
        ]
    )
    schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(ids, type=schema[0].type), pa.array(comp, type=schema[1].type)],
        schema=schema,
    )
    return arrow_frame(e.sparkSession, table, struct)


# plan nodes that only read, project or filter rows already held in
# memory: the cache's (with cached data substituted) or a local relation's
_IN_MEMORY_NODES = frozenset({"Project", "Filter", "InMemoryRelation", "LocalRelation"})


def _in_memory(df: DataFrame) -> bool:
    """True when every node of ``df``'s plan, with cached data
    substituted, is in _IN_MEMORY_NODES: reading it again reruns no
    scan, join or aggregate."""
    stack = [df._jdf.queryExecution().withCachedData()]
    while stack:
        plan = stack.pop()
        if plan.nodeName() not in _IN_MEMORY_NODES:
            return False
        kids = plan.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return True


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 40,
    stats: dict | None = None,
    strict: bool = True,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds —
    the O(log n)-round upgrade over min-label propagation (O(diameter)) for
    adversarially long chains (per the two-phase star algorithm of Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public literature, re-derived here as pure DataFrame ops) — finished in
    the driver once the edge set is small.

    Representation: edges are kept big→small (u > v) throughout.
    - large-star: each node u links every LARGER neighbor to u's minimum
      neighborhood label m = min(Γ(u) ∪ {u}) — long tails collapse toward
      minima from below.
    - small-star: each node u re-points itself and its smaller neighbors at
      m — stars flatten to depth 1.
    Both phases keep every non-isolated node and every component, so any
    round's edge set labels the graph as well as the input's does. At the
    joint fixpoint every edge is (x, component_min(x)). Each round is two
    (groupBy-min + join) shuffles and a distinct; the fixpoint witness is
    one tiny agg action (count + an order-free bit_xor-of-xxhash64 set
    fingerprint).

    Driver finish: whenever the canonical edge rows — the input's, read
    by one bounded ``limit(LOCAL_CC_EDGES + 1).toArrow()`` job, or a
    round's, whose count the fingerprint agg already returns — number at
    most LOCAL_CC_EDGES, they are collected with ``toArrow()`` (a JVM job,
    no Python worker), labelled by ``_local_components`` in NumPy and
    handed back as an Arrow relation (``arrow_frame``) that is left-joined
    onto ``nodes``. The budget bounds the driver's share: 2²¹ edges are
    32 MB of Arrow and peak at about 0.25 GB of NumPy arrays, at most
    ~5 CPU-s (a randomly relabelled 2M-node chain). At 100 TB the rounds
    stay in Spark until the graph is under the budget, and the driver
    finishes only that remainder. Rounds shrink a graph towards one edge
    per non-minimum node, so a graph with more than LOCAL_CC_EDGES such
    nodes ends at the Spark fixpoint as before; a near-dup graph of fewer
    edge rows runs no round at all. ``stats["rounds"]`` counts Spark
    rounds only (0 when the input fits), ``stats["converged"]`` is True
    for a driver finish or a Spark fixpoint, and ``stats["finish"]`` says
    which one ran ("driver" or "spark").

    Same output contract as connected_components: (node, component), with
    component the smallest node id of the node's component.

    An edge source that is computed (joins, scans, aggregates) is
    checkpointed before the bounded probe, so it runs once whichever
    finish follows. One that only projects and filters cached or local
    rows (``_in_memory``; a persisted or driver-built pair table) is
    checkpointed only when a Spark round runs: the probe then reads
    those rows and round 1 reads them again. Each round's edge set is
    localCheckpoint'ed, not merely persisted: a
    round references the previous edge set ~4× (symmetric view + both
    joins), so without lineage truncation the logical plan itself grows
    exponentially in the round count and planning OOMs long before any
    data does. On a real cluster, swap localCheckpoint for checkpoint()
    to reliable storage so a lost executor can't drop checkpoint blocks.
    """
    # canonical big→small direction; self-loops dropped. Duplicate rows
    # stay: they change no label, and round 1's closing distinct drops them.
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
    )
    # one job whose reduce side stops at LOCAL_CC_EDGES + 1 rows: the
    # whole edge set when it fits, a bounded prefix when it does not (its
    # map side writes up to that many rows per partition, so over the
    # budget it costs at most one shuffle write of the edges, once)
    in_memory = _in_memory(e)
    if not in_memory:
        # lazy: the collect below materializes + checkpoints it, so the
        # edge source runs once even when round 1 reads it next
        e = e.localCheckpoint(eager=False)
    head = e.limit(LOCAL_CC_EDGES + 1).toArrow()
    n_edges = head.num_rows
    if n_edges > LOCAL_CC_EDGES and in_memory:
        # lazy: round 1's fingerprint agg materializes it
        e = e.localCheckpoint(eager=False)
    prev = None
    rounds = 0
    fixpoint = False
    # r13 round-shape rewrite (guide §2.4 — remove shuffles outright): each
    # star phase needs "per-u min attached to every row of the u-group",
    # which the original expressed as groupBy-min + an equi-join back — one
    # shuffle PLUS a join (whose AQE broadcast build is its own stage job
    # per round). A min(...) OVER (PARTITION BY u) window computes the same
    # value in ONE exchange with no join at all; the set reaching each
    # round's closing distinct is identical row-for-row, so fixpoint,
    # fingerprint and labels are unchanged (tests pin chain/star/cross
    # topologies). The former mid-round ls.distinct is also gone: duplicate
    # (u, v) rows cannot change a per-u min and the ss distinct removes
    # their join images — the carried duplicates stay bounded by
    # |sym| = 2|e| rows, the same order the distinct's own input had.
    # Measured: 65 → ~35 jobs / 7.9 → ~4 s for the 6-round sf0.1 graph.
    w_u = Window.partitionBy("u")
    while n_edges > LOCAL_CC_EDGES and rounds < max_iters:
        rounds += 1
        # large-star over the symmetric view
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls = (
            sym.withColumn(
                "m", F.least(F.min("v").over(w_u), F.col("u"))
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star on big→small edges: every ls row already carries its
        # group's min via the window, and the union's (u, m) branch needs
        # only the distinct below to collapse its per-row duplicates
        lsw = ls.withColumn("m", F.min("v").over(w_u))
        ss = (
            lsw.select(F.col("v").alias("x"), "m")
            .unionByName(lsw.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            # lazy: the fingerprint agg below is the materializer — one
            # action per round instead of eager-checkpoint + agg (r13,
            # −1 job/round; the agg computes every partition, so the
            # checkpoint covers the full edge set exactly as eager did)
            .localCheckpoint(eager=False)
        )
        # order-free, overflow-free set fingerprint (a SUM of int64 hashes
        # would overflow under ANSI mode)
        state = ss.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(u, v))"),
        ).first()
        e = ss
        cur = tuple(state)
        if cur == prev:
            fixpoint = True
            break
        prev = cur
        n_edges = cur[0]
    local = not fixpoint and n_edges <= LOCAL_CC_EDGES
    if stats is not None:  # observability for scale stress / callers
        stats["rounds"] = rounds
        stats["converged"] = fixpoint or local
        stats["finish"] = "driver" if local else "spark"
    # Hitting the cap without the fixpoint means the labels are WRONG, not
    # merely approximate (the round-8 5M-node/100k-chain stress returned
    # 672k bad labels silently at the old cap of 15) — fail loudly. The
    # cap exists only to bound a pathological input, not as an answer.
    if not (fixpoint or local):
        msg = (
            f"connected_components_star did not reach its fixpoint in "
            f"{max_iters} rounds — labels would be wrong; raise max_iters"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    if local:
        labels = _driver_labels(e, head if rounds == 0 else e.toArrow())
    else:
        labels = e.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(labels, nodes.node == labels.u, "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def _component_report(comp: DataFrame) -> DataFrame:
    """(node, component) → the dedup report shape: canonical doc = min
    doc_id per component; the downstream "drop all but canonical" filter is
    `WHERE NOT is_canonical`."""
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


def _doc_pair_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return d.select(F.col("doc_id").alias("node")), pairs


def triangle_census(edges: DataFrame) -> DataFrame:
    """Triangle count + transitivity of an undirected graph given as an
    id-normalized edge list (a < b, no duplicates) — the density diagnostic
    for a near-dup graph: transitivity ≈ 1 means the candidate pairs form
    clean cliques (safe to collapse to components); low transitivity flags
    chained false positives that component-collapse would over-merge.

    Degree-ordered orientation (the MPC-standard trick): every edge points
    from its lower (degree, id) endpoint to the higher. Each triangle then
    has EXACTLY one node with two out-edges in it, so wedges built at the
    common source count each triangle once, and — the scale property — every
    node's out-degree is O(√m) regardless of how skewed the raw degree
    distribution is, so the wedge self-join's fan-out per key is bounded:
    a celebrity node with 10⁸ neighbors contributes no 10¹⁶-row wedge
    explosion, because its edges all point INTO it. Plain id-ordering has
    no such bound (a low-id hub keeps its full fan-out).

    Output (1 row): n_nodes, n_edges, n_triangles, n_wedges (= Σ C(deg,2),
    integer-exact), transitivity = 3·triangles / wedges.
    BOUND (int64, pinned r9): C(deg,2) = deg·(deg−1) div 2 is exact while
    every node degree < ~3.0e9 (deg² < 2⁶³) — i.e. a single document with
    3 billion near-duplicates; past it Spark ANSI-errors LOUDLY.
    """
    e = edges.select(F.col("a"), F.col("b"))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    x, y = o.alias("x"), o.alias("y")
    wedges = (
        x.join(y, "src")
        .where(F.col("x.dst") < F.col("y.dst"))
        .select(F.col("x.dst").alias("wa"), F.col("y.dst").alias("wb"))
    )
    # close the wedge against the id-normalized edge list (wa < wb by
    # construction, matching e's a < b)
    tri = wedges.join(e, (wedges.wa == e.a) & (wedges.wb == e.b)).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    gstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(deg * (deg - 1)) div 2").cast("bigint").alias("n_wedges"),
    )
    ecount = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.join(F.broadcast(gstats))
        .join(F.broadcast(ecount))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            # round6_stable, not F.round: 3·t/w is an integer ratio, the
            # half-boundary class where Spark's HALF_UP and DuckDB's
            # scaled-multiply round() can disagree (the funnel/sessions
            # convention).
            round6_stable(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0))
            ).alias("transitivity"),
        )
    )


def q_dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the census consumes the edge list four times (degrees, orientation,
    # closure probe, edge count); eager localCheckpoint materializes the
    # candidate-pair pipeline ONCE — lazy persist still races the four
    # subtrees of the single census action into recomputes (measured
    # 5–7 s lazy vs ~3.5 s eager at sf0.1). The edge list is the near-dup
    # graph, tiny next to the corpus; on a cluster swap for checkpoint()
    # to reliable storage, as with connected_components.
    e = (
        ngram_jaccard_pairs(d)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    return triangle_census(e)


def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection per NEAR-dup cluster — the record a dedup
    pipeline actually ships: connected components over the verified
    jaccard pair graph (the star engine), then per component keep the
    best document (longest n_chars; ties to the lowest doc_id) with an
    accounting of what was dropped (member count, dropped docs, dropped
    chars). Complements curation_dedup_keep_best, which picks within
    EXACT-hash groups; this picks within the fuzzy clusters the LSH/graph
    tier produces. The oracle extends the components fixpoint CTE with
    the same argmax window, so the gate certifies the full
    pairs→components→survivor composition end to end.

    Scale: components ride the verified pair table; keep-best adds ONE
    doc_id equi-join to attach n_chars and one component-keyed agg
    (max_by + sums, map-side combined). Nothing new shuffles beyond the
    component key."""
    d = load_table(spark, sf_dir, "documents")
    nodes, pairs = _doc_pair_edges(spark, sf_dir)
    comp = connected_components_star(nodes, pairs)
    j = comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
    ).join(d.select("doc_id", "n_chars"), "doc_id")
    kept = j.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        # max over (n_chars, −doc_id) = longest doc, ties to LOWEST id —
        # the oracle's ORDER BY n_chars DESC, doc_id ASC
        F.max_by(
            F.struct("doc_id", "n_chars"),
            F.struct(F.col("n_chars").alias("c"), (-F.col("doc_id")).alias("ni")),
        ).alias("s"),
        F.sum("n_chars").alias("tot_chars"),
    )
    return kept.select(
        "component_id",
        "n_members",
        F.col("s.doc_id").alias("kept_doc_id"),
        F.col("s.n_chars").alias("kept_n_chars"),
        (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        (F.col("tot_chars") - F.col("s.n_chars")).alias("chars_dropped"),
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via connected_components_star.

    Headline choice pinned by measurement (r4 A/B, BASELINE.md "CC engine
    A/B"): star rounds beat min-label propagation on BOTH the fixture dup
    graph (4.7 s vs 20.0 s cold, 3.3 s vs 6.3 s warm at sf0.1) and a
    20k-node adversarial chain (8.5 s converged vs label-prop unconverged
    after 100 rounds) — O(log n) rounds against O(diameter). A pair graph
    within the engine's LOCAL_CC_EDGES budget — every fixture's — is now
    labelled in the driver after one bounded collect, with no round at
    all; the rounds run only above the budget. connected_components
    (label-prop) stays exported.
    """
    nodes, pairs = _doc_pair_edges(spark, sf_dir)
    return _component_report(connected_components_star(nodes, pairs))


PR_ITERS = 6
PR_SCALE = 10**12  # integer mass units; 85·total_mass ≈ 8.5e13 ≪ int64 max


def graph_pagerank(
    nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS
) -> DataFrame:
    """PageRank over an undirected edge list — centrality for the near-dup
    graph (which canonical doc is the hub of its duplicate cluster) and
    the third iterative-graph primitive after min-label CC and the star
    rounds.

    Cross-engine determinism: float PageRank is unfixable across engines
    (per-node contribution sums in arbitrary order), so ALL arithmetic is
    int64 at PR_SCALE units with floor division — contributions
    ``v div deg``, damping as the rational 85/100, dangling mass
    redistributed as ``dm div n``. Integer sums are order-free, so both
    engines produce bit-identical mass vectors and the oracle (the same
    recurrence unrolled as chained CTEs) hash-matches exactly.

    Scale: per iteration one src-keyed join (edges ⋈ ranks) + one
    dst-keyed sum + a 1-row dangling agg — the CC shuffle budget with a
    degree join folded in. The rank table is referenced twice per round
    (contribs + dangling), so lineage doubles per round: every 3rd round
    localCheckpoints exactly like connected_components (at 100 TB swap
    for checkpoint() to reliable storage)."""
    n = nodes.count()
    if n == 0:
        # empty graph: the per-node base share PR_SCALE // n is undefined
        # and the oracle returns 0 rows — emit the same empty frame
        # instead of a driver-side ZeroDivisionError (r9 hostile gate)
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("pr_units"),
            F.lit(0.0).alias("pr"),
        )
    # checkpointed for the call: sym feeds the degrees and sym_deg, and
    # every round reads the degrees and sym_deg
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=False)
    )
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    sym_deg = sym.join(deg, "src").localCheckpoint(eager=False)
    base = F.lit((15 * PR_SCALE) // (100 * n)).cast("long")
    pr = nodes.select("node", F.lit(PR_SCALE // n).cast("long").alias("v")).persist()
    for i in range(iters):
        contribs = (
            sym_deg.join(pr, sym_deg.src == pr.node)
            .select(F.col("dst").alias("node"), F.expr("v div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        dangling = (
            pr.join(deg, pr.node == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("v"), F.lit(0)).alias("dm"))
        )
        new_pr = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    base
                    + F.expr(f"85 * (coalesce(s, 0) + dm div {n}) div 100")
                ).cast("long").alias("v"),
            )
        )
        new_pr = (
            # lazy on truncation rounds: the count right below materializes
            new_pr.localCheckpoint(eager=False)
            if i % 3 == 2
            else new_pr.persist()
        )
        new_pr.count()
        pr.unpersist()
        pr = new_pr
    pr = _owned(pr)
    return pr.select(
        "node",
        F.col("v").alias("pr_units"),
        (F.col("v").cast("double") / F.lit(float(PR_SCALE))).alias("pr"),
    )


def q_dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, pairs = _doc_pair_edges(spark, sf_dir)
    return graph_pagerank(nodes, pairs)


HOPS_MAX_ITERS = 30


def graph_hops(nodes: DataFrame, edges: DataFrame, max_iters: int = HOPS_MAX_ITERS) -> DataFrame:
    """(node, component, hops): component = min reachable id (as
    connected_components) AND hops = the BFS shortest-path distance to
    that canonical node — the joint (label, distance) fixpoint, fully
    oracle-checkable because everything is integer min-plus (no float
    order sensitivity; same device as the integer PageRank).

    Per round each node takes min(struct(l, d)) over itself and its
    neighbors' (l, d+1): labels converge to the component min and, once
    they have, d Bellman-Ford-relaxes to the BFS distance. Same
    O(diameter) round budget, per-round shuffle pair, 3rd-round-checkpoint
    lineage policy and returned checkpoint as connected_components; the
    symmetric edge set is CC's (``_symmetric``)."""
    sym = _symmetric(edges)
    state = nodes.select(
        "node",
        F.col("node").alias("l"),
        F.lit(0).cast("bigint").alias("d"),
    ).persist()
    prev = state.agg(
        F.sum("l").alias("sl"), F.sum("d").alias("sd")
    ).first()
    prev_key = (prev["sl"], prev["sd"])
    for i in range(max_iters):
        nbr = sym.join(state, sym.src == state.node).select(
            F.col("dst").alias("node"), "l", (F.col("d") + 1).alias("d")
        )
        merged = (
            state.unionByName(nbr)
            .groupBy("node")
            .agg(F.min(F.struct("l", "d")).alias("s"))
            .select("node", F.col("s.l").alias("l"), F.col("s.d").alias("d"))
        )
        merged = (
            # lazy on truncation rounds: the witness agg right below is
            # the materializer either way (r13, −1 job per 3 rounds)
            merged.localCheckpoint(eager=False)
            if i % 3 == 2
            else merged.persist()
        )
        row = merged.agg(F.sum("l").alias("sl"), F.sum("d").alias("sd")).first()
        key = (row["sl"], row["sd"])
        state.unpersist()
        state = merged
        if key == prev_key:  # (l, d) pairs only ever lexicographically decrease
            break
        prev_key = key
    state = _owned(state)
    return state.select(
        F.col("node"), F.col("l").alias("component"), F.col("d").alias("hops")
    )


def q_dedup_graph_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance of every doc to its duplicate cluster's canonical —
    the triage signal for HOW a component formed (hops > 1 = transitive
    merges, the chained-near-dup shape a high transitivity census rules
    out)."""
    nodes, pairs = _doc_pair_edges(spark, sf_dir)
    out = graph_hops(nodes, pairs)
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        F.col("hops").cast("bigint").alias("hops"),
    )


KCORE_K = 2  # peel threshold: 2-core separates chains from dense clusters
KCORE_ROUNDS = 3  # bounded simultaneous-peel rounds (unrolled in the oracle)


def kcore_peel(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Bounded-round k-core peeling of an undirected graph given as a
    SYMMETRIZED (s, d) edge list: each round simultaneously removes every
    node whose degree among survivors is < k (the standard synchronous
    peel — deterministic, unlike sequential peeling). Returns per node:
    initial degree, the round it was peeled (0 = survived all rounds),
    the in-core flag, and the residual degree inside the core.

    In a near-dup graph the k-core separates DENSE duplicate clusters
    (template farms, mirrored boilerplate — every member ≥k verified
    neighbors) from chain artifacts that thread A~B~C without mutual
    support; chains dissolve under peeling, cliques don't. Rounds are
    bounded and unrolled — the pagerank/MMR idiom — so the oracle is the
    identical CTE chain and the gate is fully hash-exact.

    Scale: each round is two doc-keyed semi-joins + one map-side-combined
    degree agg over a frame that only SHRINKS; R rounds = O(R) shuffles,
    no fixpoint, no driver loop over data."""
    e = edges.select(F.col("s"), F.col("d"))
    deg0 = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    cur = deg0
    peeled_parts: list[DataFrame] = []
    for r in range(1, rounds + 1):
        surv = cur.where(F.col("deg") >= k).select("s")
        peeled_parts.append(
            cur.where(F.col("deg") < k).select(
                "s", F.lit(r).cast("int").alias("peeled_round")
            )
        )
        e = e.join(surv, "s", "left_semi").join(
            surv.select(F.col("s").alias("d")), "d", "left_semi"
        )
        nxt = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg2"))
        cur = surv.join(nxt, "s", "left").select(
            "s", F.coalesce(F.col("deg2"), F.lit(0).cast("bigint")).alias("deg")
        )
    peeled = peeled_parts[0]
    for p in peeled_parts[1:]:
        peeled = peeled.unionByName(p)
    return (
        deg0.select(F.col("s").alias("node"), F.col("deg").alias("deg0"))
        .join(peeled.select(F.col("s").alias("node"), "peeled_round"), "node", "left")
        .join(
            cur.select(F.col("s").alias("node"), F.col("deg").alias("cd")),
            "node",
            "left",
        )
        .select(
            "node",
            "deg0",
            F.coalesce(F.col("peeled_round"), F.lit(0)).alias("peeled_round"),
            F.col("peeled_round").isNull().alias("in_kcore"),
            F.coalesce(F.col("cd"), F.lit(0).cast("bigint")).alias("core_deg"),
        )
    )


def q_dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core census of the verified near-dup graph (see kcore_peel)."""
    _, pairs = _doc_pair_edges(spark, sf_dir)
    sym = pairs.select("src", "dst").unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("s"), F.col("dst").alias("d"))
    # eager checkpoint of the (tiny) edge list BEFORE the peel loop: the
    # unrolled rounds reference it from many concurrent stages, and a
    # merely-persisted frame races its own cache materialization — every
    # stage that misses recomputes the whole jaccard subtree (the MMR
    # lineage lesson; measured 64 s → ~5 s at sf0.1)
    # coalesce(8): the verified edge list is pair-scale (≪ corpus — K per
    # duplicate cluster), so the peel rounds run on few fat tasks instead
    # of 32-partition micro-stages; at a scale where the edge list is
    # genuinely large, drop the coalesce and the same loop shards by s
    sym = sym.coalesce(8).localCheckpoint()
    out = kcore_peel(sym)
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("deg0").alias("degree"),
        "peeled_round",
        "in_kcore",
        "core_deg",
    )


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via alternating large-star/small-star (O(log n) rounds
    — the adversarial-chain-safe variant). Identical output contract, so it
    shares dedup_components' oracle."""
    nodes, pairs = _doc_pair_edges(spark, sf_dir)
    return _component_report(connected_components_star(nodes, pairs))


# ---------------------------------------------------------------------------
# substring-span duplication (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better": repeated token spans across documents are
# the unit of memorization, not whole-document near-duplication). Here the
# span inverted index is aggregated to per-document COVERAGE: what fraction
# of each document's token n-gram spans also occurs in another document.
# ---------------------------------------------------------------------------

SPAN_N = 5  # span length in tokens; Lee et al. use 50 BPE tokens — 5 word
# tokens is the same mechanism scaled to the fixture's short synthetic docs


def _spans_n(toks: F.Column, n: int) -> F.Column:
    """All token n-gram spans WITH multiplicity (occurrence-level, unlike
    shingles3's distinct sets). Built from arrays_zip of n shifted slices —
    same reason as shingles3: a lambda referencing the outer token column
    re-evaluates its expression tree per element (O(tokens²) per doc)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(f"w{i}") for i in range(n)]
    )
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)])
    )


def span_coverage(d: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans, dup_frac): occurrence-level span counts
    and the fraction whose span text occurs in ≥ 2 distinct documents.
    Documents shorter than n tokens keep n_spans = 0 and NULL dup_frac.

    Scale: two span-keyed shuffles (df aggregate with map-side combine, then
    the join back) + one doc-keyed aggregate — the standard inverted-index
    shape, linear in total spans. At 100 TB, map the span string to
    xxhash64(span) before the shuffle to cut the exchange width ~10×; the
    string form is kept here so the DuckDB oracle can replay it verbatim
    (a hash collision at 2⁻⁶⁴ would merely merge two span families)."""
    ex = (
        fan_out(d)
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(_spans_n(F.col("t"), n)).alias("span"))
    )
    dfreq = ex.groupBy("span").agg(
        F.countDistinct("doc_id").alias("df")
    )
    per = (
        ex.join(dfreq, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.sum((F.col("df") >= 2).cast("int")).alias("dup"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("dup"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
            round6_stable(
                F.col("dup").cast("double")
                / F.nullif(F.col("s"), F.lit(0)).cast("double")
            ).alias("dup_frac"),
        )
    )


def q_dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_coverage(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# oracle-backed MinHash estimator (r5): portable hash family
# ---------------------------------------------------------------------------

MINHASH_EST_H = 16  # signature length for the estimator tier
_MH_MULT = 2_654_435_761  # Knuth multiplicative constant (public)


def _mh_perm(i: int, fp) -> F.Column:
    """i-th permutation h_i(f) = ((2i+1)·f + b_i) mod P over the portable
    rolling fingerprint — odd multiplier, Knuth-spread offset; every
    constant replays verbatim in SQL (unlike xxhash64, the reason the
    near_minhash tier is rows-only)."""
    from clusterindices_spark.functions.text import FNV_MOD

    b = (i * _MH_MULT) % FNV_MOD
    return (F.lit(2 * i + 1) * fp + F.lit(b)) % F.lit(FNV_MOD)


def _minhash_sigs(ex0: DataFrame) -> DataFrame:
    """Portable-hash MinHash signatures (rolling fingerprint + affine
    permutations — every constant replayable in SQL) over the capped
    shingle frame ``ex0``; shared by the estimator audit and the PR-curve
    audit.

    Checkpointed for the call: each audit attaches signatures to BOTH pair
    sides, and the two differently-aliased projections defeat exchange
    reuse — the anti-join + fingerprint + 16-min aggregation would run
    twice per query (≈1.6 s each warm at sf0.1); the checkpoint makes
    each attachment a doc-scale scan."""
    from clusterindices_spark.functions.text import rolling_fingerprint

    fp = ex0.select("doc_id", rolling_fingerprint(F.col("shingle")).alias("fp"))
    return (
        fp.groupBy("doc_id")
        .agg(
            *[
                F.min(_mh_perm(i, F.col("fp"))).alias(f"s{i}")
                for i in range(MINHASH_EST_H)
            ]
        )
        .localCheckpoint(eager=False)
    )


# PR-curve threshold grid in Jaccard micros (integer — no float taus).
# The low end is where a 16-perm signature actually errs (estimates are
# multiples of 1/16, so τ ≤ 0.1 shows the quantization false-positive
# flood: precision 0.02 → 1.0 across this grid on the gate corpus); from
# τ ≈ 0.3 up the fixture's near-dups separate perfectly.
PR_TAUS = (
    ("t05", 50_000),
    ("t10", 100_000),
    ("t20", 200_000),
    ("t30", 300_000),
    ("t50", 500_000),
    ("t80", 800_000),
)
_EST_STEP_MICROS = 1_000_000 // MINHASH_EST_H  # 62 500 per matching perm


def q_dedup_minhash_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash estimator AS A CLASSIFIER at a
    threshold grid, over the full co-shingle candidate universe — the
    tuning table that answers "if I dedup at τ on signatures alone, what
    do I lose and what do I over-merge?" (the per-pair error audit,
    dedup_minhash_est, bounds the estimate; this bounds the DECISION).
    Ground truth = exact Jaccard ≥ τ; prediction = signature estimate ≥ τ;
    both compared in exact integer micros (estimate = matches·62500), so
    tp/fp/fn are integer-exact and only the final P/R divisions float.

    Pairs with no shared shingle are outside the universe (both tiers
    emit nothing there; a signature collision on a disjoint pair is the
    only unmeasured false-positive source, bounded by the banding tier's
    verification step in production).

    Scale: the scored-pair universe and the signature table share one
    checkpointed shingle explode; the 6-row τ grid (PR_TAUS) explodes onto
    the pair frame (map-side-combined agg by τ) — nothing new shuffles."""
    from clusterindices_spark.functions.aggregates import round6_stable

    ex0 = _ngram_ex0(load_table(spark, sf_dir, "documents"))
    sig = _minhash_sigs(ex0)
    scored = _scored_pairs(ex0)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(MINHASH_EST_H)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(MINHASH_EST_H)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(MINHASH_EST_H)
    )
    pe = (
        scored.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.floor(F.col("jaccard") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("jm"),
            (matches * F.lit(_EST_STEP_MICROS)).cast("bigint").alias("em"),
        )
    )
    # r13: one conditional-sum pass instead of exploding the 6-row τ grid
    # onto the pair frame — the grid is a compile-time constant, so each
    # (τ, counter) is a conditional aggregate column and the pair frame is
    # walked ONCE (1.1M rows at sf0.1, not 6.8M exploded rows). The global
    # agg yields one row; the τ rows are unpivoted from literals afterwards.
    # Empty-universe guard: the original groupBy emitted ZERO rows on an
    # empty pair frame; the global agg emits one all-zero row, so the final
    # where(n_candidates > 0) restores the exact original semantics.
    one = pe.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        *[
            agg_col
            for lbl, tm in PR_TAUS
            for agg_col in (
                F.sum(
                    ((F.col("jm") >= F.lit(tm)) & (F.col("em") >= F.lit(tm))).cast("int")
                ).cast("bigint").alias(f"tp_{lbl}"),
                F.sum(
                    ((F.col("em") >= F.lit(tm)) & (F.col("jm") < F.lit(tm))).cast("int")
                ).cast("bigint").alias(f"fp_{lbl}"),
                F.sum(
                    ((F.col("jm") >= F.lit(tm)) & (F.col("em") < F.lit(tm))).cast("int")
                ).cast("bigint").alias(f"fn_{lbl}"),
            )
        ],
    )
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lbl).alias("tau_label"),
                    F.lit(tm).cast("bigint").alias("tau_micros"),
                    F.col(f"tp_{lbl}").alias("tp"),
                    F.col(f"fp_{lbl}").alias("fp"),
                    F.col(f"fn_{lbl}").alias("fn"),
                )
                for lbl, tm in PR_TAUS
            ]
        )
    ).alias("g")
    agg = (
        one.select("n_candidates", grid)
        .select(
            F.col("g.tau_label").alias("tau_label"),
            F.col("g.tau_micros").alias("tau_micros"),
            "n_candidates",
            F.col("g.tp").alias("tp"),
            F.col("g.fp").alias("fp"),
            F.col("g.fn").alias("fn"),
        )
        .where(F.col("n_candidates") > 0)
    )
    return agg.select(
        "tau_label",
        (F.col("tau_micros") / F.lit(1e6)).alias("tau"),
        "n_candidates",
        "tp",
        "fp",
        "fn",
        round6_stable(
            F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
        ).alias("precision"),
        round6_stable(
            F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
        ).alias("recall"),
    )


SIMHASH_EST_BITS = 16


def q_dedup_simhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash estimator audit — the bit-vote twin of dedup_minhash_est,
    giving the (xxhash-based, rows-only) dedup_simhash production tier
    its oracle-backed QA loop: portable 16-bit signatures from the SAME
    rolling shingle fingerprints (bit b votes +1/−1 by fingerprint bit b;
    sign of the vote sum sets the signature bit — ties at 0 go to 0,
    documented), then per verified-universe pair the signature Hamming
    distance next to the EXACT Jaccard. This is the tuning table for a
    simhash cutoff: it shows how bit-agreement tracks true overlap on
    real candidate pairs, where the minhash PR curve shows decision
    quality for min-perm signatures.

    Determinism: votes are integer sums of ±1 (order-free), the signature
    is 16 comparisons, Hamming is popcount(xor) — no floats anywhere but
    the carried 6dp jaccard.

    Scale: one doc-keyed 16-agg pass over the checkpointed fingerprint
    explode, two pair-scale signature joins — the same per-call
    checkpoints the minhash audits use."""
    from clusterindices_spark.functions.text import rolling_fingerprint

    ex0 = _ngram_ex0(load_table(spark, sf_dir, "documents"))
    fp = ex0.select("doc_id", rolling_fingerprint(F.col("shingle")).alias("fp"))
    votes = fp.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("fp"), b).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_EST_BITS)
        ]
    )
    sim = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for b in range(SIMHASH_EST_BITS)
    )
    # checkpointed for the same both-sides-attachment reason as _minhash_sigs
    sigs = votes.select("doc_id", sim.alias("sim")).localCheckpoint(eager=False)
    pairs = _scored_pairs(ex0)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"))
    from clusterindices_spark.functions.aggregates import round6_stable

    per_pair = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.floor(F.col("jaccard") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("jm"),
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("int")
            .alias("hamming16"),
        )
    )
    # calibration table, ≤17 rows — the candidate universe is pair-scale
    # (1.1M rows at sf0.1), so the emitted artifact is its per-distance
    # Jaccard profile, not the raw pairs
    return per_pair.groupBy("hamming16").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round6_stable(
            F.sum("jm") / F.count(F.lit(1)) / F.lit(1e6)
        ).alias("mean_jaccard"),
        round6_stable(F.max("jm") / F.lit(1e6)).alias("max_jaccard"),
    )


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATES next to exact Jaccard per candidate pair —
    the estimator-quality audit for the (xxhash64, rows-only) near_minhash
    production tier, made fully oracle-checkable by swapping the hash
    family to the portable rolling fingerprint + affine permutations: both
    engines replay every constant, so signatures, estimates, AND the
    |est − exact| error column are bit-identical.

    Emits (doc_a, doc_b, jaccard, est_jaccard, est_abs_err) for the same
    candidate pairs as dedup_ngram_jaccard (one checkpointed shingle explode,
    same stop-shingle cap — signatures are computed over the capped sets
    the exact tier compares, apples-to-apples).

    Scale: the signature is ONE map-side-combined groupBy(doc_id) with
    MINHASH_EST_H min-aggregates over the exploded fingerprints (no
    per-row array building); signatures then attach to the pair-scale
    frame by two joins — nothing beyond the existing candidate pipeline
    shuffles."""
    ex0 = _ngram_ex0(load_table(spark, sf_dir, "documents"))
    sig = _minhash_sigs(ex0)
    pairs = _scored_pairs(ex0).where(F.col("jaccard") >= JACCARD_THRESHOLD)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(MINHASH_EST_H)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(MINHASH_EST_H)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(MINHASH_EST_H)
    )
    est = matches.cast("double") / F.lit(float(MINHASH_EST_H))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            round6_stable(est).alias("est_jaccard"),
            round6_stable(F.abs(est - F.col("jaccard"))).alias("est_abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# chunk-level exact dedup (r5): the boilerplate-mass detector
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 20


def q_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplicate mass: split each doc into fixed 20-token
    chunks, fingerprint each chunk, and report per source how much chunk
    mass also appears in ANOTHER document — the boilerplate/template
    detector (headers, navboxes, license blocks) that document-level
    hashing cannot see and span_coverage (overlapping 5-gram spans) prices
    differently: non-overlapping chunks give an additive, token-weighted
    duplicate mass suitable for dedup budgeting.

    Chunk identity = rolling fingerprint of the joined chunk text; a chunk
    counts as duplicated when its fingerprint occurs in ≥2 DISTINCT docs
    (internal repetition inside one doc stays, cross-doc boilerplate is
    flagged). Scale: explode to chunk rows (~n_tokens/20 per doc), one
    fingerprint groupBy for document frequency, broadcast the (tiny)
    duplicated-fingerprint set back, one source-keyed agg."""
    from clusterindices_spark.functions.text import rolling_fingerprint

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(CHUNK_TOKENS)).cast("int")
    # sequence(1, 0) yields a DESCENDING [1, 0] in Spark — guard the
    # empty-document case explicitly instead
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i - 1) * CHUNK_TOKENS + 1, CHUNK_TOKENS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = fan_out(d).select(
        "doc_id", "source", F.explode(chunks).alias("chunk")
    )
    fp = ex.select(
        "doc_id",
        "source",
        rolling_fingerprint(F.col("chunk")).alias("cfp"),
        F.size(tokens(F.col("chunk"))).alias("chunk_toks"),
    )
    dupset = (
        fp.groupBy("cfp")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("cfp")
    )
    # ONE grouped pass with a per-chunk dup marker — the old base⋈flagged
    # self-join keyed on `source` silently dropped the NULL-source group's
    # dup counts (NULL join keys never match; r9 hostile edge), and the
    # single pass is one less shuffle anyway. cfp is never NULL, so the
    # marker join is NULL-safe by construction.
    marked = fp.join(
        F.broadcast(dupset.withColumn("_dup", F.lit(1))), "cfp", "left"
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_toks").alias("total_chunk_tokens"),
        F.sum(F.when(F.col("_dup") == 1, 1).otherwise(0)).alias("dup_chunks"),
        F.sum(
            F.when(F.col("_dup") == 1, F.col("chunk_toks")).otherwise(0)
        ).alias("dup_chunk_tokens"),
    ).select(
        "source",
        "n_chunks",
        "total_chunk_tokens",
        "dup_chunks",
        "dup_chunk_tokens",
        round6_stable(
            F.col("dup_chunk_tokens") / F.col("total_chunk_tokens")
        ).alias("dup_chunk_frac"),
    )


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup tier of every web-crawl
    pipeline: the same page is fetched under scheme/host case variants,
    default ports, www. prefixes, trailing slashes, tracking params, and
    query-param orderings; canonicalizing collapses them WITHOUT touching
    the payload. Messy URLs are derived deterministically per doc_id (four
    variant shapes per page id, two of which canonicalize together), so
    the duplicate groups are oracle-checkable at every SF.

    Canonical form: lowercase scheme+host, strip :443/:80, strip leading
    ``www.``, strip trailing path slash, drop ``utm_*`` params, sort the
    remaining query params. Path/query CASE is preserved (paths are
    case-sensitive in the wild — only scheme and host are folded).

    Scale: pure scan-side string work + ONE hash agg on the canonical key
    — the exact-dedup shuffle shape; no joins, no windows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # integer div (oracle: doc_id // 4) — bigint / is double division and
    # collapses page ids past 2^53 (the agg_bitmap_distinct hazard class)
    n = F.expr("doc_id div 4")
    v = F.col("doc_id") % 4
    hostb = F.concat(
        F.lit("site"), (n % 7).cast("string"), F.lit(".example.com")
    )
    page = F.concat(F.lit("/page/"), n.cast("string"))
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), hostb, page))
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(hostb), F.lit(":443"), page,
                F.lit("/"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://www."), hostb, page,
                F.lit("?utm_source=feed&b=2&a=1"),
            ),
        )
        .otherwise(F.concat(F.lit("https://"), hostb, page, F.lit("?b=2&a=1")))
    )
    u = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r":443$|:80$",
            "",
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1),
        r"/$",
        "",
    )
    params = F.filter(
        F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
        lambda p: (p != "") & (~p.startswith("utm_")),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(""),
    )
    return (
        u.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_copies") >= 2)
    )


QUERIES = {
    "dedup_url_canonical": q_dedup_url_canonical,
    "dedup_minhash_est": q_dedup_minhash_est,
    "dedup_minhash_pr_curve": q_dedup_minhash_pr_curve,
    "dedup_simhash_est": q_dedup_simhash_est,
    "dedup_chunk_exact": q_dedup_chunk_exact,
    "dedup_span_coverage": q_dedup_span_coverage,
    "dedup_graph_hops": q_dedup_graph_hops,
    "dedup_ngram_containment": q_dedup_ngram_containment,
    "dedup_exact": q_dedup_exact,
    "dedup_normalized_exact": q_dedup_normalized_exact,
    "dedup_cross_source": q_dedup_cross_source,
    "dedup_token_inflation": q_dedup_token_inflation,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_near_minhash": q_dedup_near_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_components": q_dedup_components,
    "dedup_cluster_keep_best": q_dedup_cluster_keep_best,
    "dedup_components_star": q_dedup_components_star,
    "dedup_graph_triangles": q_dedup_graph_triangles,
    "dedup_graph_pagerank": q_dedup_graph_pagerank,
    "dedup_graph_kcore": q_dedup_graph_kcore,
}

_TOKS = SQL_TOKENS.format(col="text")
_SH = SQL_SHINGLES3.format(toks="toks")
TRI_R6 = SQL_ROUND6.format(
    x="3.0 * n_triangles / NULLIF(CAST(n_wedges AS DOUBLE), 0.0)"
)

_SPAN_JOIN = " || ' ' || ".join(f"toks[i+{k}]" for k in range(1, 6))

ORACLES = {
    "dedup_span_coverage": f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sp AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(toks) - 4, 0)),
                               i -> {_SPAN_JOIN})) AS span
  FROM tok
),
dfreq AS (SELECT span, COUNT(DISTINCT doc_id) AS df FROM sp GROUP BY span),
per AS (
  SELECT sp.doc_id,
         CAST(COUNT(*) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup
  FROM sp JOIN dfreq USING (span) GROUP BY sp.doc_id
),
r AS (
  SELECT d.doc_id, COALESCE(s, 0) AS n_spans, COALESCE(dup, 0) AS n_dup_spans,
         CAST(dup AS DOUBLE) / NULLIF(s, 0) AS frac
  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
)
SELECT doc_id, n_spans, n_dup_spans,
       {SQL_ROUND6.format(x="frac")} AS dup_frac
FROM r
""",
    "dedup_exact": """
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY sha256(text)
""",
    "dedup_cross_source": f"""
WITH hs AS (
  SELECT DISTINCT sha256(text) AS h, source FROM documents
),
ps AS (
  SELECT DISTINCT sha256(substr(text, 1, {CROSS_SOURCE_PREFIX_LEN})) AS h,
         source
  FROM documents
),
ex AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_shared_hashes
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
),
pf AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_shared_prefixes
  FROM ps a JOIN ps b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT COALESCE(ex.source_a, pf.source_a) AS source_a,
       COALESCE(ex.source_b, pf.source_b) AS source_b,
       COALESCE(n_shared_hashes, 0) AS n_shared_hashes,
       COALESCE(n_shared_prefixes, 0) AS n_shared_prefixes
FROM ex FULL JOIN pf
  ON ex.source_a = pf.source_a AND ex.source_b = pf.source_b
""",
    "dedup_token_inflation": f"""
WITH d AS (
  SELECT doc_id, source, sha256(text) AS h,
         len({SQL_TOKENS.format(col="text")}) AS n_tokens
  FROM documents
),
canon AS (SELECT h, MIN(doc_id) AS keep_doc_id FROM d GROUP BY h)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN d.doc_id <> c.keep_doc_id THEN n_tokens ELSE 0 END)
            AS BIGINT) AS dup_tokens,
       {SQL_ROUND6.format(x="CAST(SUM(CASE WHEN d.doc_id <> c.keep_doc_id THEN n_tokens ELSE 0 END) AS DOUBLE) / SUM(n_tokens)")} AS dup_token_frac
FROM d JOIN canon c USING (h)
GROUP BY source
""",
    "dedup_normalized_exact": """
WITH n AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(lower(translate(text, 'İΣ', 'iσ')),
                                    '[^a-z0-9]+', ' ', 'g')))
           AS norm_hash,
         sha256(text) AS raw_hash
  FROM documents
)
SELECT norm_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies,
       COUNT(DISTINCT raw_hash) AS n_raw_variants
FROM n GROUP BY norm_hash
""",
    "dedup_ngram_containment": f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
)
SELECT doc_a, doc_b,
       {SQL_ROUND6.format(x="inter / na")} AS c_ab,
       {SQL_ROUND6.format(x="inter / nb")} AS c_ba
FROM inter
WHERE {SQL_ROUND6.format(x="inter / na")} >= {CONTAINMENT_THRESHOLD}
   OR {SQL_ROUND6.format(x="inter / nb")} >= {CONTAINMENT_THRESHOLD}
""",
    "dedup_ngram_jaccard": f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
)
SELECT doc_a, doc_b,
       {SQL_ROUND6.format(x="inter / (na + nb - inter)")} AS jaccard
FROM inter
WHERE {SQL_ROUND6.format(x="inter / (na + nb - inter)")} >= {JACCARD_THRESHOLD}
""",
    # dedup_near_minhash / dedup_simhash: engine-specific hash families →
    # rows-only check; recall is property-tested with planted duplicates.
    #
    # triangle oracle: id-ordered 3-way join (a<b<c ⇒ edges (a,b),(b,c),
    # (a,c)) counts each triangle exactly once — same census the Spark
    # side's degree-ordered orientation produces, by a different (and
    # skew-unbounded, hence oracle-only) join order.
    "dedup_graph_triangles": f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a AS a, doc_b AS b FROM inter
  WHERE {SQL_ROUND6.format(x="inter / (na + nb - inter)")} >= {JACCARD_THRESHOLD}
),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
  ) GROUP BY v
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs x JOIN pairs y ON y.a = x.b JOIN pairs z
    ON z.a = x.a AND z.b = y.b
),
gs AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
),
ec AS (SELECT COUNT(*) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       {TRI_R6} AS transitivity
FROM tri, gs, ec
""",
    "dedup_components": f"""
WITH RECURSIVE
tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  WHERE {SQL_ROUND6.format(x="inter / (na + nb - inter)")} >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
mins AS (SELECT s, MIN(d) AS mn FROM reach GROUP BY s),
comp AS (
  SELECT doc_id, LEAST(doc_id, COALESCE(mn, doc_id)) AS component_id
  FROM documents LEFT JOIN mins ON mins.s = doc_id
)
SELECT doc_id, component_id,
       doc_id = component_id AS is_canonical,
       COUNT(*) OVER (PARTITION BY component_id) AS n_members
FROM comp
""",
}

# hops oracle: same candidate pipeline + components fixpoint, then a
# bounded recursive BFS from each component's canonical node. The WHERE
# d < 30 bound matches HOPS_MAX_ITERS (a (node, d+1) row is always
# distinct, so an unbounded recursion on a cyclic graph never reaches the
# UNION fixpoint); MIN(d) after the recursion is the BFS distance.
# keep-best oracle: the components fixpoint CTE + an n_chars attach and
# the survivor window (longest doc, ties to lowest id) — certifies the
# whole pairs→components→survivor composition definitionally.
ORACLES["dedup_cluster_keep_best"] = (
    ORACLES["dedup_components"].split("SELECT doc_id, component_id,")[0]
    + """, jn AS (
  SELECT c.doc_id, c.component_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT component_id, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY component_id ORDER BY n_chars DESC, doc_id ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY component_id) AS n_members,
         SUM(n_chars) OVER (PARTITION BY component_id) AS tot_chars
  FROM jn
)
SELECT component_id,
       CAST(n_members AS BIGINT) AS n_members,
       doc_id AS kept_doc_id,
       n_chars AS kept_n_chars,
       CAST(n_members - 1 AS BIGINT) AS n_dropped,
       CAST(tot_chars - n_chars AS BIGINT) AS chars_dropped
FROM ranked WHERE rn = 1
"""
)

ORACLES["dedup_graph_hops"] = (
    ORACLES["dedup_components"].split("SELECT doc_id, component_id,")[0]
    + """, seeds AS (
  SELECT doc_id AS node FROM comp WHERE doc_id = component_id
),
bfs(node, d) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.d, r.d + 1 FROM bfs r JOIN edges e ON e.s = r.node
  WHERE r.d < """
    + str(HOPS_MAX_ITERS)
    + """
),
hops AS (SELECT node, MIN(d) AS hops FROM bfs GROUP BY node)
SELECT c.doc_id, c.component_id, CAST(h.hops AS BIGINT) AS hops
FROM comp c JOIN hops h ON h.node = c.doc_id
"""
)

# the star variant computes the same (node → component-min) fixpoint over
# the same edges — byte-identical output contract, same oracle
ORACLES["dedup_components_star"] = ORACLES["dedup_components"]


def _kcore_oracle_sql() -> str:
    """Unrolled synchronous k-core peel over the SAME verified edge list
    as the components oracle (shared prefix through `edges`) — one
    (degree, survivors, peeled, filtered-edges) CTE block per round, the
    pagerank-unroll idiom so Spark and oracle can never drift on round
    structure."""
    prefix = ORACLES["dedup_components"].split("reach(s, d)")[0]
    k, blocks = KCORE_K, []
    blocks.append(
        "d1 AS (SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM edges GROUP BY s)"
    )
    blocks.append(f"a1 AS (SELECT v FROM d1 WHERE deg >= {k})")
    blocks.append(f"p1 AS (SELECT v, 1 AS pr FROM d1 WHERE deg < {k})")
    blocks.append(
        "e1 AS (SELECT s, d FROM edges WHERE s IN (SELECT v FROM a1)"
        " AND d IN (SELECT v FROM a1))"
    )
    for r in range(2, KCORE_ROUNDS + 1):
        blocks.append(
            f"d{r} AS (SELECT a{r - 1}.v, COALESCE(t.c, 0) AS deg"
            f" FROM a{r - 1} LEFT JOIN (SELECT s AS v,"
            f" CAST(COUNT(*) AS BIGINT) AS c FROM e{r - 1} GROUP BY s) t"
            " USING (v))"
        )
        blocks.append(f"a{r} AS (SELECT v FROM d{r} WHERE deg >= {k})")
        blocks.append(
            f"p{r} AS (SELECT v, {r} AS pr FROM d{r} WHERE deg < {k})"
        )
        blocks.append(
            f"e{r} AS (SELECT s, d FROM e{r - 1}"
            f" WHERE s IN (SELECT v FROM a{r})"
            f" AND d IN (SELECT v FROM a{r}))"
        )
    rr = KCORE_ROUNDS
    blocks.append(
        f"dfin AS (SELECT a{rr}.v, COALESCE(t.c, 0) AS deg FROM a{rr}"
        f" LEFT JOIN (SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS c"
        f" FROM e{rr} GROUP BY s) t USING (v))"
    )
    peel_union = " UNION ALL ".join(
        f"SELECT v, pr FROM p{r}" for r in range(1, KCORE_ROUNDS + 1)
    )
    blocks.append(f"peeled AS ({peel_union})")
    return (
        prefix.rstrip().rstrip(",")
        + ",\n"
        + ",\n".join(blocks)
        + """
SELECT d1.v AS doc_id,
       d1.deg AS degree,
       CAST(COALESCE(p.pr, 0) AS INT) AS peeled_round,
       p.pr IS NULL AS in_kcore,
       CAST(COALESCE(f.deg, 0) AS BIGINT) AS core_deg
FROM d1
LEFT JOIN peeled p USING (v)
LEFT JOIN dfin f USING (v)
"""
    )


ORACLES["dedup_graph_kcore"] = _kcore_oracle_sql()

# --- r5: oracle-backed MinHash estimator ------------------------------------
# signature columns + match terms generated mechanically so Spark and oracle
# can never drift on the permutation constants (the pagerank-unroll idiom)
_MH_SIG_COLS = ",\n       ".join(
    f"MIN((({2 * i + 1} * fp) + {(i * _MH_MULT) % FNV_MOD}) % {FNV_MOD}) AS s{i}"
    for i in range(MINHASH_EST_H)
)
_MH_MATCHES = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
    for i in range(MINHASH_EST_H)
)

ORACLES["dedup_url_canonical"] = """
WITH d AS (SELECT doc_id, doc_id // 4 AS n, doc_id % 4 AS v FROM documents),
u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://site' || (n % 7) || '.example.com/page/' || n
      WHEN 1 THEN 'HTTPS://' || upper('site' || (n % 7) || '.example.com')
                || ':443/page/' || n || '/'
      WHEN 2 THEN 'https://www.site' || (n % 7) || '.example.com/page/' || n
                || '?utm_source=feed&b=2&a=1'
      ELSE 'https://site' || (n % 7) || '.example.com/page/' || n
                || '?b=2&a=1'
    END AS url
  FROM d
),
c AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_replace(
      regexp_replace(
        lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        ':443$|:80$', ''),
      '^www\\.', '') AS host,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1),
      '/$', '') AS path,
    array_to_string(
      list_sort(list_filter(
        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
        x -> x <> '' AND x NOT LIKE 'utm\\_%' ESCAPE '\\')),
      '&') AS qcanon
  FROM u
)
SELECT scheme || '://' || host || path
         || CASE WHEN qcanon <> '' THEN '?' || qcanon ELSE '' END
         AS canonical_url,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT url) AS n_raw_variants,
       MIN(doc_id) AS keeper_doc_id
FROM c
GROUP BY 1 HAVING COUNT(*) >= 2
"""

ORACLES["dedup_minhash_est"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS MATERIALIZED (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a, doc_b, {SQL_ROUND6.format(x="inter / (na + nb - inter)")} AS jaccard
  FROM inter
  WHERE {SQL_ROUND6.format(x="inter / (na + nb - inter)")} >= {JACCARD_THRESHOLD}
),
fp AS (SELECT doc_id, {SQL_FINGERPRINT.format(col="shingle")} AS fp FROM ex0),
sig AS MATERIALIZED (SELECT doc_id, {_MH_SIG_COLS} FROM fp GROUP BY doc_id),
est AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         ({_MH_MATCHES}) / {float(MINHASH_EST_H)} AS e
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard,
       {SQL_ROUND6.format(x="e")} AS est_jaccard,
       {SQL_ROUND6.format(x="abs(e - jaccard)")} AS est_abs_err
FROM est
"""

_PR_GRID_VALUES = ", ".join(f"('{lbl}', {tm})" for lbl, tm in PR_TAUS)

ORACLES["dedup_minhash_pr_curve"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS MATERIALIZED (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a, doc_b, {SQL_ROUND6.format(x="inter / (na + nb - inter)")} AS jaccard
  FROM inter
),
fp0 AS (SELECT doc_id, {SQL_FINGERPRINT.format(col="shingle")} AS fp FROM ex0),
sig AS MATERIALIZED (SELECT doc_id, {_MH_SIG_COLS} FROM fp0 GROUP BY doc_id),
pe AS (
  SELECT CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS jm,
         CAST(({_MH_MATCHES}) * {_EST_STEP_MICROS} AS BIGINT) AS em
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
),
grid AS (SELECT * FROM (VALUES {_PR_GRID_VALUES}) t(tau_label, tau_micros)),
agg AS (
  SELECT tau_label, tau_micros,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN jm >= tau_micros AND em >= tau_micros
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN em >= tau_micros AND jm < tau_micros
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN jm >= tau_micros AND em < tau_micros
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pe CROSS JOIN grid GROUP BY 1, 2
)
SELECT tau_label, tau_micros / 1000000.0 AS tau, n_candidates, tp, fp, fn,
       {SQL_ROUND6.format(x="tp / NULLIF(tp + fp, 0)")} AS precision,
       {SQL_ROUND6.format(x="tp / NULLIF(tp + fn, 0)")} AS recall
FROM agg
"""

# --- r5: chunk-level exact dedup --------------------------------------------
_CHUNK_EXPR = (
    f"list_transform(range(CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)), "
    f"i -> array_to_string(list_slice(toks, i * {CHUNK_TOKENS} + 1, "
    f"i * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' '))"
)

ORACLES["dedup_chunk_exact"] = f"""
WITH tok AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
ch AS (
  SELECT doc_id, source, unnest({_CHUNK_EXPR}) AS chunk FROM tok
),
fp AS MATERIALIZED (
  SELECT doc_id, source,
         {SQL_FINGERPRINT.format(col="chunk")} AS cfp,
         len({SQL_TOKENS.format(col="chunk")}) AS chunk_toks
  FROM ch
),
dup AS MATERIALIZED (
  SELECT cfp, 1 AS isdup FROM fp GROUP BY cfp
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_toks) AS BIGINT) AS total_chunk_tokens,
       CAST(SUM(CASE WHEN isdup = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(SUM(CASE WHEN isdup = 1 THEN chunk_toks ELSE 0 END) AS BIGINT)
         AS dup_chunk_tokens,
       {SQL_ROUND6.format(x="CAST(SUM(CASE WHEN isdup = 1 THEN chunk_toks ELSE 0 END) AS DOUBLE) / SUM(chunk_toks)")}
         AS dup_chunk_frac
FROM fp LEFT JOIN dup USING (cfp)
GROUP BY source
"""


def _pagerank_oracle_sql(iters: int = PR_ITERS, scale: int = PR_SCALE) -> str:
    """The same all-integer PageRank recurrence unrolled as chained CTEs —
    standard SQL (no aggregation inside a recursive term), one CTE pair
    per iteration, generated mechanically so Spark and oracle can never
    drift on the formula.

    The multiply-referenced CTEs (ex, pairs, each pr_i — referenced by the
    next iteration's contribs AND dangling) carry explicit MATERIALIZED
    hints: DuckDB inlines CTEs by default, so each pr_i would re-execute
    its whole ancestry per reference — 2^iters replays of the shingle
    self-join (measured at sf0.01: 121.5 s inlined → 0.1 s materialized)."""
    head = f"""
WITH
tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS MATERIALIZED (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM inter
  WHERE {SQL_ROUND6.format(x="inter / (na + nb - inter)")} >= {JACCARD_THRESHOLD}
),
nodes AS (SELECT doc_id AS node FROM documents),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
pr0 AS MATERIALIZED (SELECT node, CAST({scale} AS BIGINT) // n AS v FROM nodes CROSS JOIN cnt)"""
    steps = []
    for i in range(1, iters + 1):
        p = f"pr{i-1}"
        steps.append(f"""
c{i} AS (
  SELECT s.dst AS node, SUM(p.v // d.deg) AS s
  FROM sym s JOIN {p} p ON p.node = s.src JOIN deg d ON d.src = s.src
  GROUP BY s.dst
),
dang{i} AS (
  SELECT COALESCE(SUM(v), 0) AS dm FROM {p}
  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = {p}.node)
),
pr{i} AS MATERIALIZED (
  SELECT nodes.node,
         (15 * CAST({scale} AS BIGINT)) // (100 * cnt.n)
         + (85 * (COALESCE(c.s, 0) + dang.dm // cnt.n)) // 100 AS v
  FROM nodes
  LEFT JOIN c{i} c ON c.node = nodes.node
  CROSS JOIN dang{i} dang CROSS JOIN cnt
)""")
    tail = f"""
SELECT node, CAST(v AS BIGINT) AS pr_units, CAST(v AS DOUBLE) / {float(scale)} AS pr
FROM pr{iters}"""
    # CAST(v AS BIGINT): DuckDB SUM(BIGINT) in the c{{i}} CTEs yields HUGEINT,
    # which propagates into pr{{i}}.v and (as of round 4) into the driver's
    # value hash — Spark emits BIGINT, so the hash diverged even though every
    # value was identical (CORRECTNESS_r04 hash_match=false, rows/schema green).
    return head + "," + ",".join(steps) + tail


ORACLES["dedup_graph_pagerank"] = _pagerank_oracle_sql()


_SH_VOTE_COLS = ",\n       ".join(
    f"CAST(SUM(CASE WHEN (fp >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT)"
    f" AS v{b}"
    for b in range(SIMHASH_EST_BITS)
)
_SH_SIM_EXPR = " + ".join(
    f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_EST_BITS)
)

ORACLES["dedup_simhash_est"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_SH} AS shingles FROM tok),
ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
hot AS (SELECT shingle FROM ex_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
ex0 AS MATERIALIZED (SELECT * FROM ex_all WHERE shingle NOT IN (SELECT shingle FROM hot)),
sized AS (SELECT doc_id, COUNT(*) AS n FROM ex0 GROUP BY doc_id),
ex AS (SELECT ex0.doc_id, sized.n, ex0.shingle FROM ex0 JOIN sized USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a, doc_b, {SQL_ROUND6.format(x="inter / (na + nb - inter)")} AS jaccard
  FROM inter
),
fp0 AS (SELECT doc_id, {SQL_FINGERPRINT.format(col="shingle")} AS fp FROM ex0),
votes AS (SELECT doc_id, {_SH_VOTE_COLS} FROM fp0 GROUP BY doc_id),
sigs AS MATERIALIZED (SELECT doc_id, ({_SH_SIM_EXPR}) AS sim FROM votes),
pp AS (
  SELECT CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS jm,
         CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming16
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.doc_a
  JOIN sigs b ON b.doc_id = p.doc_b
)
SELECT hamming16,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {SQL_ROUND6.format(x="CAST(SUM(jm) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) / 1000000.0")}
         AS mean_jaccard,
       {SQL_ROUND6.format(x="MAX(jm) / 1000000.0")} AS max_jaccard
FROM pp GROUP BY hamming16
"""
