"""Corpus-curation operators: the end-to-end shapes a training-data pipeline
runs after the per-document analyses (SURVEY.md §2C north star).

Three operators over ``documents``:

- curation_split      : deterministic content-hash train/val split. The split
                        must be a pure function of the stable document id —
                        never rand() — so re-runs, retries, and incremental
                        backfills land every document in the same fold. The
                        fold comes from the first hex byte-pair of
                        md5(doc_id): bucket < 'f3' (243/256 ≈ 94.9%) → train.
                        Engine-portable because both Spark and DuckDB emit
                        lowercase-hex md5 of the same decimal string.
- curation_pack_greedy: sequence packing — greedy first-fit of documents into
                        fixed-capacity token bins (context windows). The
                        packing is stateful-sequential per group, so it runs
                        as repartition(grp) → sortWithinPartitions →
                        mapInPandas with running state carried across Arrow
                        batches. That keeps memory bounded by the batch size,
                        not the group size — the applyInPandas alternative
                        materializes a whole group per call and dies on a
                        100 TB group. Oracle: a recursive CTE replays the
                        same fold exactly.
- curation_pipeline   : quality-filter → langid-agreement filter → exact-dedup
                        (canonical doc per sha256) → per-lang corpus summary.
                        One composed DataFrame plan: Catalyst fuses the three
                        per-row filters into the scan, and the only shuffles
                        are the dedup's hash-groupBy and the final per-lang
                        agg — the whole curation pass is two shuffles at any
                        scale.

Scale posture: curation_split is pure scan-side expression work (zero
shuffles). Packing shuffles once by group key; group count G sets parallelism
— pick G ≈ cluster cores, and the per-partition state is O(#groups in the
partition), bytes. The pipeline's filters are ordinary predicates: at 100 TB
they push into the parquet scan before either shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions.aggregates import SQL_ROUND6
from clusterindices_spark.functions.text import SQL_SHINGLES3, SQL_TOKENS, tokens
from clusterindices_spark.operators.dedup import _doc_shingles
from clusterindices_spark.sources.fixtures import fan_out, load_table

# train share = 243/256 ≈ 94.9%: folds are hex-string prefix ranges so both
# engines compare identically ('f3' = 243)
TRAIN_BUCKET_MAX = "f3"
PACK_CAPACITY = 512  # tokens per bin (context window)
PACK_GROUPS = 16  # independent packing streams (parallelism knob)
QUALITY_MIN = 0.45

_TOKS = SQL_TOKENS.format(col="text")
_R6_AVG = SQL_ROUND6.format(x="(sum_len / NULLIF(n_tokens, 0))")
_R6_STOP = SQL_ROUND6.format(x="(n_stop / NULLIF(n_tokens, 0))")


# ---------------------------------------------------------------------------
# deterministic train/val split
# ---------------------------------------------------------------------------


def hash_split(d: DataFrame, id_col: str = "doc_id") -> DataFrame:
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return d.select(
        id_col,
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_BUCKET_MAX, "train").otherwise("val").alias("split"),
    )


def q_curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sequence packing (greedy first-fit into token bins)
# ---------------------------------------------------------------------------

_PACK_SCHEMA = "doc_id bigint, grp int, bin int, n_tokens int"


def _pack_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Greedy first-fit over (grp, doc_id)-sorted rows. State = (current bin,
    current fill) per group, carried across Arrow batches; partitions are
    hash-partitioned by grp and sorted, so each group's rows arrive
    contiguously and in order."""
    state: dict[int, tuple[int, int]] = {}
    for pdf in batches:
        bins = []
        for grp, t in zip(pdf["grp"], pdf["t"]):
            b, fill = state.get(grp, (0, 0))
            if fill + t > PACK_CAPACITY and fill > 0:
                b, fill = b + 1, 0
            state[grp] = (b, fill + t)
            bins.append(b)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "grp": pdf["grp"],
                "bin": pd.Series(bins, dtype="int32"),
                "n_tokens": pdf["t"],
            }
        )


def pack_greedy(d: DataFrame, n_groups: int = PACK_GROUPS) -> DataFrame:
    # fan_out BEFORE the token-count projection: the repartition(grp) below
    # parallelizes the pandas fold, but the tokenize in `sized` runs in the
    # scan stage and would serialize on a 1-file input
    sized = fan_out(d).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_groups)).cast("int").alias("grp"),
        F.least(F.size(tokens(F.col("text"))), F.lit(PACK_CAPACITY))
        .cast("int")
        .alias("t"),
    )
    return (
        sized.repartition(n_groups, "grp")
        .sortWithinPartitions("grp", "doc_id")
        .mapInPandas(_pack_batches, schema=_PACK_SCHEMA)
    )


def q_curation_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_greedy(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# end-to-end curation pipeline
# ---------------------------------------------------------------------------


def score_documents(d: DataFrame) -> DataFrame:
    """Per-document curation signals — the scan-side stage both the batch
    funnel and the streaming foreachBatch funnel share:
    (doc_id, lang, h: sha256(text), n_tokens, quality, marker_hits).
    Pure per-row expressions, zero shuffles."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.operators.textops import LANG_MARKERS, STOPWORDS

    d = d.withColumn("toks", tokens(F.col("text")))
    n_toks = F.size("toks")
    sum_len = F.aggregate(F.col("toks"), F.lit(0), lambda a, t: a + F.length(t))
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(*STOPWORDS)))
    # floor-based stable rounds (same formula as q_text_quality — the
    # weighted sum lands on exact .xxxxxx5 boundaries where engine round()
    # conventions disagree)
    quality = round6_stable(
        F.least(n_toks / F.lit(100.0), F.lit(1.0)) * 0.5
        + round6_stable(n_stop / F.nullif(n_toks, F.lit(0))) * 0.3
        + F.least(
            round6_stable(sum_len / F.nullif(n_toks, F.lit(0))) / 10.0, F.lit(1.0)
        )
        * 0.2
    )
    # langid agreement: the stored lang's own markers must appear
    def _hits(markers):
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(*markers)))

    marker_hits = F.lit(0)
    for lg, markers in LANG_MARKERS.items():
        marker_hits = F.when(F.col("lang") == lg, _hits(markers)).otherwise(
            marker_hits
        )
    return d.select(
        "doc_id",
        "lang",
        F.sha2(F.col("text"), 256).alias("h"),
        n_toks.alias("n_tokens"),
        quality.alias("quality"),
        marker_hits.alias("marker_hits"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang curation funnel. A document is retained when it (a) clears
    the quality floor, (b) has ≥1 language-marker token for its stored lang
    (langid agreement), and (c) is the canonical (min doc_id) copy of its
    exact content. The output reports the funnel — how many docs survive
    each filter per lang — plus token volume and mean quality of the
    retained slice, the numbers a curation run is monitored by."""
    scored = score_documents(fan_out(load_table(spark, sf_dir, "documents")))
    canonical = (
        scored.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_canon"))
    )
    fl = scored.join(canonical, "doc_id", "left").withColumn(
        "is_canon", F.coalesce("is_canon", F.lit(False))
    )
    q_ok = F.col("quality") >= QUALITY_MIN
    l_ok = F.col("marker_hits") >= 1
    retained = q_ok & l_ok & F.col("is_canon")
    # count-form, not sum-of-bool-cast: NULL-text docs have NULL quality,
    # so an all-NULL lang group summed to NULL in Spark while the
    # oracle's CASE ... ELSE 0 yields 0 (the matryoshka NULL-vote class,
    # fuzz gate seed 101008)
    bcount = lambda c: F.count(F.when(c, 1)).cast("bigint")  # noqa: E731
    return fl.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        bcount(q_ok).alias("n_quality_ok"),
        bcount(l_ok).alias("n_langid_ok"),
        bcount(retained).alias("n_retained"),
        F.coalesce(
            F.sum(F.when(retained, F.col("n_tokens"))).cast("bigint"), F.lit(0)
        ).alias("n_tokens_retained"),
        F.round(F.avg(F.when(retained, F.col("quality"))), 6).alias(
            "avg_quality_retained"
        ),
    )


# ---------------------------------------------------------------------------
# deterministic sampling (stratified Bernoulli + per-stratum top-k)
# ---------------------------------------------------------------------------

# per-lang keep thresholds on the first 4 hex digits of md5(doc_id):
# downsample the overrepresented 'en' stratum to 16/64k ≈ 25%, keep the
# rest at 75% — the training-mixture rebalancing shape. Hex-string
# comparison is engine-portable (both emit lowercase-hex md5).
SAMPLE_THRESHOLDS = {"en": "4000"}
SAMPLE_DEFAULT_THRESHOLD = "c000"
TOPK_PER_STRATUM = 40


def q_curation_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic Bernoulli sample: keep a document iff the
    md5 of its stable id falls under its stratum's threshold. A pure
    function of the id — re-runs, retries, and incremental backfills make
    identical keep/drop decisions (rand() cannot), and the filter is pure
    scan-side expression work: zero shuffles at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.lit(SAMPLE_DEFAULT_THRESHOLD)
    for lg, t in SAMPLE_THRESHOLDS.items():
        thr = F.when(F.col("lang") == lg, F.lit(t)).otherwise(thr)
    return d.select(
        "doc_id", "lang", "source", bucket.alias("bucket")
    ).where(F.col("bucket") < thr)


def q_curation_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: rank documents inside each lang by
    the md5 of their id (a deterministic shuffle-order) and keep the first
    K — the reservoir-sample shape with replayable results. The rank is a
    window row_number, so Spark's WindowGroupLimit prunes to K rows per
    partition BEFORE the exchange — the shuffle moves O(K·strata) rows,
    not the corpus."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", "source", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_PER_STRATUM)
        .select("doc_id", "lang", "source", F.col("rk").cast("int").alias("rk"))
    )


WEIGHTED_K = 10
_ES_A = 2654435761  # Knuth multiplicative constant
_ES_M = 1000003  # prime modulus for the arithmetic u01


def q_curation_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-stratum sampling (Efraimidis–Spirakis A-ES): per lang,
    keep the K docs with the smallest exponential clocks −ln(u)/w, where
    w = n_chars — longer documents proportionally likelier, the standard
    size-weighted corpus subsample.

    u is a pure-ARITHMETIC hash, ((doc_id mod M)·A mod M + 0.5)/M (Knuth
    multiplicative; +0.5 keeps u in (0,1) so ln never sees 0): unlike
    xxhash64 it is computable verbatim in any SQL engine, so selection is
    replay-deterministic AND oracle-checkable. The id is mod-reduced
    BEFORE the multiply — identical by modular arithmetic, but raw
    doc_id·A overflows BIGINT past doc_id ≈ 3.47e9 (ANSI error; the
    events_bootstrap_ci lesson), while (M−1)·A ≈ 2.7e15 ≪ 2⁶³.
    ln/division on identical doubles order identically in both engines;
    u is injective only below M, so the rank carries a doc_id tie-break
    for >1M-doc corpora.

    Scale: same WindowGroupLimit shape as curation_sample_topk — per-
    partition top-K prune BEFORE the exchange, shuffle carries O(K·strata)
    rows."""
    from pyspark.sql.window import Window

    from clusterindices_spark.functions.aggregates import round6_stable

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(_ES_M)) * F.lit(_ES_A),
            F.lit(_ES_M),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_ES_M))
    w_col = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = -F.log(u) / w_col
    # doc_id tie-break: u is injective only below M, so two docs ≥ M apart
    # with equal n_chars can share a clock — without the tie-break the
    # rank-K pick would be partitioning-dependent on >1M-doc corpora
    win = Window.partitionBy("lang").orderBy(
        F.col("es_key").asc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id", "lang", "n_chars", key.alias("es_key")
        )
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= WEIGHTED_K)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            round6_stable(F.col("es_key")).alias("es_key"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def q_curation_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture interleaving (stride scheduling): order a
    multi-source corpus into one training stream where each source appears
    in proportion to its mixture weight. Every document gets an
    interleave key = rank-within-source × stride (stride ∝ 1/weight, as
    integers so the arithmetic is exact in both engines); sorting the
    stream by the key yields the weighted round-robin order.

    Strides here: sources src0–4 every step (stride 1), src5–9 half rate
    (2), the long tail quarter rate (4) — the upsample-head/downsample-tail
    mixture shape. Scale: the per-source rank is a window with
    WindowGroupLimit-free full output but partitioned by source (≤ |sources|
    shuffle keys); no global window — consumers sort by the key, which a
    distributed range sort handles at any scale."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # regexp-extract + NULLIF, not a bare substring cast: a malformed or
    # empty source name ANSI-errors the INT cast in BOTH engines (r9
    # hostile edge XERR); unparseable sources fall to the tail stride
    src_num = F.nullif(
        F.regexp_extract("source", r"^src([0-9]+)$", 1), F.lit("")
    ).cast("int")
    stride = (
        F.when(src_num <= 4, F.lit(1))
        .when(src_num <= 9, F.lit(2))
        .otherwise(F.lit(4))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return d.select(
        "doc_id",
        "source",
        rk.alias("rk"),
        stride.alias("stride"),
    ).withColumn(
        "interleave_key",
        (F.col("rk").cast("bigint") * F.col("stride").cast("bigint")),
    )


# eval set = docs whose md5(doc_id) starts with '0' (1/16 of the corpus) —
# a deterministic stand-in for a held-out benchmark suite
DECON_EVAL_PREFIX = "0"


def decontaminate(d: DataFrame) -> DataFrame:
    """Eval-set decontamination: flag training documents that share ANY word
    3-gram shingle with the held-out eval set (the n-gram-overlap
    contamination check run before training on scraped corpora; 13-grams in
    the GPT-3/PaLM write-ups — 3-grams here because fixture docs are short).

    Input: (doc_id, shingles, is_eval). Output: (doc_id, n_shared_shingles) for
    every CONTAMINATED training doc — the scrub step is then an anti-join
    of the corpus against this frame.

    Scale: the eval side (a benchmark suite) is tiny next to the corpus, so
    its distinct-shingle set BROADCASTS — the corpus-side scan streams past
    it with no shuffle; the per-doc count then shuffles only the matching
    (doc, shingle) pairs by doc_id. If the eval set ever outgrows broadcast,
    drop to an equi-join keyed by shingle hash (same plan as
    dedup_ngram_jaccard's candidate stage, stop-shingle cap included).
    """
    # r14 (guide §2.2/§2.3): dedup shingles PER DOC before the explode —
    # (doc_id, sh) is then unique by construction, so the per-doc result is
    # count(1) instead of count_distinct(sh), which removes the distinct
    # aggregate's extra exchange+aggregate level (plan: 2 exchanges → 1
    # after the probe join) and shrinks both the exploded row count and the
    # bytes entering the broadcast probe. Values identical: count over
    # per-doc-distinct matches = count_distinct over repeated matches, and
    # the eval set was already a distinct.
    sh = d.select(
        "doc_id",
        "is_eval",
        F.explode(F.array_distinct(F.col("shingles"))).alias("sh"),
    )
    ev = sh.where(F.col("is_eval")).select("sh").distinct()
    return (
        sh.where(~F.col("is_eval"))
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _doc_shingles(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "shingles",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            == DECON_EVAL_PREFIX
        ).alias("is_eval"),
    )
    return decontaminate(d)


MIX_ALPHA_NUM = 1  # temperature α = 1/2 as an exact rational: w ∝ n^(1/2)
MIX_ALPHA_DEN = 2
MIX_BUDGET = 100000  # training-token budget (docs) the weights allocate


def q_curation_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting — the multilingual/multi-source
    LLM sampling rule (w_i ∝ n_i^α, α<1 upsamples small sources; the
    mT5/XLM-R recipe): per source, emit raw share, the α=0.5 smoothed
    weight, the doc budget that weight allocates, and the implied epoch
    count (budget_i / n_i — the over-sampling factor a trainer would see).

    Determinism: n^0.5 = sqrt(n) on exact BIGINT counts; weights and
    epochs are floor-micro'd. Scale: one groupBy(source) over the corpus
    (map-side combined to |sources| rows), then T-row arithmetic — the
    corpus is touched once; the weight table broadcasts everywhere."""
    from pyspark.sql import Window

    from clusterindices_spark.functions.aggregates import round6_stable

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = Window.partitionBy()  # T rows — a driver-scale window, not corpus
    smooth = F.pow(F.col("n_docs").cast("double"),
                   F.lit(MIX_ALPHA_NUM / MIX_ALPHA_DEN))
    w = smooth / F.sum(smooth).over(tot)
    budget_i = F.floor(w * F.lit(MIX_BUDGET)).cast("bigint")
    return counts.select(
        "source",
        "n_docs",
        round6_stable(
            F.col("n_docs") / F.sum("n_docs").over(tot)
        ).alias("raw_share"),
        round6_stable(w).alias("weight"),
        budget_i.alias("budget_docs"),
        round6_stable(budget_i / F.col("n_docs")).alias("epochs"),
    )


def q_curation_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup policy: per content hash, the canonical copy is the
    one with the highest quality score (doc_id tie-break) instead of the
    min-id convention — the policy real curation stacks use when duplicate
    copies differ in extraction quality (boilerplate, encoding damage).
    Same single hash shuffle as exact dedup; the argmax is max(struct) so
    the tie-break is explicit in both engines."""
    d = load_table(spark, sf_dir, "documents")
    scored = score_documents(d).select(
        "doc_id", "h", "quality", "n_tokens"
    )
    return (
        scored.groupBy(F.col("h").alias("content_hash"))
        .agg(
            F.max(F.struct("quality", "doc_id", "n_tokens")).alias("best"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "content_hash",
            F.col("best.doc_id").alias("keep_doc_id"),
            F.col("best.quality").alias("keep_quality"),
            F.col("best.n_tokens").cast("bigint").alias("keep_n_tokens"),
            "n_copies",
        )
    )


def q_curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL report: the per-rule attrition table every
    curation run publishes before committing a recipe (the C4/Gopher
    'how many docs did each rule cost' audit). Rules apply sequentially —
    each row reports docs entering, dropped by, and surviving that rule:

      1. lang_keep      — drop the out-of-scope language (zh here)
      2. min_tokens     — ≥ 25 whitespace tokens
      3. avg_word_len   — mean token length ≤ 5.5 chars (soup/encoding
                          damage guard)
      4. canonical_only — exact-dedup survivor (min doc_id per sha256,
                          selected AMONG rules-1–3 survivors — sequential
                          funnel semantics: if a group's globally-minimal
                          copy was already dropped upstream, a surviving
                          copy is promoted to canonical instead of the
                          whole group vanishing; ADVICE r5 item 3)

    Scale: rules 1–3 are scan-side predicates; rule 4 adds the standard
    dedup hash shuffle (over the SMALLER post-filter frame); the funnel
    itself is ONE aggregate over the flagged scan, pivoted to 4 rows
    driver-free via inline explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    awl = F.aggregate(
        toks, F.lit(0), lambda a, t: a + F.length(t)
    ).cast("double") / F.nullif(n_tok.cast("double"), F.lit(0.0))
    base = d.select(
        "doc_id",
        "lang",
        F.sha2(F.col("text"), 256).alias("h"),
        n_tok.alias("n_tok"),
        awl.alias("awl"),
    )
    p123 = (
        (F.col("lang") != "zh")
        & (F.col("n_tok") >= 25)
        & (F.col("awl") <= 5.5)
    )
    canon = (
        base.where(p123).groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    # left join: rows dropped by rules 1–3 may have no surviving canonical;
    # their p4 is irrelevant (s4 = s3 & p4 masks them out).
    f = base.join(canon, "h", "left").select(
        (F.col("lang") != "zh").alias("p1"),
        (F.col("n_tok") >= 25).alias("p2"),
        (F.col("awl") <= 5.5).alias("p3"),
        (F.col("doc_id") == F.col("keep_id")).alias("p4"),
    )
    s1 = F.col("p1")
    s2 = s1 & F.col("p2")
    s3 = s2 & F.col("p3")
    s4 = s3 & F.col("p4")
    # when/otherwise, not sum(bool cast): a NULL predicate (NULL text →
    # NULL n_tok/awl on every row of a degenerate corpus) made the whole
    # SUM NULL where the oracle's CASE WHEN ... THEN 1 ELSE 0 counts 0
    # (fuzz seed 103030, one:documents) — NULL predicates don't survive,
    # identically on both sides
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    agg = f.agg(
        F.count(F.lit(1)).alias("n0"),
        cnt(s1).alias("n1"),
        cnt(s2).alias("n2"),
        cnt(s3).alias("n3"),
        cnt(s4).alias("n4"),
    )
    row = lambda step, name, nin, nout: F.struct(  # noqa: E731
        F.lit(step).cast("int").alias("step"),
        F.lit(name).alias("rule"),
        nin.cast("bigint").alias("n_in"),
        (nin - nout).cast("bigint").alias("n_dropped"),
        nout.cast("bigint").alias("n_out"),
    )
    return agg.select(
        F.explode(
            F.array(
                row(1, "lang_keep", F.col("n0"), F.col("n1")),
                row(2, "min_tokens", F.col("n1"), F.col("n2")),
                row(3, "avg_word_len", F.col("n2"), F.col("n3")),
                row(4, "canonical_only", F.col("n3"), F.col("n4")),
            )
        ).alias("r")
    ).select("r.step", "r.rule", "r.n_in", "r.n_dropped", "r.n_out")


DOMAIN_CAP = 20


def q_curation_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap with deterministic selection — the
    domain-cap rule web-corpus recipes apply so no single site dominates
    the mixture: keep at most DOMAIN_CAP docs per source, chosen by
    hash rank (md5 of the doc id, doc_id tie-break) so the sample is
    retry-stable and unbiased by ingestion order. Reports the per-source
    attrition and kept token mass.

    Scale: one window partitioned BY SOURCE (parallel across sources;
    a pathological mega-source would use the hash-bucket pre-filter
    trick) + one source agg."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(tokens(F.col("text")))
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "source", toks.alias("n_tok"), F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("rn") <= DOMAIN_CAP).cast("bigint")).alias("n_kept"),
        F.sum((F.col("rn") > DOMAIN_CAP).cast("bigint")).alias("n_dropped"),
        F.sum(
            F.when(F.col("rn") <= DOMAIN_CAP, F.col("n_tok")).otherwise(0)
        ).cast("bigint").alias("kept_tokens"),
    )


def q_curation_source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition: language count, majority language
    (deterministic max-struct argmax), its share, and the language-mix
    Shannon entropy in bits (floor-micro'd per term, order-free sum) —
    the mixture diagnostic read before setting per-source sampling
    temperatures. Two small aggs; S×L is tiny at any scale."""
    from clusterindices_spark.functions.aggregates import round6_stable

    d = load_table(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = sl.groupBy("source").agg(F.sum("n").alias("n_docs"))
    p = F.col("n").cast("double") / F.col("n_docs")
    term_micros = F.floor(
        p * (F.log(F.lit(1.0) / p) / F.log(F.lit(2.0))) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    # eqNullSafe: the NULL-source group is a legitimate GROUP BY group;
    # an equi-join silently dropped it in both engines (fuzz gate 101001)
    per = sl.join(
        tot.withColumnRenamed("source", "source_t"),
        F.col("source").eqNullSafe(F.col("source_t")),
    ).drop("source_t").select(
        "source", "lang", "n", "n_docs", term_micros.alias("tm")
    )
    # has-lang bool in the argmax struct: on a count tie between a NULL
    # lang and a real one, NULL sorts smallest in Spark's struct order
    # but largest in DuckDB's (the bool_modal class, fuzz gate 101001)
    maj = F.max(
        F.struct("n", F.col("lang").isNotNull().alias("has"), "lang")
    )
    return per.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        maj.getField("lang").alias("majority_lang"),
        round6_stable(
            maj.getField("n") / F.max("n_docs")
        ).alias("majority_share"),
        (F.sum("tm") / F.lit(1e6)).alias("lang_entropy_bits"),
    )


DSIR_TARGET_LANG = "en"


def q_curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling, in unigram miniature): score every document by
    the mean per-token log-likelihood ratio between a TARGET distribution
    (here the lang=DSIR_TARGET_LANG slice — the in-domain proxy) and the RAW
    corpus distribution, both add-one smoothed over the joint vocabulary.
    Positive mean log-ratio ⇒ the doc looks more like the target than like
    the average corpus ⇒ keep for target-matched resampling. Emits the
    keep flag the resampler thresholds on.

    Determinism: each vocab term's log-ratio is floor-scaled to BIGINT
    micros ONCE in the V-row vocab table (single ln of the ratio — the
    ln-ulp device), then integer-summed per doc; only the final /n/1e6
    renders float.

    Scale: one explode feeding one vocab agg (map-side combined, the
    target counter is a conditional sum in the SAME pass — no second
    scan), vocab + 1-row consts BROADCAST to the exploded corpus, one
    doc_id agg. The same plan shape as the held-out LM key; a
    million-term vocab still broadcasts."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.text import tokens as _tok

    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", _tok(F.col("text"))
    )
    ex = d.select("doc_id", "lang", F.explode("toks").alias("term"))
    vocab = ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("bigint").alias("c_tgt"),
    )
    consts = ex.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("bigint").alias("n_tgt"),
        F.countDistinct("term").alias("v"),
    )
    p_tgt = (F.col("c_tgt") + 1).cast("double") / (
        F.col("n_tgt") + F.col("v") + 1
    ).cast("double")
    p_raw = (F.col("c_raw") + 1).cast("double") / (
        F.col("n_raw") + F.col("v") + 1
    ).cast("double")
    lr_micros = F.floor(F.log(p_tgt / p_raw) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    scored_vocab = vocab.crossJoin(F.broadcast(consts)).select(
        "term", lr_micros.alias("lr_micros")
    )
    per_doc = (
        ex.join(F.broadcast(scored_vocab), "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micros").alias("lr_sum_micros"),
        )
    )
    avg = F.col("lr_sum_micros") / F.col("n_tokens") / F.lit(1e6)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        round6_stable(avg).alias("avg_log_ratio"),
        (F.col("lr_sum_micros") > 0).alias("keep"),
    )


WATERFILL_BUDGET_FRAC = 2  # budget = total_tokens DIV 2 (50%)


def q_curation_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling across sources — the data-mixture
    allocator: given budget B (half the corpus here), find the unique
    level t with Σ min(sᵢ, t) = B, take small sources WHOLE and cap every
    large source at t (max-min fairness: no source is cut while a larger
    one keeps more). Closed form over the sorted K-row source table: with
    prefix sums P and 1-based rank j, the candidate level
    tⱼ = (B − P₍ⱼ₋₁₎)/(K − j + 1) is valid exactly when it falls in
    [s₍ⱼ₋₁₎, sⱼ); the FIRST valid j wins (unique by monotonicity); no
    valid row ⇒ the budget covers the corpus and nothing is capped.

    Emits per source: tokens, the waterfilled allocation, the capped
    flag, and the shared level/budget — the table a mixture pipeline
    feeds straight into per-source sampling rates.

    Scale: one map-side-combined token sum per source, then EVERYTHING
    runs on the K-row source table (K = sources, driver-scale by
    definition); the corpus is scanned once."""
    from clusterindices_spark.functions.aggregates import round6_stable

    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    sizes = d.groupBy("source").agg(
        F.sum(F.size("toks")).cast("bigint").alias("s")
    )
    w_all = Window.partitionBy()
    # asc_nulls_last on BOTH keys: a NULL source group (and a NULL s from
    # an all-NULL-text source) sorts FIRST in Spark but LAST in DuckDB —
    # the rank/prefix-sum shift moved the computed water level (fuzz gate
    # seed 101001)
    w_ord = Window.partitionBy().orderBy(
        F.asc_nulls_last("s"), F.asc_nulls_last("source")
    )
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        sizes.withColumn("total", F.sum("s").over(w_all))
        .withColumn("k", F.count(F.lit(1)).over(w_all))
        .withColumn("j", F.row_number().over(w_ord))
        .withColumn("p", F.sum("s").over(w_cum))
        .withColumn(
            "budget",
            F.expr(f"total DIV {WATERFILL_BUDGET_FRAC}"),
        )
    )
    t_j = (F.col("budget") - (F.col("p") - F.col("s"))) / (
        F.col("k") - F.col("j") + 1
    ).cast("double")
    prev_s = F.lag("s").over(w_ord)
    cand = ranked.withColumn("t_j", t_j).withColumn(
        "valid",
        (F.col("t_j") < F.col("s"))
        & (prev_s.isNull() | (prev_s <= F.col("t_j"))),
    )
    level = cand.where(F.col("valid")).agg(
        F.min_by("t_j", "j").alias("level")
    )
    out = cand.crossJoin(F.broadcast(level))
    alloc = F.when(
        F.col("level").isNull() | (F.col("s") <= F.col("level")),
        F.col("s").cast("double"),
    ).otherwise(F.col("level"))
    return out.select(
        "source",
        F.col("s").alias("tokens"),
        round6_stable(alloc).alias("allocated"),
        (
            F.col("level").isNotNull() & (F.col("s") > F.col("level"))
        ).alias("capped"),
        round6_stable(F.coalesce(F.col("level"), F.lit(-1.0))).alias("level"),
        "budget",
    )


ANNEAL_STEPS = 10


def q_curation_anneal_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum annealing schedule: per training step t ∈ 1..T, the
    per-source sampling weight interpolates linearly from UNIFORM (every
    source equally, the early-training exploration mix) to the corpus
    TOKEN-SHARE target (the late-training natural mix):
    w_s(t) = (1 − t/T)/K + (t/T)·share_s. Emits the full step × source
    schedule a data loader would consume, plus each row's expected tokens
    per million sampled. Weights are exact rationals of integer token
    counts rendered round6; every step's weights sum to 1 by construction.

    Scale: one corpus token agg (map-side combined) to K source rows, a
    K×T Generate, and pure arithmetic — no joins, no windows beyond the
    K-row frame."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    src = d.select(
        "source", F.size(tokens(F.col("text"))).alias("n_toks")
    ).groupBy("source").agg(F.sum("n_toks").alias("toks"))
    total = src.agg(F.sum("toks")).collect()[0][0]
    k = src.count()
    if k == 0:
        # empty corpus: no sources to schedule (oracle yields 0 rows) —
        # return the empty schedule instead of float(None) (r9 hostile)
        return src.where(F.lit(False)).select(
            F.lit(0).alias("step"),
            "source",
            F.lit(0.0).alias("target_share"),
            F.lit(0.0).alias("weight"),
            F.lit(0).cast("bigint").alias("tokens_per_million"),
        )
    # sources exist but the token total is 0/NULL (all texts empty/NULL):
    # the oracle still emits k×T rows, with NULL share/weight/tpm (DuckDB
    # x/0.0 and x/NULL are both NULL). Mirror that with an explicit NULL
    # share — Spark's ANSI division-by-zero would error, and guarding the
    # whole schedule away was an r9 row-count divergence (r10 advice).
    if not total:
        share = F.lit(None).cast("double")
    else:
        share = F.col("toks") / F.lit(float(total))
    steps = F.explode(
        F.array(*[F.lit(t) for t in range(1, ANNEAL_STEPS + 1)])
    ).alias("step")
    frac = F.col("step") / F.lit(float(ANNEAL_STEPS))
    w = (F.lit(1.0) - frac) / F.lit(float(k)) + frac * F.col("share")
    return (
        src.select("source", share.alias("share"), "toks")
        .select("source", "share", steps)
        .select(
            "step",
            "source",
            round6_stable(F.col("share")).alias("target_share"),
            round6_stable(w).alias("weight"),
            F.floor(w * F.lit(1_000_000.0)).cast("bigint").alias(
                "tokens_per_million"
            ),
        )
    )


QUERIES = {
    "curation_anneal_mixture": q_curation_anneal_mixture,
    "curation_waterfill_budget": q_curation_waterfill_budget,
    "curation_dsir_weights": q_curation_dsir_weights,
    "curation_domain_caps": q_curation_domain_caps,
    "curation_source_lang_mix": q_curation_source_lang_mix,
    "curation_filter_funnel": q_curation_filter_funnel,
    "curation_dedup_keep_best": q_curation_dedup_keep_best,
    "curation_mixture_temperature": q_curation_mixture_temperature,
    "curation_split": q_curation_split,
    "curation_pack_greedy": q_curation_pack_greedy,
    "curation_pipeline": q_curation_pipeline,
    "curation_sample_stratified": q_curation_sample_stratified,
    "curation_sample_topk": q_curation_sample_topk,
    "curation_sample_weighted": q_curation_sample_weighted,
    "curation_mixture_interleave": q_curation_mixture_interleave,
    "curation_decontaminate": q_curation_decontaminate,
}


def _sql_quality() -> str:
    from clusterindices_spark.operators.textops import STOPWORDS

    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
  SELECT doc_id, lang, text, {_TOKS} AS toks,
         len({_TOKS}) AS n_tokens,
         list_sum(list_transform({_TOKS}, t -> len(t))) AS sum_len,
         len(list_filter({_TOKS}, t -> t IN ({stop}))) AS n_stop
  FROM documents
"""


def _sql_marker_hits() -> str:
    from clusterindices_spark.operators.textops import LANG_MARKERS

    cases = []
    for lg, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        cases.append(
            f"WHEN lang = '{lg}' THEN len(list_filter(toks, t -> t IN ({lst})))"
        )
    return "CASE " + " ".join(cases) + " ELSE 0 END"


ORACLES = {
    "curation_anneal_mixture": f"""
WITH src AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(toks) AS BIGINT) AS total, COUNT(*) AS k FROM src
),
g AS (
  SELECT s.source, s.toks, t.total, t.k,
         unnest(range(1, {ANNEAL_STEPS} + 1)) AS step
  FROM src s, tot t
)
SELECT CAST(step AS INT) AS step, source,
       {SQL_ROUND6.format(x="toks / CAST(total AS DOUBLE)")} AS target_share,
       {SQL_ROUND6.format(x=f"(1.0 - step / {ANNEAL_STEPS}.0) / k + step / {ANNEAL_STEPS}.0 * (toks / CAST(total AS DOUBLE))")}
         AS weight,
       CAST(floor(((1.0 - step / {ANNEAL_STEPS}.0) / k
                   + step / {ANNEAL_STEPS}.0 * (toks / CAST(total AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS tokens_per_million
FROM g
""",
    "curation_waterfill_budget": f"""
WITH sizes AS (
  SELECT source, CAST(SUM(len({SQL_TOKENS.format(col="text")})) AS BIGINT) AS s
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, s,
         CAST(SUM(s) OVER () AS BIGINT) AS total,
         CAST(COUNT(*) OVER () AS BIGINT) AS k,
         row_number() OVER (ORDER BY s, source) AS j,
         CAST(SUM(s) OVER (ORDER BY s, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS p,
         lag(s) OVER (ORDER BY s, source) AS prev_s
  FROM sizes
),
cand AS (
  SELECT *,
         total // {WATERFILL_BUDGET_FRAC} AS budget,
         (total // {WATERFILL_BUDGET_FRAC} - (p - s))
           / CAST(k - j + 1 AS DOUBLE) AS t_j
  FROM ranked
),
lvl AS (
  SELECT arg_min(t_j, j) AS level
  FROM cand
  WHERE t_j < s AND (prev_s IS NULL OR prev_s <= t_j)
)
SELECT source, s AS tokens,
       {SQL_ROUND6.format(x="CASE WHEN level IS NULL OR s <= level THEN CAST(s AS DOUBLE) ELSE level END")}
         AS allocated,
       (level IS NOT NULL AND s > level) AS capped,
       {SQL_ROUND6.format(x="COALESCE(level, -1.0)")} AS level,
       budget
FROM cand CROSS JOIN lvl
""",
    "curation_dsir_weights": f"""
WITH ex AS MATERIALIZED (
  SELECT doc_id, lang, unnest({SQL_TOKENS.format(col="text")}) AS term
  FROM documents
),
vocab AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS c_raw,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_tgt
  FROM ex GROUP BY term
),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tgt,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS v
  FROM ex
),
sv AS (
  SELECT term,
         CAST(floor(ln(
             (CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v + 1 AS DOUBLE))
           / (CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v + 1 AS DOUBLE))
         ) * 1000000.0 + 0.5) AS BIGINT) AS lr_micros
  FROM vocab CROSS JOIN consts
),
per AS (
  SELECT e.doc_id, e.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(lr_micros) AS BIGINT) AS lr_sum_micros
  FROM ex e JOIN sv USING (term)
  GROUP BY e.doc_id, e.lang
)
SELECT doc_id, lang, n_tokens,
       {SQL_ROUND6.format(x="lr_sum_micros / CAST(n_tokens AS DOUBLE) / 1000000.0")}
         AS avg_log_ratio,
       (lr_sum_micros > 0) AS keep
FROM per
""",
    "curation_domain_caps": f"""
WITH r AS (
  SELECT source, len(toks) AS n_tok,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn > {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN n_tok ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM r GROUP BY source
""",
    "curation_source_lang_mix": f"""
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs FROM sl GROUP BY source),
per AS (
  SELECT sl.source, sl.lang, sl.n, t.n_docs,
         CAST(floor((CAST(n AS DOUBLE) / n_docs)
                    * (ln(1.0 / (CAST(n AS DOUBLE) / n_docs)) / ln(2.0))
                    * 1e6 + 0.5) AS BIGINT) AS tm
  -- IS NOT DISTINCT FROM keeps the NULL-source group; has-lang bool
  -- pins the count-tie between NULL and real langs (fuzz gate 101001)
  FROM sl JOIN tot t ON sl.source IS NOT DISTINCT FROM t.source
)
SELECT source,
       MAX(n_docs) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       MAX(struct_pack(n := n, has := lang IS NOT NULL,
                       lang := lang)).lang AS majority_lang,
       {SQL_ROUND6.format(x="CAST(MAX(struct_pack(n := n, has := lang IS NOT NULL, lang := lang)).n AS DOUBLE) / MAX(n_docs)")}
         AS majority_share,
       CAST(SUM(tm) AS DOUBLE) / 1e6 AS lang_entropy_bits
FROM per GROUP BY source
""",
    "curation_filter_funnel": f"""
WITH tok AS (
  SELECT doc_id, lang, sha256(text) AS h, {_TOKS} AS toks FROM documents
),
base AS (
  SELECT doc_id, lang, h,
         len(toks) AS n_tok,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / NULLIF(CAST(len(toks) AS DOUBLE), 0.0) AS awl
  FROM tok
),
canon AS (
  SELECT h, MIN(doc_id) AS keep_id FROM base
  WHERE lang <> 'zh' AND n_tok >= 25 AND awl <= 5.5
  GROUP BY h
),
f AS (
  SELECT (lang <> 'zh') AS p1,
         (n_tok >= 25) AS p2,
         (awl <= 5.5) AS p3,
         (base.doc_id = canon.keep_id) AS p4
  FROM base LEFT JOIN canon USING (h)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM f
)
SELECT CAST(1 AS INT) AS step, 'lang_keep' AS rule, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM agg
UNION ALL
SELECT CAST(2 AS INT), 'min_tokens', n1, n1 - n2, n2 FROM agg
UNION ALL
SELECT CAST(3 AS INT), 'avg_word_len', n2, n2 - n3, n3 FROM agg
UNION ALL
SELECT CAST(4 AS INT), 'canonical_only', n3, n3 - n4, n4 FROM agg
""",
    "curation_mixture_temperature": f"""
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
t AS (
  SELECT source, n_docs,
         CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS raw_share_x,
         sqrt(CAST(n_docs AS DOUBLE)) / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER () AS w
  FROM c
)
SELECT source, n_docs,
       {SQL_ROUND6.format(x="raw_share_x")} AS raw_share,
       {SQL_ROUND6.format(x="w")} AS weight,
       CAST(floor(w * 100000) AS BIGINT) AS budget_docs,
       {SQL_ROUND6.format(x="CAST(floor(w * 100000) AS BIGINT) / CAST(n_docs AS DOUBLE)")} AS epochs
FROM t
""",
    "curation_split": f"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_BUCKET_MAX}'
            THEN 'train' ELSE 'val' END AS split
FROM documents
""",
    "curation_decontaminate": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{DECON_EVAL_PREFIX}'
           AS is_eval
  FROM documents
),
s AS (
  SELECT doc_id, is_eval, unnest({SQL_SHINGLES3.format(toks="toks")}) AS sh
  FROM t
),
ev AS (SELECT DISTINCT sh FROM s WHERE is_eval)
SELECT doc_id, COUNT(DISTINCT sh) AS n_shared_shingles
FROM s JOIN ev USING (sh)
WHERE NOT is_eval
GROUP BY doc_id
""",
    "curation_pack_greedy": f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         -- pmod, not %: DuckDB's % is sign-preserving, so a negative
         -- doc_id would land in a negative group while Spark's pmod
         -- partition id is always in [0, G) (fuzz gate seed 101001)
         CAST(((doc_id % {PACK_GROUPS}) + {PACK_GROUPS}) % {PACK_GROUPS}
              AS INT) AS grp,
         CAST(LEAST(len({_TOKS}), {PACK_CAPACITY}) AS INT) AS t
  FROM documents
),
seq AS (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
  FROM toks
),
pack AS (
  SELECT grp, rn, doc_id, t, 0 AS bin, t AS fill FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.grp, s.rn, s.doc_id, s.t,
         CASE WHEN p.fill + s.t <= {PACK_CAPACITY} OR p.fill = 0
              THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + s.t <= {PACK_CAPACITY} OR p.fill = 0
              THEN p.fill + s.t ELSE s.t END
  FROM pack p JOIN seq s ON s.grp = p.grp AND s.rn = p.rn + 1
)
SELECT doc_id, grp, CAST(bin AS INT) AS bin, t AS n_tokens FROM pack
""",
    "curation_dedup_keep_best": f"""
WITH m AS ({_sql_quality()}),
scored AS (
  SELECT doc_id, sha256(text) AS content_hash,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         {SQL_ROUND6.format(x=f"LEAST(n_tokens / 100.0, 1.0) * 0.5 + {_R6_STOP} * 0.3 + LEAST({_R6_AVG} / 10.0, 1.0) * 0.2")} AS quality
  FROM m
)
SELECT content_hash,
       MAX(struct_pack(quality := quality, doc_id := doc_id,
                       n_tokens := n_tokens)).doc_id AS keep_doc_id,
       MAX(struct_pack(quality := quality, doc_id := doc_id,
                       n_tokens := n_tokens)).quality AS keep_quality,
       MAX(struct_pack(quality := quality, doc_id := doc_id,
                       n_tokens := n_tokens)).n_tokens AS keep_n_tokens,
       COUNT(*) AS n_copies
FROM scored
GROUP BY content_hash
""",
    "curation_pipeline": f"""
WITH m AS ({_sql_quality()}),
scored AS (
  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         {SQL_ROUND6.format(x=f"LEAST(n_tokens / 100.0, 1.0) * 0.5 + {_R6_STOP} * 0.3 + LEAST({_R6_AVG} / 10.0, 1.0) * 0.2")} AS quality,
         {_sql_marker_hits()} AS marker_hits
  FROM m
),
canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
fl AS (
  SELECT s.*,
         (c.doc_id IS NOT NULL) AS is_canon,
         (s.quality >= {QUALITY_MIN}) AS q_ok,
         (s.marker_hits >= 1) AS l_ok
  FROM scored s LEFT JOIN canon c USING (doc_id)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       CAST(SUM(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_langid_ok,
       CAST(SUM(CASE WHEN q_ok AND l_ok AND is_canon THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(COALESCE(SUM(CASE WHEN q_ok AND l_ok AND is_canon THEN n_tokens END), 0)
            AS BIGINT) AS n_tokens_retained,
       ROUND(AVG(CASE WHEN q_ok AND l_ok AND is_canon THEN quality END), 6)
         AS avg_quality_retained
FROM fl
GROUP BY lang
""",
    "curation_sample_stratified": f"""
SELECT doc_id, lang, source,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < (CASE WHEN lang = 'en' THEN '{SAMPLE_THRESHOLDS["en"]}'
              ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END)
""",
    "curation_sample_topk": f"""
SELECT doc_id, lang, source, CAST(rk AS INT) AS rk
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk
  FROM documents
)
WHERE rk <= {TOPK_PER_STRATUM}
""",
    "curation_sample_weighted": f"""
SELECT doc_id, lang, n_chars,
       {SQL_ROUND6.format(x="es_key")} AS es_key,
       CAST(rk AS INT) AS rk
FROM (
  SELECT doc_id, lang, n_chars,
         -ln((hm + 0.5) / {_ES_M}.0)
           / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS es_key,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY -ln((hm + 0.5) / {_ES_M}.0)
                    / CAST(GREATEST(n_chars, 1) AS DOUBLE) ASC,
                    doc_id ASC
         ) AS rk
  FROM (
    -- pmod at BOTH reduction steps, not %: DuckDB's sign-preserving %
    -- hands ln() a negative argument for negative doc_ids (hard error)
    -- while Spark's pmod stays in [0, M) (fuzz gate seed 101001)
    SELECT doc_id, lang, n_chars,
           ((((doc_id % {_ES_M}) + {_ES_M}) % {_ES_M} * {_ES_A})
            % {_ES_M} + {_ES_M}) % {_ES_M} AS hm
    FROM documents
  )
)
WHERE rk <= {WEIGHTED_K}
""",
    "curation_mixture_interleave": """
WITH ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS INT) AS rk,
         CAST(CASE WHEN CAST(NULLIF(regexp_extract(source, '^src([0-9]+)$', 1), '') AS INT) <= 4 THEN 1
                   WHEN CAST(NULLIF(regexp_extract(source, '^src([0-9]+)$', 1), '') AS INT) <= 9 THEN 2
                   ELSE 4 END AS INT) AS stride
  FROM documents
)
SELECT doc_id, source, rk, stride,
       CAST(rk AS BIGINT) * CAST(stride AS BIGINT) AS interleave_key
FROM ranked
""",
}
