"""Analytics-depth operators: profiling, histograms, outlier detection, and
event-path mining — the data-quality / exploration surface an analytics
engine is expected to carry alongside its query operators (SURVEY.md §2E).

Scale posture per operator:

- profile_orders      : every per-column statistic folds in ONE pass over the
                        table (multi-agg, map-side partial), then a constant
                        unpivot of the 1-row result — no per-column scans.
- events_histogram    : bucket id is scan-side integer arithmetic; the agg
                        groups on ≤ n_bins keys (tiny shuffle).
- events_outliers     : per-type sufficient statistics (count + floor-micro
                        sums of value and value², exact and order-free) fold
                        map-side into ≤ |event_type| rows, broadcast back,
                        and the z-filter runs scan-side — the two-pass
                        z-score shape with no wide shuffle.
- events_path_trigrams: one shuffle by user_id to assemble ordered per-user
                        sequences (array_sort on (event_id, type) structs —
                        collect_list alone is partition-order-dependent),
                        then explode→count over low-cardinality trigrams.
                        Sequences key on event_id, which the fixture
                        generator emits in timestamp order — using ts
                        directly would couple the oracle to the ns-vs-µs
                        parquet timestamp mismatch (TESTDATA.md).

Cross-engine determinism: value² and mean·mean products are floor-scaled to
integer micros before summing (the DECIMAL cast's half-way convention
differs between engines on arbitrary doubles — see functions/aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions.aggregates import (
    SQL_ROUND6,
    finite_or_null,
    round6_stable,
)
from clusterindices_spark.sources.fixtures import load_table


def _sql_toks_doc() -> str:
    from clusterindices_spark.functions.text import SQL_TOKENS

    return SQL_TOKENS.format(col="text")

HIST_LO = 0.0
HIST_HI = 500.0
HIST_BINS = 20
Z_THRESHOLD = 3.0
TRIGRAM_TOP = 20


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders``: null count, distinct count,
    min/max — numerics and strings in typed columns (double-to-string
    formatting is not engine-portable). One scan, one 1-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    str_cols = ["o_orderstatus", "o_orderpriority"]
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in str_cols + num_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"{c}__min_s"), F.max(c).alias(f"{c}__max_s")]
    for c in num_cols:
        aggs += [
            F.round(F.min(c), 6).alias(f"{c}__min_n"),
            F.round(F.max(c), 6).alias(f"{c}__max_n"),
        ]
    one = o.agg(*aggs)
    rows = []
    for c in str_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__min_s").alias("min_str"),
                F.col(f"{c}__max_s").alias("max_str"),
            )
        )
    for c in num_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min_n").cast("double").alias("min_num"),
                F.col(f"{c}__max_n").cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def q_events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable continuous-aggregate
    pattern): per-type hourly aggregates computed from raw ONCE, then the
    daily grain re-aggregated FROM THE HOURLY ROWS — never from raw. That
    is the only shape that scales: at 100 TB the raw scan happens once per
    refresh window and each coarser grain folds ~24× fewer rows than the
    grain below it. Correct because the measures are associative — counts
    and EXACT integer-micro value sums (floats re-summed in a different
    order would drift; micros cannot).

    Output: both grains stacked with a grain tag, bucket epoch-ms, count,
    and the value sum recovered to a 6dp double."""
    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    ).select(
        "event_type",
        F.unix_millis(F.col("ts")).alias("t"),
        _micros(F.col("value")).alias("vm"),
    )
    hour = (F.floor(F.col("t") / F.lit(3_600_000)) * F.lit(3_600_000)).cast(
        "bigint"
    )
    hourly = e.groupBy("event_type", hour.alias("bucket_ms")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("vm").alias("svm")
    )
    day = (
        F.floor(F.col("bucket_ms") / F.lit(86_400_000)) * F.lit(86_400_000)
    ).cast("bigint")
    daily = hourly.groupBy("event_type", day.alias("bucket_ms")).agg(
        F.sum("n").alias("n"), F.sum("svm").alias("svm")
    )
    out = lambda df, g: df.select(  # noqa: E731
        F.lit(g).alias("grain"),
        "event_type",
        "bucket_ms",
        "n",
        (F.col("svm") / F.lit(1000000.0)).alias("sum_value"),
    )
    return out(hourly, "hour").unionByName(out(daily, "day"))


EWMA_LAGS = 8  # truncated-EWMA horizon (α = 1/2 → weights 2^(EWMA_LAGS-1-j))


def q_events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average over the hourly
    per-type value series — the time-series smoother behind anomaly
    baselines and trend dashboards. True EWMA is a sequential float fold
    (order-dependent, engine-divergent); the 8-lag truncation with
    power-of-two integer weights (w_j = 2^(7-j), ≥99.6% of the mass) is
    EXACT integer arithmetic over lag() terms — identical in any engine
    and in any partitioning. Head-of-series rows renormalize over the
    lags that exist. One shuffle by event_type for the hourly agg; the
    lag window rides the same partitioning."""
    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    hour = (
        F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000))
        * F.lit(3_600_000)
    ).cast("bigint")
    hourly = e.groupBy("event_type", hour.alias("bucket_ms")).agg(
        F.sum(_micros(F.col("value"))).alias("vm"),
        F.count(F.lit(1)).alias("n"),
    )
    from pyspark.sql import Window

    # asc_nulls_last: DuckDB windows default NULLS LAST, Spark NULLS
    # FIRST — a NULL time bucket (NULL-ts events) would shift every lag
    # (r9 hostile edge)
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("bucket_ms")
    )
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for j in range(EWMA_LAGS):
        weight = 1 << (EWMA_LAGS - 1 - j)
        lagged = F.lag("vm", j).over(w)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), weight).otherwise(0)
    # integer `div`, not float floor(num/den): num can exceed 2^53 at real
    # scale and double division would quantize before the floor
    return hourly.select(
        "event_type",
        "bucket_ms",
        "n",
        (F.col("vm") / F.lit(1000000.0)).alias("hour_sum"),
        num.alias("_num"),
        den.alias("_den"),
    ).select(
        "event_type",
        "bucket_ms",
        "n",
        "hour_sum",
        # nullif: a bucket whose every value is NULL sums to NULL vm ->
        # every lag NULL -> den 0; the EWMA is undefined there (NULL in
        # both engines), not an ANSI divide-by-zero (r9 hostile edge)
        F.expr("_num div nullif(_den, 0)").alias("ewma_micros"),
    )


def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time statistics per user — the cadence profile behind
    session-gap tuning, bot detection (suspiciously regular gaps), and
    churn signals. Gaps are integer ms lags (exact in both engines);
    median/p90 are exact interpolating percentiles over those integers
    (the agg_quantiles convention). Users with < 2 events have no gaps
    and drop out. One user_id shuffle shared by the lag window and the
    per-user agg."""
    from pyspark.sql import Window

    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = e.withColumn("gap_ms", F.col("t") - F.lag("t").over(w)).where(
        F.col("gap_ms").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_ms").alias("min_gap_ms"),
        round6_stable(F.percentile("gap_ms", F.lit(0.5))).alias("median_gap_ms"),
        round6_stable(F.percentile("gap_ms", F.lit(0.9))).alias("p90_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
    )


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-
    analytics engagement triple. WAU avoids the distinct-over-range-frame
    trap (not expressible as a window) AND the inequality join (BNLJ):
    each distinct (user, day) pair is EXPLODED to the 7 anchor days it
    supports (day .. day+6), then one countDistinct per anchor — an
    equi-shuffle with a bounded 7× fan-out of the deduped pair set, valid
    at any scale. Anchors are restricted to days that actually occur
    (left-semi against the day spine)."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    day = F.floor(
        F.unix_millis(F.col("ts")) / F.lit(86_400_000)
    ).cast("bigint")
    pairs = (
        e.select(day.alias("day"), "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
    )
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    anchors = (
        pairs.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(6))
            ).alias("day"),
            "user_id",
        )
        .join(dau.select("day"), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(anchors, "day")
        .select(
            "day",
            (F.col("day") * F.lit(86_400_000)).alias("day_ms"),
            "dau",
            "wau",
            round6_stable(F.col("dau") / F.col("wau")).alias("stickiness"),
        )
    )


def q_events_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate alerting: each hour's error share z-scored
    against the global rate under the binomial normal approximation —
    the standard SRE burn-alert shape (|z| > 3 flags the hour). Exact
    integer counts; the z arithmetic is the same double-op sequence in
    both engines, then floor-round6. Two aggs (hour keyed, then 1-row
    global broadcast back); no joins beyond the 1-row attach."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    per = e.groupBy(hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("bigint").alias("n_err"),
    )
    tot = per.agg(
        F.sum("n").alias("big_n"), F.sum("n_err").alias("big_e")
    )
    p0 = F.col("big_e").cast("double") / F.col("big_n")
    rate = F.col("n_err").cast("double") / F.col("n")
    # nullif: a corpus with zero errors overall (p0=0, common in tiny
    # slices) or all-errors (p0=1) zeroes the binomial SE — ANSI Spark
    # errors on 0/0 while DuckDB's x/0 is NULL (the ab_ttest class)
    z = (rate - p0) / F.nullif(
        F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("n")), F.lit(0.0)
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "hour",
        "n",
        "n_err",
        round6_stable(rate).alias("err_rate"),
        round6_stable(z).alias("z"),
        (F.abs(z) > 3.0).alias("is_alert"),
    )


ACF_LAGS = (1, 24)


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality detector: Pearson autocorrelation of the hourly count
    series per event type at lags 1 h (momentum) and 24 h (daily cycle),
    computed over hour pairs present at BOTH ends (missing hours are
    skipped, documented). All regression sums are exact BIGINT products
    of integer counts — order-free — so only the final correlation
    division is floating point, identical in both engines, then r6.
    BOUND (int64, pinned r9): Σ x·y ≤ max-hourly-count × per-type total,
    so the moment sums stay exact while max_hourly × total < 2⁶³
    (≈9.2e18 — e.g. 10M events/hour sustained against a 9e11-event type);
    past it Spark ANSI-errors LOUDLY while DuckDB promotes to HUGEINT
    (boundary behavior tested in tests/test_int64_bounds.py).
    Shuffles: one hourly agg, one per-type equi self-join on (type,
    hour+lag), one T×lag-row agg."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    h = e.groupBy(
        "event_type", hour.alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    lagged = h.select(
        "event_type",
        "hour",
        F.col("c").alias("x"),
        F.explode(F.array(*[F.lit(L) for L in ACF_LAGS])).alias("lag"),
    )
    rhs = h.select(
        F.col("event_type").alias("etype2"),
        F.col("hour").alias("hour2"),
        F.col("c").alias("y"),
    )
    pairs = lagged.join(
        rhs,
        (F.col("event_type") == F.col("etype2"))
        & (F.col("hour2") == F.col("hour") + F.col("lag")),
    ).select("event_type", "lag", "x", "y")
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        "lag",
        "n_pairs",
        round6_stable(num / F.nullif(den, F.lit(0.0))).alias("acf"),
    )


def q_events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baselines per event type: MAE of the
    'same hour yesterday' (lag-24) predictor vs the 'last hour' (lag-1)
    predictor over the hourly count series — the sanity floor every
    real forecasting model must beat, and the cheapest seasonality
    strength readout (ratio < 1 ⟺ the daily cycle predicts better than
    momentum). Absolute errors are exact BIGINT sums; only the final
    means/ratio divide. One hourly agg + two equi lag self-joins +
    a T-row agg."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    h = e.groupBy("event_type", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("c")
    )

    def _mae(lag: int, name: str):
        rhs = h.select(
            F.col("event_type").alias("et2"),
            (F.col("hour") + F.lit(lag)).alias("target_hour"),
            F.col("c").alias("pred"),
        )
        j = h.join(
            rhs,
            (F.col("event_type") == F.col("et2"))
            & (F.col("hour") == F.col("target_hour")),
        )
        return j.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"n_{name}"),
            F.sum(F.abs(F.col("c") - F.col("pred"))).alias(f"sae_{name}"),
        )

    s = _mae(24, "seasonal").join(_mae(1, "naive"), "event_type")
    mae_s = F.col("sae_seasonal").cast("double") / F.col("n_seasonal")
    mae_n = F.col("sae_naive").cast("double") / F.col("n_naive")
    return s.select(
        "event_type",
        "n_seasonal",
        "n_naive",
        round6_stable(mae_s).alias("mae_seasonal"),
        round6_stable(mae_n).alias("mae_naive"),
        round6_stable(mae_s / F.nullif(mae_n, F.lit(0.0))).alias(
            "mae_ratio"
        ),
    )


WEEK_MS = 7 * 86_400_000


def q_events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified as NEW
    (first-ever week), RETAINED (also active the prior week) or
    RESURRECTED (active before, but not last week), plus CHURNED-INTO
    counts (users whose last activity was the prior week) — the standard
    startup growth-accounting identity (new + retained + resurrected =
    actives; churn bounded to observed weeks). Weeks are epoch-anchored
    integer buckets (locale/session-TZ free, the hour_of_week rule).

    Scale: one distinct over (user, week), one user-partitioned window
    for lag/lead, W-row aggregates. The churn-into left-join is exact
    here because the fixture's weeks are contiguous; with gap weeks the
    convention reports churn only into observed weeks (documented)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_millis(F.col("ts")) / F.lit(WEEK_MS)).cast("bigint")
    uw = (
        e.select(week.alias("week"), "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
    )
    # asc_nulls_last: a NULL-ts event yields a NULL week bucket; it must
    # sort LAST as in DuckDB or the user's first REAL week misreads its
    # lag as the NULL row and double-counts n_new (r10 hostile edge)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("week"))
    tagged = uw.select(
        "week",
        "user_id",
        F.lag("week").over(w).alias("prev"),
        F.lead("week").over(w).alias("nxt"),
    )
    active = tagged.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.col("prev").isNull().cast("bigint")).alias("n_new"),
        # when/otherwise, not a bare boolean cast: (NULL == x) is NULL, and
        # a week whose members are ALL first-timers would sum to NULL
        F.sum(
            F.when(F.col("prev") == F.col("week") - 1, 1).otherwise(0)
        ).cast("bigint").alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("prev") < F.col("week") - 1),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_resurrected"),
    )
    maxw = uw.agg(F.max("week").alias("max_week"))
    churn = (
        tagged.where(F.col("nxt").isNull() | (F.col("nxt") > F.col("week") + 1))
        .select((F.col("week") + 1).alias("week"))
        .crossJoin(F.broadcast(maxw))
        .where(F.col("week") <= F.col("max_week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_churned_in"))
    )
    return active.join(churn, "week", "left").select(
        "week",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned_in"), F.lit(0).cast("bigint")).alias(
            "n_churned_in"
        ),
    )


def q_events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Pareto) curve: rank users by event count,
    split into deciles, report each decile's user count, event share, and
    the cumulative share at its boundary — 'the top 10% of users generate
    X% of events'. Rank ties break on user_id; decile = ceil(10·rank/n)
    (exact integer arithmetic). Shuffles: per-user counts, then the
    RANGE-PARTITIONED global rank (VERDICT r4 item 4 — the previous
    single-partition window funneled a billion-user sort through one task
    at 100 TB; functions/ranking.py now computes rank + running sum with
    parallel local sorts and P-row broadcast offsets)."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.ranking import ranked as _gl_ranked

    e = load_table(spark, sf_dir, "events")
    per_user = e.where(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked = _gl_ranked(
        per_user,
        [F.col("cnt").desc(), F.col("user_id")],
        rank_col="rk",
        cum_of=F.col("cnt"),
        cum_col="cum",
    ).select("cnt", "rk", "cum")
    n_users = per_user.count()
    total = e.where(F.col("user_id").isNotNull()).count()
    decile = F.ceil(F.col("rk") * 10 / F.lit(n_users)).cast("int")
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("n_events"),
            F.max("cum").alias("cum_events"),
        )
        .select(
            "decile",
            "n_users",
            "n_events",
            round6_stable(F.col("n_events") / F.lit(total)).alias("share"),
            round6_stable(F.col("cum_events") / F.lit(total)).alias(
                "cum_share"
            ),
        )
    )


ATTR_WINDOW_MS = 7 * 86_400_000  # attribution lookback


def q_events_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credited to the user's most
    recent non-purchase event within a 7-day lookback (NULL channel when
    none) — the default revenue-attribution rule. Same join + max_by
    hash-agg plan as the as-of family (map-side combine, no window sort);
    ties break on (ts, event_id)."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_millis(F.col("ts")).alias("p_t"),
        F.round("value", 6).alias("revenue"),
    )
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.unix_millis(F.col("ts")).alias("t_t"),
    )
    j = p.join(
        t,
        (p.p_user == t.t_user)
        & (t.t_t < p.p_t)
        & (t.t_t >= p.p_t - F.lit(ATTR_WINDOW_MS)),
        "left",
    )
    return (
        j.groupBy("purchase_id")
        .agg(
            F.max_by(
                F.struct("channel", "touch_id", "t_t"),
                F.struct("t_t", "touch_id"),
            ).alias("s"),
            F.max("revenue").alias("revenue"),
            F.max("p_t").alias("p_t"),
        )
        .select(
            "purchase_id",
            "revenue",
            F.col("s.channel").alias("channel"),
            F.col("s.touch_id").alias("touch_id"),
            (F.col("p_t") - F.col("s.t_t")).alias("lag_ms"),
        )
    )


def q_events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's revenue is split
    EQUALLY across all its non-purchase touches in the 7-day lookback
    (complementing last-touch's winner-takes-all), then rolled up per
    channel. Revenue quantizes to integer micros once and each touch gets
    rev_micros div n_touches — the remainder (< n_touches µ-units per
    purchase) is deliberately dropped rather than assigned by position,
    keeping every share independent of touch enumeration order (exact
    BIGINT arithmetic end-to-end; the only float is the final /1e6).
    The per-touch share is integer ``div`` on BOTH engines — bigint ``/``
    evaluates in double, and past 2⁵³ µ floor-of-double can differ from
    integer floor-div by 1 µ (ADVICE r7). Note ``div`` TRUNCATES toward
    zero (Spark div == DuckDB //, so parity holds either way): for
    refund-scale NEGATIVE rev_micros the dropped remainder is ≤ 0 — i.e.
    shares round toward zero, not floor — and the "remainder < n_touches
    µ-units dropped" bound reads in absolute value (ADVICE r9). The
    events fixture's purchase values are non-negative, so the gate only
    ever sees the floor==truncate regime.

    Scale: the purchase⋈touch window join is the last_touch shape (user-
    keyed equi component + time-range predicate); the per-purchase touch
    count is a purchase_id-partitioned window over that join's output
    (bounded by touches-per-week per user), and the channel rollup is a
    K-row agg."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_millis(F.col("ts")).alias("p_t"),
        F.floor(F.col("value") * 1_000_000.0).cast("bigint").alias(
            "rev_micros"
        ),
    )
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.unix_millis(F.col("ts")).alias("t_t"),
    )
    j = p.join(
        t,
        (p.p_user == t.t_user)
        & (t.t_t < p.p_t)
        & (t.t_t >= p.p_t - F.lit(ATTR_WINDOW_MS)),
    )
    w = Window.partitionBy("purchase_id")
    # integer div, not bigint/bigint (double) — see docstring
    share = F.expr("rev_micros div n_t")
    return (
        j.withColumn("n_t", F.count(F.lit(1)).over(w))
        .select("purchase_id", "channel", share.alias("share_micros"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            round6_stable(
                F.sum("share_micros") / F.lit(1_000_000.0)
            ).alias("attributed_revenue"),
        )
    )


PATTERN_RE = "vc+p"  # view, 1+ clicks, then purchase — strictly adjacent


def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching over per-user event sequences — the
    MATCH_RECOGNIZE surface Spark lacks, re-expressed as ordered string
    aggregation + RE2-portable regex: each user's journey compresses to a
    letter string (first letter of each type — the five types are
    first-letter-unique), and the pattern ``vc+p`` (view, ≥1 clicks, then
    purchase, STRICTLY adjacent) is counted with leftmost non-overlapping
    semantics — identical in Java regex and RE2, the BPE_ISH contract.
    Sequences order on event_id (the path_trigrams convention: the
    fixture emits ids in timestamp order; ts itself would couple the
    oracle to the ns-vs-µs parquet grain).

    Scale: one user-keyed shuffle to assemble sequences (array_sort on
    (event_id, letter) structs — collect_list alone is partition-order
    dependent); per-user memory bounds by events-per-user, the same
    posture as path_trigrams. Matching is scan-side regex on the
    assembled rows."""
    e = load_table(spark, sf_dir, "events")
    letter = F.substring("event_type", 1, 1)
    seq = (
        e.select("user_id", F.struct(F.col("event_id"), letter.alias("l")).alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["l"]
                ),
                "",
            ).alias("seq")
        )
    )
    # idx=0 = the whole match (Spark defaults to GROUP 1, which errors on
    # a group-free pattern; DuckDB defaults to 0)
    matches = F.regexp_extract_all("seq", F.lit(PATTERN_RE), 0)
    longest = F.array_max(F.transform(matches, F.length))
    return seq.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.size(matches).cast("bigint").alias("n_matches"),
        F.coalesce(longest, F.lit(0)).cast("bigint").alias(
            "longest_match_len"
        ),
        (F.size(matches) > 0).alias("is_converter"),
    )


def q_events_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the single-number
    inequality readout next to the Pareto decile curve: with counts
    ranked ascending (ties → user_id), G = (2·Σ rk·c − (n+1)·Σc)/(n·Σc).
    EVERY sum is exact BIGINT (rank-weighted count sums), so the only
    float is the final ratio — zero cross-engine drift surface.
    BOUND (int64, pinned r9): Σ rk·c ≤ n·Σc and the closing expression
    multiplies n·Σc directly, so exactness requires n_users ×
    total_events < 2⁶³ (e.g. 1e9 users × 9e9 events); past it Spark
    ANSI-errors LOUDLY, never a silent wrap (tests/test_int64_bounds.py).

    Scale: per-user counts (map-side combined), then the RANGE-PARTITIONED
    global rank (functions/ranking.py — parallel local sorts + P-row
    broadcast offsets, never a single-partition window), and a global
    scalar agg whose exchange moves partial rows only (the tpch_q6
    shape)."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.ranking import ranked as _gl_ranked

    e = load_table(spark, sf_dir, "events")
    per_user = e.where(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    r = _gl_ranked(
        per_user,
        [F.col("cnt"), F.col("user_id")],
        rank_col="rk",
    ).select("cnt", "rk")
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("rk") * F.col("cnt")).alias("src"),
    )
    gini = (
        F.lit(2) * F.col("src") - (F.col("n") + 1) * F.col("s")
    ) / (F.col("n") * F.col("s"))
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("s").alias("total_events"),
        F.col("src").alias("sum_rank_weighted"),
        round6_stable(gini).alias("gini"),
    )


KFOLDS = 5


def q_curation_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (md5-hex mod k — a pure function of
    the stable id, so retries and backfills keep every doc in its fold;
    the cross-validation companion to curation_split) plus the per-fold
    balance report that validates the assignment is usable: doc counts and
    token mass per fold. Scan-side fold id; one k-row agg."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from clusterindices_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # fold = integer value of the last 8 md5 hex chars mod k (conv is
    # BIGINT-exact at 8 hex digits in both engines)
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10
        ).cast("bigint")
        % KFOLDS
    ).cast("int")
    sized = d.select(
        fold.alias("fold"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    total = sized.count()
    return sized.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        round6_stable(F.count(F.lit(1)) / F.lit(total)).alias("doc_share"),
    )



def q_events_hour_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile per event type: event share in each
    of the 168 weekly hour slots — the traffic-shape fingerprint behind
    capacity planning and the seasonal-outlier baseline. Slot arithmetic
    on epoch-ms BIGINTs (day-of-week from the epoch anchor, Thursday=0
    shifted to Monday=0) so both engines bucket identically regardless of
    locale settings. One 168-key agg per type."""
    from clusterindices_spark.functions.aggregates import round6_stable
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    t = F.unix_millis(F.col("ts"))
    # epoch day 0 = Thursday; (+3) % 7 makes Monday = 0
    dow = (F.floor(t / F.lit(86_400_000)) + F.lit(3)) % F.lit(7)
    hod = F.floor(t / F.lit(3_600_000)) % F.lit(24)
    slot = (dow * 24 + hod).cast("int")
    counts = e.groupBy("event_type", slot.alias("hour_of_week")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "hour_of_week",
        "n",
        round6_stable(F.col("n") / F.sum("n").over(tot)).alias("share"),
    )


ROLL_WINDOW = 24  # trailing buckets in the rolling baseline


def q_events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly score: each hourly bucket z-scored against
    the TRAILING 24 buckets' moments (excluding itself) — the adaptive
    baseline that tracks drift where the global and seasonal z-scores
    (events_outliers / _seasonal) assume stationarity. Moments come from
    rolling integer-micro sums over a ROWS frame — exact, order-free —
    and the variance clamps at 0 before sqrt (DuckDB hard-errors on
    negative sqrt). BOUND (int64, pinned r9): the squared moment sums
    per-bucket MILLI totals over a 24-bucket frame, exact while each
    bucket's |Σvalue| ≤ ~6.2e5 units (milli ≤ 6.2e8 ⇒ 24·milli² <
    2⁶³); past it Spark ANSI-errors LOUDLY while DuckDB promotes to
    HUGEINT — boundary test drives the REAL operator both sides of the
    line (tests/test_int64_bounds.py). One event_type shuffle shared by
    the agg and the frame."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    hour = (
        F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000))
        * F.lit(3_600_000)
    ).cast("bigint")
    from clusterindices_spark.functions.aggregates import round6_stable

    # milli-units for the squared moment: a micro sum can reach ~2e10 per
    # bucket and its square overflows int64 under ANSI; milli² sums stay
    # ≤ ~1e16. Bucket sums carry micro precision for the output column.
    hourly = e.groupBy("event_type", hour.alias("bucket_ms")).agg(
        F.sum(_micros(F.col("value"))).alias("vm"),
        F.count(F.lit(1)).alias("n"),
    ).withColumn("vmil", F.expr("vm div 1000"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("bucket_ms"))  # NULLS LAST parity (r9)
        .rowsBetween(-ROLL_WINDOW, -1)
    )
    cnt = F.count(F.lit(1)).over(w)
    s1 = F.sum("vmil").over(w)
    s2 = F.sum(F.col("vmil") * F.col("vmil")).over(w)
    mean = s1 / cnt / F.lit(1000.0)  # back to value units
    var = F.greatest(s2 / cnt / F.lit(1e6) - mean * mean, F.lit(0.0))
    z = (F.col("vmil") / F.lit(1000.0) - mean) / F.nullif(
        F.sqrt(var), F.lit(0.0)
    )
    return (
        hourly.select(
            "event_type",
            "bucket_ms",
            "n",
            cnt.alias("n_baseline"),
            round6_stable(F.col("vm") / F.lit(1000000.0)).alias("hour_sum"),
            round6_stable(F.coalesce(mean, F.lit(0.0))).alias("roll_mean"),
            F.when(z.isNull(), None)
            .otherwise(F.floor(z * 1000).cast("bigint"))
            .alias("z_milli"),
        )
        .where(F.col("n_baseline") >= 3)
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values: bucket = clamped
    floor((x-lo)/width); emits bucket bounds and counts."""
    ev = load_table(spark, sf_dir, "events").withColumn("value", finite_or_null("value"))
    width = (HIST_HI - HIST_LO) / HIST_BINS
    raw = F.floor((F.col("value") - F.lit(HIST_LO)) / F.lit(width))
    bucket = F.least(
        F.greatest(raw, F.lit(0)), F.lit(HIST_BINS - 1)
    ).cast("int")
    return (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(HIST_LO) + F.col("bucket") * F.lit(width)).alias("lo"),
            (F.lit(HIST_LO) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
            "n",
        )
    )


def _micros(col):
    """floor-micro quantization with a LOUD out-of-range guard: Spark's
    floor(double) silently SATURATES to ±Long.MAX past int64 range where
    DuckDB's CAST raises — a single saturated spike in a group answered
    silently (fuzz wave-3 seed 103000, events_outliers). The zero-valued
    ANSI-checked cast makes the loudness count-independent: any magnitude
    past int64 raises CAST_OVERFLOW here, matching the oracle's loud CAST
    (tests/test_int64_bounds.py loudness contract)."""
    x = col * F.lit(1000000.0) + F.lit(0.5)
    return F.floor(x) + x.cast("bigint") * F.lit(0)


def q_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outliers per event type: |value - mean| > 3·stddev, with the
    per-type moments computed from exact integer-micro sufficient
    statistics (population variance). Returns the outlier events with
    their z-scores."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    ).select(
        "event_id", "event_type", "value"
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_micros(F.col("value"))).alias("s1"),
        F.sum(_micros(F.col("value") * F.col("value"))).alias("s2"),
    )
    mean = F.col("s1") / F.col("n") / F.lit(1000000.0)
    # clamp at 0: the floor-micro moments are exact, but a genuinely
    # constant column can yield a tiny negative s2/n − mean² (and DuckDB's
    # sqrt hard-errors on negatives where Spark would emit NaN)
    var = F.greatest(
        F.col("s2") / F.col("n") / F.lit(1000000.0) - mean * mean,
        F.lit(0.0),
    )
    # round6_stable, not F.round: the integer-micro mean s1/n lands on
    # manufactured .xxxxxx5 half-boundaries (n even) where the engines'
    # ROUND conventions flip the 6th decimal (the vector_stats class,
    # fuzz gate seed 102004)
    enriched = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        round6_stable(F.col("value")).alias("value"),
        mean.alias("mean"),
        F.sqrt(var).alias("std"),
    )
    # nullif guard: std = 0 (constant stratum) must select nothing in BOTH
    # engines — unguarded, Spark's x/0.0 → Inf/NaN (and NaN > 3.0 is TRUE)
    # while DuckDB's x/0 → NULL, a silent cross-engine divergence
    z = (F.col("value") - F.col("mean")) / F.nullif(
        F.col("std"), F.lit(0.0)
    )
    return (
        enriched.where(F.abs(z) > Z_THRESHOLD)
        .select(
            "event_id",
            "event_type",
            "value",
            round6_stable(F.col("mean")).alias("mean"),
            round6_stable(F.col("std")).alias("std"),
        )
    )


def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigrams across per-user journeys (the path-mining
    shape): assemble each user's type sequence in event_id order, slide a
    window of 3, count globally, keep the deterministic top-K."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.struct("event_id", "event_type").alias("e")
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("arr")
    )
    types = F.transform(F.col("arr"), lambda x: x.event_type)
    # F.concat, not concat_ws: concat_ws SKIPS NULL elements, so a window
    # containing a NULL event_type silently rendered as a bigram-looking
    # string while the oracle's || nullified it (r10 hostile edge). With
    # NULL-propagating concat both engines agree the trigram is NULL, and
    # both exclude it: a window over an unknown type is no path evidence.
    tri = F.transform(
        F.sequence(F.lit(0), F.size("arr") - 3),
        lambda i: F.concat(
            F.get(types, i),
            F.lit(">"),
            F.get(types, i + 1),
            F.lit(">"),
            F.get(types, i + 2),
        ),
    )
    return (
        seqs.where(F.size("arr") >= 3)
        .select(F.explode(tri).alias("trigram"))
        .where(F.col("trigram").isNotNull())
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(TRIGRAM_TOP)
    )


MAD_Z = 3.5  # Iglewicz–Hoaglin modified-z cutoff
MAD_C = 0.6745  # Φ⁻¹(0.75): scales MAD to σ-equivalents


def q_events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outliers per event type — the heavy-tail-safe
    complement to the z-score operator (a few extreme values inflate the
    mean and stddev; the median and MAD don't move). modified z =
    0.6745·(x − median)/MAD, cutoff 3.5 (Iglewicz–Hoaglin).

    Two grouped exact interpolated medians (value, then |value − median|),
    each folding to ≤ |event_type| rows that broadcast back over the scan —
    same no-wide-shuffle posture as the z-score pass, one extra pass for
    the second median."""
    ev = load_table(spark, sf_dir, "events").withColumn("value", finite_or_null("value")).select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
            "mad"
        )
    )
    z = (
        F.lit(MAD_C)
        * (F.col("value") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .where(F.abs(z) > MAD_Z)
        .select(
            "event_id",
            "event_type",
            round6_stable(F.col("value")).alias("value"),
            round6_stable(F.col("med")).alias("med"),
            round6_stable(F.col("mad")).alias("mad"),
        )
    )


def q_analytics_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders: recency (days since last
    order, anchored to the corpus max date), frequency (order count),
    monetary (exact decimal spend), each scored 1–5 against quintile
    boundaries, plus a rule-based segment label.

    Scale shape: one orders scan → one custkey groupBy; the date anchor
    and the 12 quintile boundaries are 1-row aggregates broadcast back, so
    scoring is scan-side CASE arithmetic — deliberately NOT ntile() (a
    global ntile is a single-partition window; boundary-threshold scoring
    is the distributed formulation). Boundaries are round6_stable'd before
    comparison so a value landing exactly on an interpolated boundary
    cannot flip on a cross-engine last-ulp difference."""
    from clusterindices_spark.functions.aggregates import round6_stable

    o = load_table(spark, sf_dir, "orders").withColumn("o_totalprice", finite_or_null("o_totalprice"))
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    cust = cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        # explicit to_date on both sides: o_orderdate is TIMESTAMP and
        # engines disagree on whether a raw timestamp diff counts day
        # boundaries or 24h periods
        F.datediff(F.to_date("anchor"), F.to_date("last_order")).alias(
            "recency_days"
        ),
        "frequency",
        F.round("monetary", 6).alias("monetary"),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    bounds = cust.agg(
        *[
            round6_stable(
                F.percentile(c, F.lit(p))
            ).alias(f"{c[:1]}q{int(p*10)}")
            for c in ("recency_days", "frequency", "monetary")
            for p in qs
        ]
    )

    def score(col, prefix, invert):
        s = F.lit(1)
        for p in qs:
            s = s + (F.col(col) > F.col(f"{prefix}q{int(p*10)}")).cast("int")
        return (F.lit(6) - s) if invert else s

    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "r", invert=True).alias("r_score"),
        score("frequency", "f", invert=False).alias("f_score"),
        score("monetary", "m", invert=False).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


def q_events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types along each
    user's journey: P(next = t | current = s) with counts. Ordering keys on
    event_id (generator emits in ts order — ts itself would couple the
    oracle to the ns/µs parquet mismatch, as events_path_trigrams notes).

    One user_id shuffle for the lag window, then a |types|²-key count —
    the transition matrix is always broadcast-scale regardless of corpus
    size."""
    from pyspark.sql import Window

    from clusterindices_spark.functions.aggregates import round6_stable

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        round6_stable(
            F.col("n") / F.sum("n").over(wf).cast("double")
        ).alias("p"),
    )


def q_events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state and chain-level journey predictability from the Markov
    transition structure: each source state's conditional entropy
    H(next | s) = −Σ_t p(t|s)·log₂ p(t|s) in bits, its share π(s) of all
    transitions, and the chain's ENTROPY RATE Σ_s π(s)·H(next|s) attached
    to every row — the single number that says how predictable user
    journeys are (0 = deterministic flows, log₂|types| = uniform noise).

    Determinism: each term p·log₂(1/p) floors to BIGINT micros before the
    per-state sum (the source-lang-mix entropy device), and the rate is a
    π-weighted sum of those exact micro entropies — the weighting uses
    integer transition counts, so the only floats are the final /1e6
    renderings plus one division per term.
    BOUND (int64, pinned r9): the π-weighting multiplies per-state
    transition counts by micro-entropies ≤ log₂|types|·1e6 (≈5e6 at 32
    types), exact while total transitions × 5e6 < 2⁶³ ⇒ ~1.8e12
    transitions; past it Spark ANSI-errors LOUDLY.

    Scale: reuses the transition-count shape — one user_id lag window +
    a |types|²-key agg; everything after is broadcast-scale."""
    from pyspark.sql import Window

    from clusterindices_spark.functions.aggregates import round6_stable

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    p = F.col("n") / F.sum("n").over(wf).cast("double")
    term_micros = F.floor(
        p * (F.log(F.lit(1.0) / p) / F.log(F.lit(2.0))) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    per_state = (
        counts.withColumn("tm", term_micros)
        .groupBy("from_type")
        .agg(
            F.sum("n").alias("n_out"),
            F.sum("tm").alias("h_micros"),
        )
    )
    tot = per_state.agg(
        F.sum("n_out").alias("n_total"),
        F.sum(F.col("n_out") * F.col("h_micros")).alias("rate_num"),
    )
    return per_state.crossJoin(F.broadcast(tot)).select(
        "from_type",
        "n_out",
        round6_stable(F.col("n_out") / F.col("n_total")).alias("pi"),
        (F.col("h_micros") / F.lit(1e6)).alias("h_bits"),
        round6_stable(
            F.col("rate_num") / F.col("n_total") / F.lit(1e6)
        ).alias("entropy_rate_bits"),
    )


BASKET_MIN_PAIR = 3  # support floor: pairs co-ordered fewer times are noise


def q_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining over lineitem: for every pair of
    parts ordered together, support count and lift
    (P(a,b) / (P(a)·P(b))), support floor BASKET_MIN_PAIR.

    Scale shape — the co-occurrence self-join is the same skew bomb as the
    shingle join (a basket with d items contributes C(d,2) pairs), bounded
    here by the natural basket size (TPC-H orders carry ≤ 7 lines; retail
    baskets ~10²). The join shuffles by orderkey — per-key fan-out is
    C(basket,2), NOT corpus-scale; pair counts then shuffle by (a,b) with
    map-side combine. Per-part marginals attach to the aggregated PAIR
    table (the dedup-pipeline lesson — never widen the self-join input
    with data a later broadcast can supply). For web-scale baskets add a
    per-basket item cap or frequency-prune items first (the stop-shingle
    pattern, MAX_SHINGLE_DF)."""
    from clusterindices_spark.functions.aggregates import round6_stable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()  # multiplicity within an order is not co-occurrence
    tot = li.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )  # 1-row broadcast, keeps the query fully lazy
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= BASKET_MIN_PAIR)
    )
    marg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    ma = marg.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    mb = marg.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    lift = round6_stable(
        (F.col("n_both") / F.col("n_orders"))
        / F.nullif(
            (F.col("n_a") / F.col("n_orders"))
            * (F.col("n_b") / F.col("n_orders")),
            F.lit(0.0),
        )
    )
    return (
        pairs.join(F.broadcast(ma), "part_a")
        .join(F.broadcast(mb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "n_both", "n_a", "n_b", lift.alias("lift"))
    )


def q_events_outliers_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline outliers: z-score against the (event_type,
    hour-of-day) stratum instead of the global per-type moments — a value
    normal at the daily peak can be anomalous at 3am and vice versa; the
    flat baseline (q_events_outliers) cannot see that. Same exact
    integer-micro moment machinery, one more group key.

    Scale: 24× the stats rows, still broadcastable; hour extraction is
    scan-side and safe at any timestamp grain (ns↔µs truncation never
    moves an hour)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    ).select(
        "event_id",
        "event_type",
        F.hour("ts").alias("hh"),
        "value",
    )
    stats = ev.groupBy("event_type", "hh").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_micros(F.col("value"))).alias("s1"),
        F.sum(_micros(F.col("value") * F.col("value"))).alias("s2"),
    )
    mean = F.col("s1") / F.col("n") / F.lit(1000000.0)
    var = F.greatest(
        F.col("s2") / F.col("n") / F.lit(1000000.0) - mean * mean,
        F.lit(0.0),
    )
    enriched = ev.join(F.broadcast(stats), ["event_type", "hh"]).select(
        "event_id",
        "event_type",
        F.col("hh").cast("int").alias("hh"),
        round6_stable(F.col("value")).alias("value"),
        round6_stable(mean).alias("mean"),
        round6_stable(F.sqrt(var)).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0))
    return enriched.where(F.abs(z) > Z_THRESHOLD)


def q_events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: Jaccard of the two
    user sets for every unordered type pair — the segment-overlap matrix
    behind funnel design and dataset-mixture diagnostics (how much does
    the 'click' audience share with 'purchase'?).

    Scale: ONE shuffle of the distinct (type, user) pairs by user_id; the
    self-join meets per user (fan-out = types-per-user², bounded by the
    type vocabulary, not the corpus), and the pair agg groups on ≤ T²
    keys. Per-type audience sizes are T rows — broadcast back onto the
    pair table. No O(n²) anywhere."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    tu = e.select("event_type", "user_id").where(
        F.col("user_id").isNotNull()
    ).distinct()
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"),
                                     F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"),
                                     F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            round6_stable(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


KM_CENSOR_HOURS = 6  # users active in the final window are censored, not dead


def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user lifetimes — the retention
    analysis done right: a user whose last activity falls inside the
    final KM_CENSOR_HOURS of the corpus is CENSORED (still alive,
    lifetime only bounded below), not counted as churned — the naive
    churn-rate readout that ignores censoring biases retention low, which
    is exactly what KM corrects. Lifetime = last hour − first hour (hour
    grain: this corpus's users span most of the year, so a day-grain
    curve would be 3 degenerate points); at each distinct
    time t: d deaths, c censorings, n at-risk = everyone with time ≥ t;
    S(t) = Π_{t_j ≤ t} (1 − d_j/n_j).

    Determinism: d, c, n are exact integers (at-risk via a prefix-sum
    window, not a per-row scan); each factor's ln(1 − d/n) floors to
    BIGINT micros before the ordered cumulative sum, so log_surv is
    exactly reproducible; surv re-exponentiates under the same
    floor-micro contract (a last-ulp exp disagreement only flips the 6dp
    rendering when the scaled value sits within ~1e-9 of an integer —
    the module-wide ln/exp policy).

    Scale: one user agg (corpus → U rows), one T-row time agg, two
    ordered windows over the T-row curve (T = distinct lifetimes, day
    grain — thousands at any corpus size). Nothing data-scale passes a
    window."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    users = e.groupBy("user_id").agg(
        F.min(hour).alias("first_h"), F.max(hour).alias("last_h")
    )
    max_h = users.agg(F.max("last_h").alias("max_h"))
    u = users.crossJoin(F.broadcast(max_h)).select(
        (F.col("last_h") - F.col("first_h")).alias("t"),
        (
            F.col("last_h") > F.col("max_h") - KM_CENSOR_HOURS
        ).alias("censored"),
    )
    per_t = u.groupBy("t").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0)).cast("bigint").alias("c"),
    )
    w_prev = (
        Window.orderBy(F.asc_nulls_last("t"))  # NULLS LAST parity (r9):
        # an all-NULL-ts user has NULL lifetime; DuckDB sorts it last
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total = u.agg(F.count(F.lit(1)).alias("n_users"))
    at_risk = per_t.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk",
        F.col("n_users")
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(w_prev),
            F.lit(0).cast("bigint"),
        ),
    )
    # greatest(·, 1e-300) guards the final-cohort-all-dies row (factor 0 →
    # ln(−inf) would overflow the ANSI bigint cast); everywhere else the
    # clamp is a no-op, and both engines apply the identical formula
    term_micros = F.floor(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d") / F.col("n_at_risk"), F.lit(1e-300)
            )
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    w_cum = Window.orderBy(F.asc_nulls_last("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = at_risk.withColumn(
        "ls_micros", F.sum(term_micros).over(w_cum)
    )
    return curve.select(
        F.col("t").alias("t_hours"),
        F.col("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        (F.col("ls_micros") / F.lit(1e6)).alias("log_surv"),
        round6_stable(
            F.exp(F.col("ls_micros") / F.lit(1e6))
        ).alias("surv"),
    )


BOOT_B = 40  # bootstrap replicates
BOOT_LO_IDX = 1  # 0-based order statistics over B sorted replicate means:
BOOT_HI_IDX = 38  # (2nd, 39th) of 40 ≈ a 2.5%/97.5% percentile interval
# Poisson(1) CDF thresholds scaled to the hash modulus (floor(cdf·1000003)):
# a uniform hash u ∈ [0, 1000003) maps to weight = #thresholds ≤ u, giving
# each row an independent Poisson(1) multiplicity per replicate.
BOOT_POISSON_CUM = (
    367880, 735761, 919701, 981014, 996343, 999408, 999919, 999992,
)
BOOT_HASH_A = 2654435761  # Knuth multiplicative constants — pure-arithmetic
BOOT_HASH_B = 97003  # hash so the formula appears verbatim in the oracle
BOOT_MOD = 1000003


def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for each event type's mean
    value — THE resampling scheme that scales (Chamandy et al. 2012,
    'Estimating Uncertainty for Massive Data Streams'): instead of
    materializing B resampled datasets, every row contributes a
    Poisson(1) multiplicity to each replicate, derived here from a
    pure-arithmetic Knuth hash of (event_id, replicate) so BOTH engines
    compute the identical pseudo-random weights. The CI is the
    (2nd, 39th) order statistic of the 40 sorted replicate means —
    order statistics, not interpolated percentiles, so no quantile-
    convention drift between engines.

    Determinism: weights are exact integers from the hash; weighted value
    sums are integer micros; each replicate mean is one division; means
    are round6-floored BEFORE sorting so the order-statistic pick cannot
    straddle an ulp.

    Scale: the B-way explode feeds DIRECTLY into a map-side-combined
    (type, rep) agg — shuffle volume is K·B rows, not corpus·B; the
    per-type sort is over B=40 values. At 100 TB this is the textbook
    one-pass uncertainty estimate."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    micros = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(BOOT_B - 1))
    ).alias("rep")
    # quantize BEFORE the B-way explode — the floor runs once per input
    # row, not once per (row, replicate)
    ex = e.select("event_id", "event_type", micros.alias("vm")).select(
        "event_id", "event_type", "vm", rep
    )
    # reduce event_id mod BOOT_MOD BEFORE the Knuth multiply: identical by
    # modular arithmetic, but the intermediate stays ≤ (BOOT_MOD−1)·HASH_A
    # ≈ 2.7e15 < 2^63, so the hash cannot overflow BIGINT for ANY event_id
    # (the raw id·HASH_A product would overflow past id ≈ 3.5e9 — ANSI
    # error in Spark, silent int64 wrap in the numpy streaming twin)
    u = (
        (F.col("event_id") % F.lit(BOOT_MOD)) * F.lit(BOOT_HASH_A)
        + F.col("rep") * F.lit(BOOT_HASH_B)
    ) % F.lit(BOOT_MOD)
    w = sum(
        (u >= F.lit(t)).cast("bigint") for t in BOOT_POISSON_CUM
    )
    per_rep = ex.select(
        "event_type", "rep", w.alias("w"), (w * F.col("vm")).alias("wv")
    ).groupBy("event_type", "rep").agg(
        F.sum("w").alias("wn"), F.sum("wv").alias("ws")
    )
    # wn=0 (a replicate in which every row drew Poisson weight 0 — needs
    # ~e^{-n} luck, but pin it anyway): the empty replicate's mean is
    # DEFINED as 0.0 on all three sides (here, the DuckDB oracle, and the
    # streaming twin's s/max(c,1)), so collect_list keeps all B elements
    # and the order-statistic indices never shift
    rep_mean = per_rep.select(
        "event_type",
        F.coalesce(
            round6_stable(
                F.col("ws") / F.nullif(F.col("wn"), F.lit(0)) / F.lit(1e6)
            ),
            F.lit(0.0),
        ).alias("m"),
    )
    boots = rep_mean.groupBy("event_type").agg(
        F.sort_array(F.collect_list("m")).alias("ms")
    )
    actual = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(micros).alias("s1")
    )
    return actual.join(boots, "event_type").select(
        "event_type",
        "n",
        round6_stable(F.col("s1") / F.col("n") / F.lit(1e6)).alias(
            "mean_value"
        ),
        F.get("ms", BOOT_LO_IDX).alias("ci_lo"),
        F.get("ms", BOOT_HI_IDX).alias("ci_hi"),
    )


TTEST_CRIT = 1.96  # |t| threshold reported as significant


def q_events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between every pair of event types'
    value distributions — the experimentation readout (treatment vs
    control metric shift) plus the Welch–Satterthwaite degrees of
    freedom. Moments come from exact integer sums (micro values, milli²
    squares — the anomaly-stream device), so the only floats are the
    final t/df arithmetic: the same double-op sequence in both engines,
    then round6.

    Scale: ONE map-side-combined agg over the corpus to K per-type moment
    rows, then a K²-row broadcast self-join — the corpus is touched once
    regardless of how many pairs are tested."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    micros = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    millis = F.floor(F.col("value") * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros).alias("s1"),
        F.sum(millis * millis).alias("s2m"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2m").alias("s2a"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2m").alias("s2b"),
    )
    p = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    mean_a = F.col("s1a") / F.col("na") / F.lit(1e6)
    mean_b = F.col("s1b") / F.col("nb") / F.lit(1e6)
    # unbiased sample variance from the integer moments: (s2/1e6 − n·m²)/(n−1)
    # nullif on every n−1 and on the zero SE: a singleton arm (n=1) or a
    # zero-variance pair divides by zero — ANSI Spark errors while
    # DuckDB's x/0 is NULL, cascading to NULL t and welch_df→0 via the
    # shared COALESCE (fuzz gate seed 101006, max-skew event types)
    dof_a = F.nullif(F.col("na") - 1, F.lit(0))
    dof_b = F.nullif(F.col("nb") - 1, F.lit(0))
    var_a = (
        F.col("s2a") / F.lit(1e6) - F.col("na") * mean_a * mean_a
    ) / dof_a
    var_b = (
        F.col("s2b") / F.lit(1e6) - F.col("nb") * mean_b * mean_b
    ) / dof_b
    se2_a = var_a / F.col("na")
    se2_b = var_b / F.col("nb")
    t = (mean_a - mean_b) / F.nullif(
        F.sqrt(se2_a + se2_b), F.lit(0.0)
    )
    df = ((se2_a + se2_b) * (se2_a + se2_b)) / F.nullif(
        se2_a * se2_a / dof_a + se2_b * se2_b / dof_b,
        F.lit(0.0),
    )
    return p.select(
        "type_a",
        "type_b",
        "na",
        "nb",
        round6_stable(mean_a - mean_b).alias("mean_diff"),
        round6_stable(t).alias("t_stat"),
        round6_stable(F.coalesce(df, F.lit(0.0))).alias("welch_df"),
        (F.abs(t) > TTEST_CRIT).alias("is_significant"),
    )


DID_SPLIT_MS = 1_705_363_200_000  # 2024-01-16 UTC: pre/post boundary
# (the events fixture spans 2024-01-01..01-30 at every SF)
Z_ALPHA = 1.959964  # two-sided 5%
Z_BETA = 0.841621  # 80% power
MDE_REL_TARGET = 0.05  # size the n_required column for a 5% lift


def q_events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the quasi-experimental
    readout when treatment wasn't randomized at event level: treated =
    even user_id (deterministic), post = ts ≥ 2024-01-16 (DID_SPLIT_MS —
    the events fixture spans only 2024-01-01..01-30), outcome =
    event value. DiD = (T̄post − T̄pre) − (C̄post − C̄pre) with the
    large-sample SE √(Σ s²ᵍ/nᵍ) over the four cells. All four cells'
    moments come from ONE conditional-aggregation pass (exact integer
    micro/milli² sums, the ab_ttest device) — the corpus is scanned once,
    the output is one row, and the only exchange moves four partial
    moment tuples (the q6 shape)."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    ).where(
        F.col("user_id").isNotNull()
    )
    micros = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    millis = F.floor(F.col("value") * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    treated = F.col("user_id") % 2 == 0
    post = F.unix_millis("ts") >= DID_SPLIT_MS

    def cell(name, cond):
        z = F.lit(0).cast("bigint")
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{name}"),
            F.sum(F.when(cond, micros).otherwise(z)).alias(f"s1_{name}"),
            F.sum(F.when(cond, millis * millis).otherwise(z)).alias(
                f"s2_{name}"
            ),
        ]

    agg = e.agg(
        *cell("tpre", treated & ~post),
        *cell("tpost", treated & post),
        *cell("cpre", ~treated & ~post),
        *cell("cpost", ~treated & post),
    )

    # nullif on every cell count, n−1, and the zero SE: an empty or
    # singleton DiD cell (max-skew fixture: one user owns the corpus)
    # divides by zero — ANSI Spark errors while DuckDB's x/0 is NULL,
    # cascading NULL estimates exactly like the oracle (fuzz gate
    # seed 101007)
    def mean(g):
        return (
            F.col(f"s1_{g}")
            / F.nullif(F.col(f"n_{g}"), F.lit(0))
            / F.lit(1e6)
        )

    def var(g):
        m = mean(g)
        return (
            F.col(f"s2_{g}") / F.lit(1e6) - F.col(f"n_{g}") * m * m
        ) / F.nullif(F.col(f"n_{g}") - 1, F.lit(0))

    did = (mean("tpost") - mean("tpre")) - (mean("cpost") - mean("cpre"))
    se = F.sqrt(
        var("tpre") / F.nullif(F.col("n_tpre"), F.lit(0))
        + var("tpost") / F.nullif(F.col("n_tpost"), F.lit(0))
        + var("cpre") / F.nullif(F.col("n_cpre"), F.lit(0))
        + var("cpost") / F.nullif(F.col("n_cpost"), F.lit(0))
    )
    t = did / F.nullif(se, F.lit(0.0))
    return agg.select(
        "n_tpre",
        "n_tpost",
        "n_cpre",
        "n_cpost",
        round6_stable(mean("tpost") - mean("tpre")).alias("delta_treated"),
        round6_stable(mean("cpost") - mean("cpre")).alias("delta_control"),
        round6_stable(did).alias("did_estimate"),
        round6_stable(se).alias("se"),
        round6_stable(t).alias("t_stat"),
        (F.abs(t) > F.lit(Z_ALPHA)).alias("is_significant"),
    )


def q_events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing per event type — the question asked BEFORE the
    A/B test ab_ttest reads out: with the observed traffic split into two
    arms (n_arm = n/2), the minimum detectable effect at α=5%/80% power
    is (z_α+z_β)·σ·√(2/n_arm), and detecting a 5% relative lift needs
    n_required = 2σ²(z_α+z_β)²/(0.05·μ)² per arm. Moments from the same
    one-pass exact integer sums as ab_ttest; one K-row output."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    )
    micros = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    millis = F.floor(F.col("value") * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros).alias("s1"),
        F.sum(millis * millis).alias("s2m"),
    )
    # nullif guards (r10 hostile edge — a singleton group, e.g. the one
    # NULL-type event, has n=1 so n-1 and n_arm are both 0): ANSI Spark
    # errors on /0 while DuckDB yields NULL — NULL sizing stats for a
    # group too small to size is the shared semantic
    mean = F.col("s1") / F.col("n") / F.lit(1e6)
    var = (F.col("s2m") / F.lit(1e6) - F.col("n") * mean * mean) / F.nullif(
        (F.col("n") - 1).cast("double"), F.lit(0.0)
    )
    sd = F.sqrt(var)
    n_arm = F.floor(F.col("n") / F.lit(2)).cast("bigint")
    zsum = F.lit(Z_ALPHA + Z_BETA)
    mde_abs = zsum * sd * F.sqrt(
        F.lit(2.0) / F.nullif(n_arm.cast("double"), F.lit(0.0))
    )
    n_req = F.ceil(
        F.lit(2.0) * var * zsum * zsum
        / F.nullif(
            F.lit(MDE_REL_TARGET) * mean * (F.lit(MDE_REL_TARGET) * mean),
            F.lit(0.0),
        )
    ).cast("bigint")
    return m.select(
        "event_type",
        "n",
        n_arm.alias("n_arm"),
        round6_stable(mean).alias("mean"),
        round6_stable(sd).alias("sd"),
        round6_stable(mde_abs).alias("mde_abs"),
        round6_stable(
            mde_abs / F.nullif(mean, F.lit(0.0))
        ).alias("mde_rel"),
        n_req.alias("n_required_per_arm"),
    )


def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the standard trick
    that makes A/B tests read out faster: each user's PRE-period activity
    (value sum before the Jan-16 split) is the covariate for their POST
    metric; θ = cov(pre, post)/var(pre), and the adjusted metric's
    variance shrinks by ρ² — reported as the variance-reduction share a
    deployment would bank.

    Exactness: per-user pre/post sums are exact integer MILLIS (micros
    would overflow BIGINT in the cross-products at corpus scale — the
    milli² device), all five user-level moments (Σx Σy Σxy Σxx Σyy) are
    exact BIGINTs, and the θ/ρ arithmetic is the same double-op sequence
    both engines run, then round6. ASSUMED BOUND (the ab_ttest device,
    TIGHTENED r9 — the r8 form bounded each product but the moment sums
    ADD across users, which the boundary test caught): the aggregate
    Σ_u x², Σ_u x·y must stay < 2⁶³, so each user's per-period milli sum
    |x|,|y| must stay ≤ ~3.0e9/√n_users (with the fixture's ≤ ~1e6-milli
    users the headroom is ≥ 9 billion users); past it Spark ANSI-errors
    LOUDLY while DuckDB promotes to HUGEINT and the engines diverge —
    clamp or re-quantize per-user sums before the moment products if a
    corpus can breach it (ADVICE r7; two-sided boundary test
    tests/test_int64_bounds.py).

    Scale: one user-keyed conditional agg (map-side combined), then a
    scalar moment agg whose exchange moves five partial tuples (q6
    shape). The corpus is scanned once."""
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events").withColumn(
        # non-finite measures are missing data (fuzz wave-3 policy;
        # oracle twin applies the identical * REPLACE finite filter)
        "value", finite_or_null("value")
    ).where(
        F.col("user_id").isNotNull()
    )
    mm = F.floor(F.col("value") * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    post = F.unix_millis("ts") >= DID_SPLIT_MS
    z = F.lit(0).cast("bigint")
    pu = e.groupBy("user_id").agg(
        F.sum(F.when(~post, mm).otherwise(z)).alias("x"),
        F.sum(F.when(post, mm).otherwise(z)).alias("y"),
    )
    mom = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    var_x = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    # nullif: a constant pre- or post-period metric (one user, or max-skew
    # all-post traffic) makes the variance 0 — ANSI Spark errors on the
    # 0/0 while DuckDB's x/0 is NULL (the ab_ttest singleton class)
    theta = cov / F.nullif(var_x, F.lit(0.0))
    rho2 = (cov * cov) / F.nullif(var_x * var_y, F.lit(0.0))
    return mom.select(
        F.col("n").alias("n_users"),
        round6_stable(F.col("sy") / n / F.lit(1e3)).alias("mean_post"),
        round6_stable(theta).alias("theta"),
        round6_stable(rho2).alias("rho2"),
        round6_stable(var_y / F.lit(1e6)).alias("var_post"),
        round6_stable(var_y * (F.lit(1.0) - rho2) / F.lit(1e6)).alias(
            "var_adjusted"
        ),
        round6_stable(rho2 * F.lit(100.0)).alias("var_reduction_pct"),
    )


CUSUM_ALLOWANCE_DIV = 4  # allowance k = mean/4 (micros, integer-derived)
CUSUM_H_MULT = 3  # alarm threshold h = 3·mean


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection over each event type's hourly count
    series — the classic sequential change-point chart (Page 1954): the
    positive side accumulates max(0, s + x − μ − k), flagging sustained
    upward drift long before any single hour trips a z-score gate, and the
    negative side catches traffic collapse the same way.

    The recursion s_t = max(0, s_{t−1} + dev_t) is NOT a plain running sum,
    but it has the prefix-min closed form s_t = c_t − min(0, min_{j≤t} c_j)
    with c_t = Σ dev — so both engines express it with two stock window
    functions (running SUM + running MIN) and stay fully parallel per
    event type. All deviations are exact BIGINT micros: μ is floor-scaled
    once per type (floor(total·1e6 / D), double-exact far past this scale),
    allowance k = μ/4 and threshold h = 3μ derive from it in integer space, so
    the only floats are the final /1e6 renderings (exact: micros < 2^53).

    Missing hours are skipped, not zero-filled (the autocorr/forecast keys'
    documented convention for this corpus's dense hourly grid).

    Scale: one hourly agg (map-side combined), a T-row per-type mean attach
    via broadcast, and two ordered windows PARTITIONED BY event_type —
    no single-partition window, no joins beyond the K-row attach. At 100 TB
    the per-type hourly series (years × 8 760 rows) fits one task trivially.
    """
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    h = e.groupBy("event_type", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = h.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("d_hours")
    )
    mean_micros = F.floor(
        F.col("total") * F.lit(1_000_000.0) / F.col("d_hours")
    ).cast("bigint")
    k_micros = F.floor(F.col("mean_micros") / F.lit(CUSUM_ALLOWANCE_DIV)).cast(
        "bigint"
    )
    with_mu = h.join(
        F.broadcast(stats.select("event_type", mean_micros.alias("mean_micros"))),
        "event_type",
    ).withColumn("k_micros", k_micros)
    dev_pos = (
        F.col("n") * F.lit(1_000_000) - F.col("mean_micros") - F.col("k_micros")
    )
    dev_neg = (
        F.col("mean_micros") - F.col("n") * F.lit(1_000_000) - F.col("k_micros")
    )
    # asc_nulls_last: a NULL-ts event forms a NULL hour bucket; NULLS
    # FIRST would prepend its deviation to EVERY prefix sum, shifting the
    # whole CUSUM chart vs DuckDB's NULLS LAST (r10 hostile edge)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = with_mu.withColumn("cp", F.sum(dev_pos).over(w)).withColumn(
        "cn", F.sum(dev_neg).over(w)
    )
    s_pos = F.col("cp") - F.least(F.lit(0).cast("bigint"), F.min("cp").over(w))
    s_neg = F.col("cn") - F.least(F.lit(0).cast("bigint"), F.min("cn").over(w))
    return c.select(
        "event_type",
        "hour",
        "n",
        round6_stable(s_pos / F.lit(1_000_000.0)).alias("s_pos"),
        round6_stable(s_neg / F.lit(1_000_000.0)).alias("s_neg"),
        (
            (s_pos > CUSUM_H_MULT * F.col("mean_micros"))
            | (s_neg > CUSUM_H_MULT * F.col("mean_micros"))
        ).alias("is_alarm"),
    )


def q_events_changepoint_loc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point location per event type — the first step of
    binary segmentation: over the hourly count series, the split hour
    t* = argmax_t |C_t·T − t·S| (C = prefix sum, S = total, T = #hours),
    i.e. the maximum absolute CUSUM deviation from the global mean, with
    the division multiplied away so the statistic is EXACT BIGINT (no
    float drift in the argmax). Ties break to the earliest hour via
    max(struct(stat, −hour)) — the registry's modal-argmax convention.
    BOUND (int64, pinned r9): |C_t·T − t·S| ≤ S·T, so the exact-argmax
    contract holds while per-type total events × #hours < 2⁶³ (a year is
    8784 hours ⇒ totals up to ~1.0e15 events/type); past it Spark
    ANSI-errors LOUDLY (tests/test_int64_bounds.py).
    The last hour is excluded (a proper split needs a non-empty right
    side). Pre/post means are the only floats, rendered round6 at the end.

    Scale: one map-side-combined hourly agg, then two window passes and
    one argmax agg all PARTITIONED BY event_type over ≤ years×8760 rows
    per type — the events_cusum posture; nothing corpus-scale crosses an
    exchange after the first agg.
    """
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_millis(F.col("ts")) / F.lit(3_600_000)).cast(
        "bigint"
    )
    h = e.groupBy("event_type", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("hour"))  # NULLS LAST parity (r9)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("hour")
    )
    c = h.select(
        "event_type",
        "hour",
        F.sum("n").over(w_run).alias("ct"),
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum("n").over(w_all).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("tt"),
    ).where(F.col("t") < F.col("tt"))
    stat = F.abs(F.col("ct") * F.col("tt") - F.col("t") * F.col("s"))
    best = (
        c.select(
            "event_type",
            F.struct(
                stat.alias("stat"),
                (-F.col("hour")).alias("neg_hour"),
                F.col("hour").alias("hour"),
                F.col("t").alias("t"),
                F.col("ct").alias("ct"),
                F.col("s").alias("s"),
                F.col("tt").alias("tt"),
            ).alias("cand"),
        )
        .groupBy("event_type")
        .agg(F.max("cand").alias("b"))
    )
    return best.select(
        "event_type",
        F.col("b.hour").alias("change_hour"),
        F.col("b.t").alias("t_index"),
        F.col("b.tt").alias("n_hours"),
        F.col("b.stat").alias("stat"),
        round6_stable(F.col("b.ct") / F.col("b.t")).alias("pre_mean"),
        round6_stable(
            (F.col("b.s") - F.col("b.ct")) / (F.col("b.tt") - F.col("b.t"))
        ).alias("post_mean"),
        round6_stable(
            (F.col("b.s") - F.col("b.ct")) / (F.col("b.tt") - F.col("b.t"))
            - F.col("b.ct") / F.col("b.t")
        ).alias("mean_shift"),
    )


IAT_BIN_MS = 60_000  # 1-minute interarrival histogram bins
KS_CRIT_COEF = 1.358  # 5% two-sided Kolmogorov-Smirnov coefficient


def q_events_interarrival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does each event type's per-user interarrival process look
    exponential? Fits λ by MLE (1/mean over per-user successive gaps) and
    computes a BINNED Kolmogorov–Smirnov statistic: gaps histogrammed into
    1-minute bins, empirical CDF at each bin's upper edge vs the fitted
    1−exp(−edge/mean), D = max |diff|. Binning is what makes this scale —
    the exact KS needs a global per-type sort of corpus-scale gaps, while
    the binned variant folds map-side into ≤ #bins rows and bounds the
    error by the bin width; the oracle gates the SAME binned statistic
    (algorithm ≡ definition at the chosen grain).

    Determinism: gaps are integer ms (lag over (ts, event_id)); the mean
    is floor-scaled to integer micros once per type; only the final
    exp/CDF renderings are floats, each round6-floored before the max so
    the argmax compares identical 6-dp values in both engines.

    Scale: one (type,user)-keyed lag window (partitions are single-user
    event lists), a per-type stats agg and a per-(type,bin) histogram agg
    (both map-side combined, tiny outputs), a K-row broadcast join, and a
    final window over ≤ #bins rows per type.
    """
    from clusterindices_spark.functions.aggregates import round6_stable

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    ms = F.unix_millis("ts")
    gap = (ms - F.lag(ms).over(w)).alias("gap_ms")
    gaps = e.select("event_type", gap).where(F.col("gap_ms").isNotNull())
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_ms").alias("sum_gap_ms"),
    )
    mean_micros = F.floor(
        F.col("sum_gap_ms") * F.lit(1_000_000.0) / F.col("n_gaps")
    ).cast("bigint")
    hist = gaps.groupBy(
        "event_type",
        F.floor(F.col("gap_ms") / F.lit(IAT_BIN_MS)).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    j = hist.join(
        F.broadcast(
            stats.select(
                "event_type", "n_gaps", mean_micros.alias("mean_micros")
            )
        ),
        "event_type",
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge_ms = (F.col("bin") + F.lit(1)) * F.lit(IAT_BIN_MS)
    cdf_emp = F.sum("cnt").over(w_cum) / F.col("n_gaps")
    cdf_exp = F.lit(1.0) - F.exp(
        -edge_ms * F.lit(1_000_000.0) / F.col("mean_micros")
    )
    d = round6_stable(F.abs(cdf_emp - cdf_exp))
    per_type = (
        j.select("event_type", "n_gaps", "mean_micros", d.alias("d"))
        .groupBy("event_type")
        .agg(
            F.max("n_gaps").alias("n_gaps"),
            F.max("mean_micros").alias("mean_micros"),
            F.max("d").alias("ks_d"),
        )
    )
    crit = round6_stable(
        F.lit(KS_CRIT_COEF) / F.sqrt(F.col("n_gaps").cast("double"))
    )
    return per_type.select(
        "event_type",
        "n_gaps",
        round6_stable(
            F.col("mean_micros") / F.lit(1_000_000.0) / F.lit(1000.0)
        ).alias("mean_gap_s"),
        F.col("ks_d"),
        crit.alias("ks_crit"),
        (F.col("ks_d") < crit).alias("fits_exponential"),
    )


QUERIES = {
    "events_changepoint_loc": q_events_changepoint_loc,
    "events_interarrival_fit": q_events_interarrival_fit,
    "events_attribution_linear": q_events_attribution_linear,
    "events_pattern_match": q_events_pattern_match,
    "events_gini_activity": q_events_gini_activity,
    "events_diff_in_diff": q_events_diff_in_diff,
    "events_power_mde": q_events_power_mde,
    "events_cuped": q_events_cuped,
    "events_user_overlap": q_events_user_overlap,
    "events_rollup_hierarchy": q_events_rollup_hierarchy,
    "events_ewma_smooth": q_events_ewma_smooth,
    "events_rolling_zscore": q_events_rolling_zscore,
    "events_gap_stats": q_events_gap_stats,
    "events_dau_wau": q_events_dau_wau,
    "events_user_lifecycle": q_events_user_lifecycle,
    "events_error_rate": q_events_error_rate,
    "events_autocorr": q_events_autocorr,
    "events_forecast_baseline": q_events_forecast_baseline,
    "events_cusum": q_events_cusum,
    "events_ab_ttest": q_events_ab_ttest,
    "events_bootstrap_ci": q_events_bootstrap_ci,
    "events_survival_km": q_events_survival_km,
    "events_markov_entropy": q_events_markov_entropy,
    "events_pareto_concentration": q_events_pareto_concentration,
    "events_last_touch": q_events_last_touch,
    "curation_kfold": q_curation_kfold,
    "events_hour_of_week": q_events_hour_of_week,
    "events_outliers_seasonal": q_events_outliers_seasonal,
    "profile_orders": q_profile_orders,
    "analytics_rfm": q_analytics_rfm,
    "events_markov_transition": q_events_markov_transition,
    "basket_pair_lift": q_basket_pair_lift,
    "events_histogram": q_events_histogram,
    "events_outliers": q_events_outliers,
    "events_outliers_mad": q_events_outliers_mad,
    "events_path_trigrams": q_events_path_trigrams,
}

_W = (HIST_HI - HIST_LO) / HIST_BINS

ORACLES = {
    "events_pattern_match": f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY event_id) AS seq
  FROM events GROUP BY user_id
),
m AS (
  SELECT user_id, seq,
         regexp_extract_all(seq, '{PATTERN_RE}') AS ms
  FROM seqs
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(ms) AS BIGINT) AS n_matches,
       CAST(COALESCE(list_max(list_transform(ms, x -> length(x))), 0)
         AS BIGINT) AS longest_match_len,
       len(ms) > 0 AS is_converter
FROM m
""",
    "events_gini_activity": f"""
WITH pu AS (
  SELECT user_id, COUNT(*) AS cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS rk FROM pu
),
a AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(cnt) AS BIGINT) AS s,
         CAST(SUM(rk * cnt) AS BIGINT) AS src
  FROM r
)
SELECT n AS n_users, s AS total_events, src AS sum_rank_weighted,
       {SQL_ROUND6.format(x="CAST(2 * src - (n + 1) * s AS DOUBLE) / (n * s)")}
         AS gini
FROM a
""",
    "events_attribution_linear": f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS t
  FROM events
),
p AS (
  SELECT event_id AS purchase_id, user_id, t AS p_t,
         CAST(floor(value * 1000000.0) AS BIGINT) AS rev_micros
  FROM e WHERE event_type = 'purchase'
),
tch AS (
  SELECT event_id AS touch_id, user_id, event_type AS channel, t AS t_t
  FROM e WHERE event_type <> 'purchase'
),
j AS (
  SELECT p.purchase_id, p.rev_micros, tch.channel,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS n
  FROM p JOIN tch ON p.user_id = tch.user_id
    AND tch.t_t < p.p_t AND tch.t_t >= p.p_t - {ATTR_WINDOW_MS}
),
sh AS (
  SELECT purchase_id, channel,
         CAST(rev_micros // n AS BIGINT) AS share_micros
  FROM j
)
SELECT channel,
       COUNT(*) AS n_touches,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       {SQL_ROUND6.format(x="CAST(SUM(share_micros) AS DOUBLE) / 1000000.0")}
         AS attributed_revenue
FROM sh GROUP BY channel
""",
    "events_changepoint_loc": f"""
WITH h AS (
  SELECT event_type,
         epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000 AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, hour,
         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ct,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour)
           AS BIGINT) AS t,
         CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS tt
  FROM h
),
cand AS (
  SELECT event_type,
         struct_pack(
           stat := ABS(ct * tt - t * s),
           neg_hour := -hour,
           hour := hour, t := t, ct := ct, s := s, tt := tt
         ) AS c
  FROM w WHERE t < tt
),
best AS (
  SELECT event_type, MAX(c) AS b FROM cand GROUP BY event_type
)
SELECT event_type,
       b.hour AS change_hour,
       b.t AS t_index,
       b.tt AS n_hours,
       b.stat AS stat,
       {SQL_ROUND6.format(x="CAST(b.ct AS DOUBLE) / b.t")} AS pre_mean,
       {SQL_ROUND6.format(x="CAST(b.s - b.ct AS DOUBLE) / (b.tt - b.t)")}
         AS post_mean,
       {SQL_ROUND6.format(x="CAST(b.s - b.ct AS DOUBLE) / (b.tt - b.t) - CAST(b.ct AS DOUBLE) / b.t")}
         AS mean_shift
FROM best
""",
    "events_interarrival_fit": f"""
WITH e AS (
  SELECT event_type, user_id, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
  FROM events
),
gaps AS (
  SELECT event_type,
         ms - lag(ms) OVER (PARTITION BY event_type, user_id
                            ORDER BY ms, event_id) AS gap_ms
  FROM e
  QUALIFY gap_ms IS NOT NULL
),
stats AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         CAST(floor(CAST(SUM(gap_ms) AS DOUBLE) * 1000000.0 / COUNT(*))
           AS BIGINT) AS mean_micros
  FROM gaps GROUP BY event_type
),
hist AS (
  SELECT event_type, gap_ms // {IAT_BIN_MS} AS bin, COUNT(*) AS cnt
  FROM gaps GROUP BY 1, 2
),
d AS (
  SELECT h.event_type, s.n_gaps, s.mean_micros,
         {SQL_ROUND6.format(x="ABS(CAST(SUM(h.cnt) OVER (PARTITION BY h.event_type ORDER BY h.bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / s.n_gaps - (1.0 - exp(-((h.bin + 1) * %d) * 1000000.0 / s.mean_micros)))" % IAT_BIN_MS)}
           AS d
  FROM hist h JOIN stats s USING (event_type)
),
per_type AS (
  SELECT event_type, MAX(n_gaps) AS n_gaps,
         MAX(mean_micros) AS mean_micros, MAX(d) AS ks_d
  FROM d GROUP BY event_type
)
SELECT event_type,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       {SQL_ROUND6.format(x="CAST(mean_micros AS DOUBLE) / 1000000.0 / 1000.0")}
         AS mean_gap_s,
       ks_d,
       {SQL_ROUND6.format(x="%s / sqrt(CAST(n_gaps AS DOUBLE))" % KS_CRIT_COEF)}
         AS ks_crit,
       ks_d < {SQL_ROUND6.format(x="%s / sqrt(CAST(n_gaps AS DOUBLE))" % KS_CRIT_COEF)}
         AS fits_exponential
FROM per_type
""",
    "events_hour_of_week": f"""
WITH e AS (
  SELECT event_type,
         CAST(((epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 + 3) % 7) * 24
              + (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) % 24 AS INT)
           AS hour_of_week
  FROM events
),
c AS (
  SELECT event_type, hour_of_week, COUNT(*) AS n
  FROM e GROUP BY event_type, hour_of_week
)
SELECT event_type, hour_of_week, n,
       {SQL_ROUND6.format(x="CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY event_type)")} AS share
FROM c
""",
    "events_last_touch": """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS t
  FROM events
),
p AS (
  SELECT event_id AS purchase_id, user_id, t AS p_t, ROUND(value, 6) AS revenue
  FROM e WHERE event_type = 'purchase'
),
tch AS (
  SELECT event_id AS touch_id, user_id, event_type AS channel, t AS t_t
  FROM e WHERE event_type <> 'purchase'
),
r AS (
  SELECT p.purchase_id, p.revenue, tch.channel, tch.touch_id,
         p.p_t - tch.t_t AS lag_ms,
         row_number() OVER (
           PARTITION BY p.purchase_id
           ORDER BY tch.t_t DESC NULLS LAST, tch.touch_id DESC NULLS LAST
         ) AS rn
  FROM p LEFT JOIN tch
    ON p.user_id = tch.user_id
   AND tch.t_t < p.p_t AND tch.t_t >= p.p_t - 604800000
)
SELECT purchase_id, revenue, channel, touch_id, lag_ms FROM r WHERE rn = 1
""",
    "curation_kfold": f"""
WITH sized AS (
  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8) AS BIGINT) % 5 AS INT) AS fold,
         len({_sql_toks_doc()}) AS n_tokens
  FROM documents
),
tot AS (SELECT COUNT(*) AS total FROM sized)
SELECT fold, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       {SQL_ROUND6.format(x="CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot)")} AS doc_share
FROM sized GROUP BY fold
""",
    "events_pareto_concentration": f"""
WITH pu AS (
  SELECT user_id, COUNT(*) AS cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_users FROM pu
),
r AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, user_id) AS rk,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM pu
),
d AS (
  SELECT CAST(ceil(rk * 10.0 / (SELECT n_users FROM tot)) AS INT) AS decile,
         cnt, cum
  FROM r
)
SELECT decile,
       COUNT(*) AS n_users,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       {SQL_ROUND6.format(x="CAST(SUM(cnt) AS DOUBLE) / (SELECT total FROM tot)")} AS share,
       {SQL_ROUND6.format(x="CAST(MAX(cum) AS DOUBLE) / (SELECT total FROM tot)")} AS cum_share
FROM d
GROUP BY decile
""",
    "events_markov_entropy": f"""
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
),
t AS (
  SELECT from_type, n,
         n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
  FROM counts
),
per AS (
  SELECT from_type,
         CAST(SUM(n) AS BIGINT) AS n_out,
         CAST(SUM(CAST(floor(p * (ln(1.0 / p) / ln(2.0)) * 1000000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS h_micros
  FROM t GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_out) AS BIGINT) AS n_total,
         CAST(SUM(n_out * h_micros) AS BIGINT) AS rate_num
  FROM per
)
SELECT from_type, n_out,
       {SQL_ROUND6.format(x="n_out / CAST(n_total AS DOUBLE)")} AS pi,
       h_micros / 1000000.0 AS h_bits,
       {SQL_ROUND6.format(x="rate_num / CAST(n_total AS DOUBLE) / 1000000.0")}
         AS entropy_rate_bits
FROM per CROSS JOIN tot
""",
    "events_survival_km": f"""
WITH d0 AS (
  SELECT user_id,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
           AS h
  FROM events
),
users AS (
  SELECT user_id, MIN(h) AS first_h, MAX(h) AS last_h
  FROM d0 GROUP BY user_id
),
mx AS (SELECT MAX(last_h) AS max_h FROM users),
u AS (
  SELECT (last_h - first_h) AS t,
         (last_h > max_h - {KM_CENSOR_HOURS}) AS censored
  FROM users CROSS JOIN mx
),
per AS (
  SELECT t,
         CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM u GROUP BY t
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
ar AS (
  SELECT t, d, c,
         n_users - COALESCE(CAST(SUM(d + c) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS n_at_risk
  FROM per CROSS JOIN tot
),
cur AS (
  SELECT t, n_at_risk, d, c,
         CAST(SUM(CAST(floor(ln(greatest(1.0 - d / n_at_risk, 1e-300))
                             * 1000000.0 + 0.5) AS BIGINT) ) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ls
  FROM ar
)
SELECT t AS t_hours, n_at_risk, d AS n_deaths, c AS n_censored,
       ls / 1000000.0 AS log_surv,
       {SQL_ROUND6.format(x="exp(ls / 1000000.0)")} AS surv
FROM cur
""",
    "events_bootstrap_ci": f"""
WITH ex AS (
  SELECT event_type, r.rep,
         ((event_id % {BOOT_MOD}) * {BOOT_HASH_A} + r.rep * {BOOT_HASH_B})
           % {BOOT_MOD} AS u,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events CROSS JOIN (SELECT unnest(range({BOOT_B})) AS rep) r
),
w AS (
  SELECT event_type, rep, vm,
         ({" + ".join(f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in BOOT_POISSON_CUM)})
           AS w
  FROM ex
),
pr AS (
  SELECT event_type, rep,
         CAST(SUM(w) AS BIGINT) AS wn, CAST(SUM(w * vm) AS BIGINT) AS ws
  FROM w GROUP BY 1, 2
),
rm AS (
  SELECT event_type,
         COALESCE({SQL_ROUND6.format(x="ws / NULLIF(wn, 0) / 1000000.0")},
                  0.0) AS m
  FROM pr
),
boots AS (
  SELECT event_type, list(m ORDER BY m) AS ms FROM rm GROUP BY event_type
),
actual AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s1
  FROM events GROUP BY event_type
)
SELECT a.event_type, a.n,
       {SQL_ROUND6.format(x="a.s1 / CAST(a.n AS DOUBLE) / 1000000.0")}
         AS mean_value,
       b.ms[{BOOT_LO_IDX + 1}] AS ci_lo,
       b.ms[{BOOT_HI_IDX + 1}] AS ci_hi
FROM actual a JOIN boots b USING (event_type)
""",
    "events_cuped": f"""
WITH pu AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) < {DID_SPLIT_MS}
           THEN CAST(floor(value * 1000.0 + 0.5) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS x,
         CAST(SUM(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) >= {DID_SPLIT_MS}
           THEN CAST(floor(value * 1000.0 + 0.5) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS y
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pu
),
d AS (
  SELECT n,
         sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS cov,
         sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) AS var_x,
         syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS var_y,
         sy / CAST(n AS DOUBLE) / 1000.0 AS mean_post
  FROM mom
)
SELECT n AS n_users,
       {SQL_ROUND6.format(x="mean_post")} AS mean_post,
       {SQL_ROUND6.format(x="cov / var_x")} AS theta,
       {SQL_ROUND6.format(x="(cov * cov) / (var_x * var_y)")} AS rho2,
       {SQL_ROUND6.format(x="var_y / 1000000.0")} AS var_post,
       {SQL_ROUND6.format(x="var_y * (1.0 - (cov * cov) / (var_x * var_y)) / 1000000.0")}
         AS var_adjusted,
       {SQL_ROUND6.format(x="(cov * cov) / (var_x * var_y) * 100.0")}
         AS var_reduction_pct
FROM d
""",
    "events_diff_in_diff": f"""
WITH e AS (
  SELECT user_id % 2 = 0 AS treated,
         epoch_ms(CAST(ts AS TIMESTAMP)) >= {DID_SPLIT_MS} AS post,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS um,
         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS mm
  FROM events WHERE user_id IS NOT NULL
),
a AS (
  SELECT
    CAST(SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
    CAST(SUM(CASE WHEN treated AND NOT post THEN um ELSE 0 END) AS BIGINT) AS s1_tpre,
    CAST(SUM(CASE WHEN treated AND NOT post THEN mm * mm ELSE 0 END) AS BIGINT) AS s2_tpre,
    CAST(SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
    CAST(SUM(CASE WHEN treated AND post THEN um ELSE 0 END) AS BIGINT) AS s1_tpost,
    CAST(SUM(CASE WHEN treated AND post THEN mm * mm ELSE 0 END) AS BIGINT) AS s2_tpost,
    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN um ELSE 0 END) AS BIGINT) AS s1_cpre,
    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN mm * mm ELSE 0 END) AS BIGINT) AS s2_cpre,
    CAST(SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
    CAST(SUM(CASE WHEN NOT treated AND post THEN um ELSE 0 END) AS BIGINT) AS s1_cpost,
    CAST(SUM(CASE WHEN NOT treated AND post THEN mm * mm ELSE 0 END) AS BIGINT) AS s2_cpost
  FROM e
),
d AS (
  SELECT *,
    s1_tpre / CAST(n_tpre AS DOUBLE) / 1000000.0 AS m_tpre,
    s1_tpost / CAST(n_tpost AS DOUBLE) / 1000000.0 AS m_tpost,
    s1_cpre / CAST(n_cpre AS DOUBLE) / 1000000.0 AS m_cpre,
    s1_cpost / CAST(n_cpost AS DOUBLE) / 1000000.0 AS m_cpost
  FROM a
),
v AS (
  SELECT *,
    (m_tpost - m_tpre) - (m_cpost - m_cpre) AS did,
    sqrt(((s2_tpre / 1000000.0 - n_tpre * m_tpre * m_tpre) / (n_tpre - 1)) / n_tpre
       + ((s2_tpost / 1000000.0 - n_tpost * m_tpost * m_tpost) / (n_tpost - 1)) / n_tpost
       + ((s2_cpre / 1000000.0 - n_cpre * m_cpre * m_cpre) / (n_cpre - 1)) / n_cpre
       + ((s2_cpost / 1000000.0 - n_cpost * m_cpost * m_cpost) / (n_cpost - 1)) / n_cpost)
      AS se
  FROM d
)
SELECT n_tpre, n_tpost, n_cpre, n_cpost,
       {SQL_ROUND6.format(x="m_tpost - m_tpre")} AS delta_treated,
       {SQL_ROUND6.format(x="m_cpost - m_cpre")} AS delta_control,
       {SQL_ROUND6.format(x="did")} AS did_estimate,
       {SQL_ROUND6.format(x="se")} AS se,
       {SQL_ROUND6.format(x="did / se")} AS t_stat,
       abs(did / se) > {Z_ALPHA} AS is_significant
FROM v
""",
    "events_power_mde": f"""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s1,
         CAST(SUM(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)
                  * CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s2m
  FROM events GROUP BY event_type
),
d AS (
  SELECT event_type, n, n // 2 AS n_arm,
         s1 / CAST(n AS DOUBLE) / 1000000.0 AS mean,
         s2m / 1000000.0 AS q2
  FROM m
),
v AS (
  SELECT event_type, n, n_arm, mean,
         (q2 - n * mean * mean) / (n - 1) AS var,
         sqrt((q2 - n * mean * mean) / (n - 1)) AS sd
  FROM d
),
w AS (
  SELECT *, {Z_ALPHA + Z_BETA} * sd * sqrt(2.0 / n_arm) AS mde_abs
  FROM v
)
SELECT event_type, n, CAST(n_arm AS BIGINT) AS n_arm,
       {SQL_ROUND6.format(x="mean")} AS mean,
       {SQL_ROUND6.format(x="sd")} AS sd,
       {SQL_ROUND6.format(x="mde_abs")} AS mde_abs,
       {SQL_ROUND6.format(x="mde_abs / mean")} AS mde_rel,
       CAST(ceil(2.0 * var * {Z_ALPHA + Z_BETA} * {Z_ALPHA + Z_BETA}
                 / ({MDE_REL_TARGET} * mean * ({MDE_REL_TARGET} * mean)))
         AS BIGINT) AS n_required_per_arm
FROM w
""",
    "events_ab_ttest": f"""
WITH m AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s1,
         CAST(SUM(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)
                  * CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS s2m
  FROM events GROUP BY event_type
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb,
         a.s1 / CAST(a.n AS DOUBLE) / 1000000.0 AS mean_a,
         b.s1 / CAST(b.n AS DOUBLE) / 1000000.0 AS mean_b,
         a.s2m / 1000000.0 AS q2a, b.s2m / 1000000.0 AS q2b
  FROM m a JOIN m b ON a.event_type < b.event_type
),
v AS (
  SELECT type_a, type_b, na, nb, mean_a, mean_b,
         ((q2a - na * mean_a * mean_a) / (na - 1)) / na AS se2_a,
         ((q2b - nb * mean_b * mean_b) / (nb - 1)) / nb AS se2_b
  FROM p
)
SELECT type_a, type_b, na, nb,
       {SQL_ROUND6.format(x="mean_a - mean_b")} AS mean_diff,
       {SQL_ROUND6.format(x="(mean_a - mean_b) / sqrt(se2_a + se2_b)")} AS t_stat,
       {SQL_ROUND6.format(x="COALESCE(((se2_a + se2_b) * (se2_a + se2_b)) / NULLIF(se2_a * se2_a / (na - 1) + se2_b * se2_b / (nb - 1), 0.0), 0.0)")}
         AS welch_df,
       (abs((mean_a - mean_b) / sqrt(se2_a + se2_b)) > {TTEST_CRIT})
         AS is_significant
FROM v
""",
    "events_cusum": f"""
WITH h AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(floor(CAST(SUM(n) AS DOUBLE) * 1000000.0 / COUNT(*)) AS BIGINT)
           AS mean_micros
  FROM h GROUP BY event_type
),
m AS (
  SELECT h.event_type, h.hour, h.n, s.mean_micros,
         CAST(floor(s.mean_micros / {CUSUM_ALLOWANCE_DIV}) AS BIGINT) AS k_micros
  FROM h JOIN stats s USING (event_type)
),
c AS (
  SELECT event_type, hour, n, mean_micros,
         CAST(SUM(n * 1000000 - mean_micros - k_micros) OVER w AS BIGINT) AS cp,
         CAST(SUM(mean_micros - n * 1000000 - k_micros) OVER w AS BIGINT) AS cn
  FROM m
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, hour, n, mean_micros,
         cp - LEAST(CAST(0 AS BIGINT), MIN(cp) OVER w) AS sp,
         cn - LEAST(CAST(0 AS BIGINT), MIN(cn) OVER w) AS sn
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, hour, n,
       {SQL_ROUND6.format(x="sp / 1000000.0")} AS s_pos,
       {SQL_ROUND6.format(x="sn / 1000000.0")} AS s_neg,
       (sp > {CUSUM_H_MULT} * mean_micros OR sn > {CUSUM_H_MULT} * mean_micros)
         AS is_alarm
FROM s
""",
    "events_error_rate": f"""
WITH per AS (
  SELECT CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS big_n, CAST(SUM(n_err) AS BIGINT) AS big_e
  FROM per
),
m AS (
  SELECT hour, n, n_err,
         CAST(n_err AS DOUBLE) / n AS rate,
         CAST(big_e AS DOUBLE) / big_n AS p0
  FROM per CROSS JOIN tot
)
SELECT hour, n, n_err,
       {SQL_ROUND6.format(x="rate")} AS err_rate,
       {SQL_ROUND6.format(x="(rate - p0) / sqrt(p0 * (1.0 - p0) / n)")} AS z,
       (abs((rate - p0) / sqrt(p0 * (1.0 - p0) / n)) > 3.0) AS is_alert
FROM m
""",
    "events_autocorr": f"""
WITH h AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT h.event_type, h.hour, h.c AS x, l.lag
  FROM h CROSS JOIN (SELECT unnest([{", ".join(str(L) for L in ACF_LAGS)}]) AS lag) l
),
pairs AS (
  SELECT a.event_type, a.lag, a.x, b.c AS y
  FROM lagged a JOIN h b
    ON b.event_type = a.event_type AND b.hour = a.hour + a.lag
),
s AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
       {SQL_ROUND6.format(x="(CAST(n_pairs AS DOUBLE) * sxy - sx * sy) / NULLIF(sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx) * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 0.0)")} AS acf
FROM s
""",
    "events_forecast_baseline": f"""
WITH h AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_seasonal,
         CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS sae_seasonal
  FROM h a JOIN h b
    ON b.event_type = a.event_type AND a.hour = b.hour + 24
  GROUP BY a.event_type
),
n AS (
  SELECT a.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_naive,
         CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS sae_naive
  FROM h a JOIN h b
    ON b.event_type = a.event_type AND a.hour = b.hour + 1
  GROUP BY a.event_type
),
m AS (
  SELECT s.event_type, s.n_seasonal, n.n_naive,
         CAST(sae_seasonal AS DOUBLE) / n_seasonal AS mae_s,
         CAST(sae_naive AS DOUBLE) / n_naive AS mae_n
  FROM s JOIN n USING (event_type)
)
SELECT event_type, n_seasonal, n_naive,
       {SQL_ROUND6.format(x="mae_s")} AS mae_seasonal,
       {SQL_ROUND6.format(x="mae_n")} AS mae_naive,
       {SQL_ROUND6.format(x="mae_s / NULLIF(mae_n, 0.0)")} AS mae_ratio
FROM m
""",
    "events_user_lifecycle": f"""
WITH uw AS (
  SELECT DISTINCT
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / {WEEK_MS}) AS BIGINT)
           AS week,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
tagged AS MATERIALIZED (
  SELECT week, user_id,
         lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt
  FROM uw
),
active AS (
  SELECT week,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(SUM(CASE WHEN prev = week - 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < week - 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM tagged GROUP BY week
),
churn AS (
  SELECT week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS n_churned_in
  FROM tagged
  WHERE (nxt IS NULL OR nxt > week + 1)
    AND week + 1 <= (SELECT MAX(week) FROM uw)
  GROUP BY week + 1
)
SELECT a.week, a.n_active, a.n_new, a.n_retained, a.n_resurrected,
       COALESCE(c.n_churned_in, 0) AS n_churned_in
FROM active a LEFT JOIN churn c USING (week)
""",
    "events_dau_wau": f"""
WITH pairs AS (
  SELECT DISTINCT
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 86400000) AS BIGINT) AS day,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
dau AS (SELECT day, COUNT(*) AS dau FROM pairs GROUP BY day),
anch AS (
  SELECT p.day + off.o AS day, p.user_id
  FROM pairs p, (SELECT unnest(range(7)) AS o) off
),
wau AS (
  SELECT a.day, COUNT(DISTINCT a.user_id) AS wau
  FROM anch a WHERE a.day IN (SELECT day FROM dau)
  GROUP BY a.day
)
SELECT d.day, d.day * 86400000 AS day_ms, d.dau, w.wau,
       {SQL_ROUND6.format(x="CAST(d.dau AS DOUBLE) / w.wau")} AS stickiness
FROM dau d JOIN wau w USING (day)
""",
    "events_gap_stats": f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t FROM events
),
g AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap_ms
  FROM e
)
SELECT user_id,
       COUNT(*) AS n_gaps,
       MIN(gap_ms) AS min_gap_ms,
       {SQL_ROUND6.format(x="quantile_cont(gap_ms, 0.5)")} AS median_gap_ms,
       {SQL_ROUND6.format(x="quantile_cont(gap_ms, 0.9)")} AS p90_gap_ms,
       MAX(gap_ms) AS max_gap_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY user_id
""",
    "events_rolling_zscore": f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) * 3600000 AS BIGINT)
           AS bucket_ms,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events
),
hourly AS (
  SELECT event_type, bucket_ms, CAST(SUM(vm) AS BIGINT) AS vm, COUNT(*) AS n
  FROM e GROUP BY event_type, bucket_ms
),
m AS (
  SELECT event_type, bucket_ms, n, vm, vm // 1000 AS vmil,
         COUNT(*) OVER w AS n_baseline,
         CAST(SUM(vm // 1000) OVER w AS BIGINT) AS s1,
         CAST(SUM((vm // 1000) * (vm // 1000)) OVER w AS BIGINT) AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket_ms, n, n_baseline,
       {SQL_ROUND6.format(x="CAST(vm AS DOUBLE) / 1000000.0")} AS hour_sum,
       {SQL_ROUND6.format(x="COALESCE(CAST(s1 AS DOUBLE) / n_baseline / 1000.0, 0.0)")} AS roll_mean,
       CAST(floor(
         (CAST(vmil AS DOUBLE) / 1000.0 - CAST(s1 AS DOUBLE) / n_baseline / 1000.0)
         / NULLIF(sqrt(greatest(
             CAST(s2 AS DOUBLE) / n_baseline / 1000000.0
             - (CAST(s1 AS DOUBLE) / n_baseline / 1000.0)
               * (CAST(s1 AS DOUBLE) / n_baseline / 1000.0), 0.0)), 0.0)
         * 1000) AS BIGINT) AS z_milli
FROM m
WHERE n_baseline >= 3
""",
    "events_ewma_smooth": """
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) * 3600000 AS BIGINT)
           AS bucket_ms,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events
),
hourly AS (
  SELECT event_type, bucket_ms, CAST(SUM(vm) AS BIGINT) AS vm, COUNT(*) AS n
  FROM e GROUP BY event_type, bucket_ms
),
lagged AS (
  SELECT event_type, bucket_ms, n, vm,
         lag(vm, 1) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l1,
         lag(vm, 2) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l2,
         lag(vm, 3) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l3,
         lag(vm, 4) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l4,
         lag(vm, 5) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l5,
         lag(vm, 6) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l6,
         lag(vm, 7) OVER (PARTITION BY event_type ORDER BY bucket_ms) AS l7,
         vm AS l0
  FROM hourly
)
SELECT event_type, bucket_ms, n,
       CAST(vm AS DOUBLE) / 1000000.0 AS hour_sum,
       CAST((COALESCE(l0 * 128, 0) + COALESCE(l1 * 64, 0) + COALESCE(l2 * 32, 0) + COALESCE(l3 * 16, 0) + COALESCE(l4 * 8, 0) + COALESCE(l5 * 4, 0) + COALESCE(l6 * 2, 0) + COALESCE(l7 * 1, 0))
            // NULLIF((CASE WHEN l0 IS NOT NULL THEN 128 ELSE 0 END) + (CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END) + (CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END) + (CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END) + (CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END) + (CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END) + (CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END) + (CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS ewma_micros
FROM lagged
""",
    "events_rollup_hierarchy": """
WITH e AS (
  SELECT event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events
),
hourly AS (
  SELECT event_type,
         CAST(floor(t / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
         COUNT(*) AS n, CAST(SUM(vm) AS BIGINT) AS svm
  FROM e GROUP BY event_type, bucket_ms
),
daily AS (
  SELECT event_type,
         CAST(floor(bucket_ms / 86400000) * 86400000 AS BIGINT) AS bucket_ms,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(svm) AS BIGINT) AS svm
  FROM hourly GROUP BY event_type, CAST(floor(bucket_ms / 86400000) * 86400000 AS BIGINT)
)
SELECT 'hour' AS grain, event_type, bucket_ms, n,
       CAST(svm AS DOUBLE) / 1000000.0 AS sum_value FROM hourly
UNION ALL
SELECT 'day' AS grain, event_type, bucket_ms, n,
       CAST(svm AS DOUBLE) / 1000000.0 AS sum_value FROM daily
""",
    "events_user_overlap": f"""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type)
SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
       {SQL_ROUND6.format(x="CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)")} AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
""",
    "profile_orders": """
WITH one AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS st_nulls,
         COUNT(DISTINCT o_orderstatus) AS st_distinct,
         MIN(o_orderstatus) AS st_min, MAX(o_orderstatus) AS st_max,
         SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS pr_nulls,
         COUNT(DISTINCT o_orderpriority) AS pr_distinct,
         MIN(o_orderpriority) AS pr_min, MAX(o_orderpriority) AS pr_max,
         SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS ok_nulls,
         COUNT(DISTINCT o_orderkey) AS ok_distinct,
         ROUND(MIN(o_orderkey), 6) AS ok_min, ROUND(MAX(o_orderkey), 6) AS ok_max,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS ck_nulls,
         COUNT(DISTINCT o_custkey) AS ck_distinct,
         ROUND(MIN(o_custkey), 6) AS ck_min, ROUND(MAX(o_custkey), 6) AS ck_max,
         SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS tp_nulls,
         COUNT(DISTINCT o_totalprice) AS tp_distinct,
         ROUND(MIN(o_totalprice), 6) AS tp_min, ROUND(MAX(o_totalprice), 6) AS tp_max
  FROM orders
)
SELECT 'o_orderstatus' AS "column", n_rows, CAST(st_nulls AS BIGINT) AS n_nulls,
       CAST(st_distinct AS BIGINT) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       st_min AS min_str, st_max AS max_str FROM one
UNION ALL
SELECT 'o_orderpriority', n_rows, CAST(pr_nulls AS BIGINT),
       CAST(pr_distinct AS BIGINT),
       NULL, NULL, pr_min, pr_max FROM one
UNION ALL
SELECT 'o_orderkey', n_rows, CAST(ok_nulls AS BIGINT), CAST(ok_distinct AS BIGINT),
       CAST(ok_min AS DOUBLE), CAST(ok_max AS DOUBLE), NULL, NULL FROM one
UNION ALL
SELECT 'o_custkey', n_rows, CAST(ck_nulls AS BIGINT), CAST(ck_distinct AS BIGINT),
       CAST(ck_min AS DOUBLE), CAST(ck_max AS DOUBLE), NULL, NULL FROM one
UNION ALL
SELECT 'o_totalprice', n_rows, CAST(tp_nulls AS BIGINT), CAST(tp_distinct AS BIGINT),
       CAST(tp_min AS DOUBLE), CAST(tp_max AS DOUBLE), NULL, NULL FROM one
""",
    "events_histogram": f"""
WITH b AS (
  SELECT CAST(LEAST(GREATEST(floor((value - {HIST_LO}) / {_W}), 0),
                    {HIST_BINS - 1}) AS INT) AS bucket
  FROM events
)
SELECT bucket,
       CAST({HIST_LO} + bucket * {_W} AS DOUBLE) AS lo,
       CAST({HIST_LO} + (bucket + 1) * {_W} AS DOUBLE) AS hi,
       COUNT(*) AS n
FROM b GROUP BY bucket
""",
    "events_outliers_seasonal": f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hh, value FROM events
),
stats AS (
  SELECT event_type, hh, COUNT(*) AS n,
         SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s1,
         SUM(CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)) AS s2
  FROM ev GROUP BY event_type, hh
),
m AS (
  SELECT event_type, hh, n,
         CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean,
         GREATEST(CAST(s2 AS DOUBLE) / n / 1000000.0
           - (CAST(s1 AS DOUBLE) / n / 1000000.0)
             * (CAST(s1 AS DOUBLE) / n / 1000000.0), 0.0) AS var
  FROM stats
)
SELECT event_id, e.event_type, e.hh, (floor((value) * 1000000.0 + 0.5) / 1000000.0) AS value,
       (floor((mean) * 1000000.0 + 0.5) / 1000000.0) AS mean, (floor((sqrt(var)) * 1000000.0 + 0.5) / 1000000.0) AS std
FROM ev e JOIN m ON e.event_type = m.event_type AND e.hh = m.hh
WHERE abs((floor((value) * 1000000.0 + 0.5) / 1000000.0) - (floor((mean) * 1000000.0 + 0.5) / 1000000.0))
      / NULLIF((floor((sqrt(var)) * 1000000.0 + 0.5) / 1000000.0), 0.0) > {Z_THRESHOLD}
""",
    "events_outliers": f"""
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s1,
         SUM(CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)) AS s2
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean,
         GREATEST(CAST(s2 AS DOUBLE) / n / 1000000.0
           - (CAST(s1 AS DOUBLE) / n / 1000000.0)
             * (CAST(s1 AS DOUBLE) / n / 1000000.0), 0.0) AS var
  FROM stats
)
SELECT event_id, e.event_type, (floor((value) * 1000000.0 + 0.5) / 1000000.0) AS value,
       (floor((mean) * 1000000.0 + 0.5) / 1000000.0) AS mean, (floor((sqrt(var)) * 1000000.0 + 0.5) / 1000000.0) AS std
FROM events e JOIN m ON e.event_type = m.event_type
WHERE abs((floor((value) * 1000000.0 + 0.5) / 1000000.0) - mean) / NULLIF(sqrt(var), 0.0) > {Z_THRESHOLD}
""",
    "events_outliers_mad": f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT event_id, e.event_type, (floor((value) * 1000000.0 + 0.5) / 1000000.0) AS value,
       (floor((med) * 1000000.0 + 0.5) / 1000000.0) AS med, (floor((mad) * 1000000.0 + 0.5) / 1000000.0) AS mad
FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE abs({MAD_C} * (value - med) / NULLIF(mad, 0.0)) > {MAD_Z}
""",
    "events_path_trigrams": f"""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY event_id) AS types
  FROM events GROUP BY user_id
),
tri AS (
  SELECT unnest(list_transform(range(1, len(types) - 1),
                i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
           AS trigram
  FROM seqs WHERE len(types) >= 3
)
SELECT trigram, COUNT(*) AS n
FROM tri WHERE trigram IS NOT NULL
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT {TRIGRAM_TOP}
""",
}

from clusterindices_spark.functions.aggregates import SQL_ROUND6  # noqa: E402

_RFM_BOUNDS = ", ".join(
    SQL_ROUND6.format(x=f"quantile_cont({col}, {p})") + f" AS {col[:1]}q{int(p*10)}"
    for col in ("recency_days", "frequency", "monetary")
    for p in (0.2, 0.4, 0.6, 0.8)
)


def _sql_rfm_score(col: str, prefix: str, invert: bool) -> str:
    s = " + ".join(
        f"CAST({col} > {prefix}q{q} AS INT)" for q in (2, 4, 6, 8)
    )
    return f"CAST(6 - (1 + {s}) AS INT)" if invert else f"CAST(1 + {s} AS INT)"


ORACLES["analytics_rfm"] = f"""
WITH cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS monetary
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
c2 AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order, anchor) AS INT) AS recency_days,
         frequency, monetary
  FROM cust CROSS JOIN anchor
),
b AS (SELECT {_RFM_BOUNDS} FROM c2),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         {_sql_rfm_score("recency_days", "r", True)} AS r_score,
         {_sql_rfm_score("frequency", "f", False)} AS f_score,
         {_sql_rfm_score("monetary", "m", False)} AS m_score
  FROM c2 CROSS JOIN b
)
SELECT *,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
            WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
"""

ORACLES["events_markov_transition"] = f"""
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM steps WHERE from_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       {SQL_ROUND6.format(x="n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)")} AS p
FROM c
"""

ORACLES["basket_pair_lift"] = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM li),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {BASKET_MIN_PAIR}
),
marg AS (SELECT l_partkey, COUNT(*) AS n_part FROM li GROUP BY l_partkey)
SELECT part_a, part_b, n_both,
       ma.n_part AS n_a, mb.n_part AS n_b,
       {SQL_ROUND6.format(x="(n_both / n_orders) / NULLIF((ma.n_part / n_orders) * (mb.n_part / n_orders), 0.0)")} AS lift
FROM pairs
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
CROSS JOIN tot
"""


# fuzz wave-3 non-finite policy: the keys above quantize `value` into
# integer micros, a representation NaN/Inf cannot enter; Spark's floor()
# silently maps NaN->0 / Inf->Long.MAX while DuckDB casts loudly, so BOTH
# sides now exclude non-finite values like NULLs (finite_or_null on the
# Spark side, `* REPLACE` isfinite rewrite here). Finite out-of-envelope
# magnitudes still go loud in both engines (tests/test_int64_bounds.py).
_FINITE_EVENTS_SQL = (
    "(SELECT * REPLACE ((CASE WHEN isfinite(value) THEN value END) "
    "AS value) FROM events)"
)
_FINITE_VALUE_KEYS = ['events_ewma_smooth', 'events_rolling_zscore', 'events_cuped', 'events_power_mde', 'events_outliers', 'events_outliers_seasonal', 'events_diff_in_diff', 'events_ab_ttest', 'events_bootstrap_ci', 'events_attribution_linear', 'events_rollup_hierarchy']
for _k in _FINITE_VALUE_KEYS:
    ORACLES[_k] = ORACLES[_k].replace(
        "FROM events", f"FROM {_FINITE_EVENTS_SQL}")

# compute-what-you-join alignment (fuzz wave-3 seed 103000): Spark infers
# `group_key IS NOT NULL` from the downstream equi/inequality self-join and
# pushes it BELOW the moment aggregation, so the NULL-key group's (possibly
# loud-overflowing) quantization is never evaluated; DuckDB computes the
# never-joinable NULL group and raises on the same data. Make the exclusion
# explicit in the oracle's moment CTE — output rows are identical either
# way (a NULL key can never survive the join).
ORACLES["events_outliers"] = ORACLES["events_outliers"].replace(
    "FROM events) GROUP BY event_type",
    "FROM events) WHERE event_type IS NOT NULL GROUP BY event_type")
ORACLES["events_ab_ttest"] = ORACLES["events_ab_ttest"].replace(
    "FROM events) GROUP BY event_type",
    "FROM events) WHERE event_type IS NOT NULL GROUP BY event_type")
ORACLES["events_outliers_seasonal"] = ORACLES["events_outliers_seasonal"].replace(
    "FROM ev GROUP BY event_type, hh",
    "FROM ev WHERE event_type IS NOT NULL AND hh IS NOT NULL "
    "GROUP BY event_type, hh")

# fuzz wave-3 non-finite policy (see operators/analytics.py tail note):
# o_totalprice consumers below quantize/decimal-sum the measure; both
# engines exclude NaN/Inf like NULLs.
ORACLES["analytics_rfm"] = ORACLES["analytics_rfm"].replace(
    "FROM orders", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS o_totalprice) FROM orders)")

# fuzz wave-3 non-finite policy, batch 3 (seeds 103003/103004): beyond the
# quantized-sum class, THRESHOLD COMPARISONS on measure doubles are also
# non-finite-hostile — Spark's parquet filter pushdown silently DROPS NaN
# rows for `>` predicates while its in-memory evaluator KEEPS them (probed:
# same where() returns [] pushed vs [NaN rows] with filterPushdown=false),
# and DuckDB keeps NaN (total order). finite_or_null makes NaN/Inf missing
# on both sides, independent of which layer evaluates the predicate.
ORACLES["events_histogram"] = ORACLES["events_histogram"].replace(
    "FROM events", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(value) THEN value END) AS value) FROM events)")
ORACLES["events_outliers_mad"] = ORACLES["events_outliers_mad"].replace(
    "FROM events", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(value) THEN value END) AS value) FROM events)")
