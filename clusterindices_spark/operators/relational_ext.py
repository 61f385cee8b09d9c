"""Extended relational surface beyond SURVEY.md §2B's minimum: grouping
sets, statistical aggregates, pivot/unpivot, correlated + IN subqueries,
distribution window functions, lateral explode, date-series generation,
conditional expressions, distinct-on, and string-distance scalars.

Several queries use ``spark.sql`` over temp views on purpose — the SQL
surface (GROUPING SETS, correlated scalar subqueries, IN subqueries) is part
of the engine's API and has no 1:1 DataFrame equivalent; Catalyst plans both
identically.

Determinism notes:
- variance / correlation are derived from exact decimal sums (n, Σx, Σx²,
  Σxy — functions/aggregates.py pattern) over small-magnitude columns
  (l_quantity ≤ 50, l_discount ≤ 0.1), so the float arithmetic that follows
  is on exactly-agreed inputs and round(6) is stable cross-engine.
- distribution windows (percent_rank/cume_dist) are rationals of row counts
  — exact; tie-breaks pinned with a key column everywhere.

Scale posture: everything here is a single scan + one hash agg or window
shuffle; grouping-sets expands rows at the agg (Spark Expand operator) —
at 100 TB prefer ROLLUP when the lattice allows it (Expand multiplies the
shuffle write by the number of grouping sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions.aggregates import (
    finite_or_null,
    SQL_ROUND6,
    exact_sum,
    sql_exact_sum,
)
from clusterindices_spark.functions.local import local_frame
from clusterindices_spark.operators.relational import SQL_JSON_LENIENT
from clusterindices_spark.sources.fixtures import load_table

# ---------------------------------------------------------------------------
# grouping sets / stats aggregates
# ---------------------------------------------------------------------------


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice with grouping() flags (SQL surface —
    DataFrame API only has rollup/cube)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).createOrReplaceTempView(
        "cust_nation_gs"
    )
    return spark.sql(
        f"""
        SELECT n_name, c_mktsegment,
               CAST(grouping(n_name) AS INT) AS g_nation,
               CAST(grouping(c_mktsegment) AS INT) AS g_segment,
               COUNT(*) AS n_customers,
               {sql_exact_sum('c_acctbal')} AS sum_acctbal
        FROM cust_nation_gs
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name),
                                (c_mktsegment), ())
        """
    )



def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE lattice over (nation, segment) — all 2² grouping
    combinations in one Expand pass (completes the rollup / grouping-sets /
    cube family)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .cube("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "sum_acctbal"),
        )
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / correlation / covariance derived from
    exact decimal sums, plus exact interpolated median. Raw VAR_SAMP/CORR
    are float-order-dependent across engines; this formulation is not."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_quantity", finite_or_null("l_quantity")).withColumn("l_discount", finite_or_null("l_discount"))
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).alias("sx"),
        F.sum((dec("l_quantity") * dec("l_quantity")).cast("decimal(28,6)")).alias(
            "sxx"
        ),
        F.sum(dec("l_discount")).alias("sy"),
        F.sum((dec("l_discount") * dec("l_discount")).cast("decimal(28,6)")).alias(
            "syy"
        ),
        F.sum((dec("l_quantity") * dec("l_discount")).cast("decimal(28,6)")).alias(
            "sxy"
        ),
        F.percentile("l_quantity", F.lit(0.5)).alias("med"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # nullif guards (r9 hostile edge): single-row groups have undefined
    # sample moments — NULL in both engines, not an ANSI DIVIDE_BY_ZERO
    # (Spark ANSI raises on /0 even for doubles; oracle mirrors NULLIF)
    nm1 = F.nullif(n - 1, F.lit(0.0))
    var_x = (sxx - sx * sx / n) / nm1
    var_y = (syy - sy * sy / n) / nm1
    cov = (sxy - sx * sy / n) / nm1
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(cov, 6).alias("covar_qty_disc"),
        F.round(
            cov / F.nullif(F.sqrt(var_x * var_y), F.lit(0.0)), 6
        ).alias("corr_qty_disc"),
        F.round("med", 6).alias("median_qty"),
    )


# ---------------------------------------------------------------------------
# pivot / unpivot
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an explicit value list (explicit list keeps the
    plan single-pass; without it Spark runs an extra distinct job)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _SEGMENTS)
    )


def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long via DataFrame.unpivot (Spark 3.4+); oracle uses the
    portable UNION ALL formulation."""
    p = load_table(spark, sf_dir, "part")
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=["size", "retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    ).select("p_partkey", "metric", F.round("val", 6).alias("val"))


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders strictly above their customer's
    average order value. Catalyst de-correlates to an aggregate + join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS price
        FROM orders_sq o
        WHERE o_totalprice > 1.5 * (
          SELECT AVG(o_totalprice) FROM orders_sq i
          WHERE i.o_custkey = o.o_custkey
        )
        """
    )


def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries (planned as semi/anti joins)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_in")
    load_table(spark, sf_dir, "customer").withColumn("c_acctbal", finite_or_null("c_acctbal")).createOrReplaceTempView("customer_in")
    return spark.sql(
        """
        SELECT o_orderkey, 'rich_customer' AS bucket
        FROM orders_in
        WHERE o_custkey IN (SELECT c_custkey FROM customer_in WHERE c_acctbal > 8000)
        UNION ALL
        SELECT o_orderkey, 'other' AS bucket
        FROM orders_in
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer_in WHERE c_acctbal > 8000)
        """
    )


# ---------------------------------------------------------------------------
# distribution windows / lateral explode / sequences
# ---------------------------------------------------------------------------


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # asc_nulls_last: DuckDB window ORDER BY defaults NULLS LAST (r9)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey"
    )
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first_value(F.col("c_acctbal")).over(full), 6).alias("seg_min"),
        F.round(F.last_value(F.col("c_acctbal")).over(full), 6).alias("seg_max"),
    )


def q_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (LATERAL VIEW): embedding array → (vec_id, pos, val) rows.
    Narrow op — no shuffle; at 100 TB this is the canonical row-explosion
    the optimizer pipelines into the scan."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", F.round("val", 6).alias("val"))


def q_sequence_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated month series (sequence + explode) left-joined with order
    counts — the calendar-spine pattern for gap-free time series."""
    o = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m")
    ).select(F.col("m").cast("date").alias("month_start"))
    per_month = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice", "revenue"),
    )
    return (
        months.join(per_month, "month_start", "left")
        .select(
            "month_start",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# conditional / distinct-on / string distance
# ---------------------------------------------------------------------------


def q_cond_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/NULLIF/GREATEST/LEAST surface over customer balances.

    Non-finite balances are MISSING DATA (the engine-wide wave-3 policy),
    and here that is not just convention but a hard parity requirement:
    DuckDB 1.0's parquet zone-map constant-folding is NaN-UNSOUND — on a
    row group whose finite max sits between two CASE thresholds, a NaN
    c_acctbal read from parquet evaluates `>= 7500` as False (folded from
    stats that exclude NaN) but `>= 5000` as True (executed with
    NaN-is-greatest total order), landing in the WRONG tier, while the
    same literal NaN lands in the top tier (fuzz wave-4 seed 104012,
    probed bare-engine: three different answers for one value depending
    on evaluation path). finite_or_null + the oracle's isfinite REPLACE
    rewrite pin one deterministic answer in both engines: NULL balance →
    every threshold comparison NULL → 'delinquent' tier, NULL floor/cap."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "c_acctbal", finite_or_null("c_acctbal")
    )
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 7500, "platinum")
        .when(F.col("c_acctbal") >= 5000, "gold")
        .when(F.col("c_acctbal") >= 0, "standard")
        .otherwise("delinquent")
        .alias("tier"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")
        ).alias("seg_or_other"),
        # explicit NULL-gate: F.greatest/LEAST skip NULLs (would yield the
        # literal bound for a missing balance) — a missing balance has no
        # floor/cap in either engine
        F.when(
            F.col("c_acctbal").isNotNull(),
            F.round(F.greatest(F.col("c_acctbal"), F.lit(0.0)), 6),
        ).alias("bal_floor"),
        F.when(
            F.col("c_acctbal").isNotNull(),
            F.round(F.least(F.col("c_acctbal"), F.lit(9000.0)), 6),
        ).alias("bal_cap"),
    )


def q_distinct_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON-equivalent: latest event per (user, event_type); ms-grain
    timestamp output per the ns-parquet gotcha."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.round("value", 6).alias("value"),
        )
    )


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join: per-nation customer vs supplier presence, keeping
    nations that have only one side (null-filled counts)."""
    c = (
        load_table(spark, sf_dir, "customer").withColumn("c_acctbal", finite_or_null("c_acctbal"))
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier").withColumn("s_acctbal", finite_or_null("s_acctbal"))
        .where(F.col("s_acctbal") > 0)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            "nk",
            F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


def q_window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (gap-fill) via last_value IGNORE NULLS: purchase events
    carry a value, other event types observe the user's most recent purchase
    value — the canonical sparse-signal propagation pattern."""
    e = load_table(spark, sf_dir, "events")
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    # asc_nulls_last: Spark windows default NULLS FIRST, DuckDB NULLS
    # LAST — a NULL-ts event must sort after every timed one in BOTH
    # engines or its fill reads "before the first purchase" here and
    # "after the last" there (r10 hostile edge, the r9 window-order
    # lesson applied to this key)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.last(purchase_val, ignorenulls=True).over(w), 6
        ).alias("last_purchase_value"),
    )


def q_scalar_array_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra on token arrays: intersect/union/except sizes,
    overlap flag, flatten+distinct. The array column is rendered as one
    comma-joined STRING cell (sorted first) because the driver's
    canonicalizer hashes scalar cells only — list-typed output columns are
    un-sortable pandas objects there (r3 driver ERR; VERDICT r3 item 1)."""
    from clusterindices_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = tokens(F.col("text"))
    head = F.slice(toks, 1, 12)
    tail = F.slice(toks, 7, 12)
    all_toks = F.array_sort(F.array_distinct(F.flatten(F.array(head, tail))))
    nn = F.col("text").isNotNull()
    # NULL text -> NULL outputs (concat_ws/size would render ''/-1 while
    # the oracle NULL-propagates — r9 hostile edge)
    return d.select(
        "doc_id",
        F.when(nn, F.size(F.array_intersect(head, tail))).alias("n_inter"),
        F.when(nn, F.size(F.array_union(head, tail))).alias("n_union"),
        F.when(nn, F.size(F.array_except(head, tail))).alias("n_except"),
        F.when(nn, F.arrays_overlap(head, tail)).alias("overlaps"),
        F.when(nn, F.concat_ws(",", all_toks)).alias("all_toks_csv"),
    )


def q_scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse JSON props to MAP<STRING,INT>, then
    keys / values / lookup / containment. keys/vals are comma-joined STRING
    cells (sorted) — same driver-canonicalizer constraint as
    q_scalar_array_set."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "MAP<STRING, INT>")
    # NULL-map guard (r9 hostile edge): malformed / non-object / NULL
    # props parse to a NULL map, and concat_ws would render that as ''
    # while the oracle's guarded CASE yields NULL — emit NULL explicitly
    return e.select(
        "event_id",
        F.when(
            m.isNotNull(), F.concat_ws(",", F.array_sort(F.map_keys(m)))
        ).alias("keys_csv"),
        F.when(
            m.isNotNull(),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.map_values(m)), lambda v: v.cast("string")
                ),
            ),
        ).alias("vals_csv"),
        m.getItem("k").alias("k_val"),
        F.array_contains(F.map_keys(m), "k").alias("has_k"),
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: per customer, revenue of all orders within
    the 30 days preceding each order (inclusive). Ordered on epoch days so
    both engines share exact numeric frame semantics."""
    o = load_table(spark, sf_dir, "orders").withColumn("o_totalprice", finite_or_null("o_totalprice"))
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_day"))
        .rangeBetween(-30, 0)
    )
    return (
        o.withColumn("o_day", day)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast(
                    "double"
                ),
                6,
            ).alias("rev_30d"),
            F.count(F.lit(1)).over(w).alias("n_30d"),
        )
    )


def q_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").alias("lev_brand_type"),
        F.reverse(F.col("p_brand")).alias("rev_brand"),
        F.lpad("p_brand", 12, "_").alias("brand_padded"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.replace(F.col("p_type"), F.lit("O"), F.lit("0")).alias("typ0"),
    )


def q_merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (upsert + delete) without a table format: apply a change
    set to the orders snapshot and return the post-merge table. The change
    set is derived deterministically from the snapshot itself so the
    result is oracle-checkable: orderkeys ≡ 0 (mod 10) get a 10% price
    update, ≡ 3 (mod 23) are deleted, and one synthetic insert per
    customer with c_custkey ≡ 0 (mod 100).

    Plan shape: MERGE = one left-anti join (drop updated+deleted keys from
    the base) + union of the update/insert images — a single shuffle on
    the merge key. At 100 TB this is the partition-overwrite upsert
    pattern (rewrite only affected partitions); with a managed table
    format (Delta/Iceberg) the same logical change set feeds MERGE INTO
    directly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    deletes = o.where(F.col("o_orderkey") % 23 == 3).select("o_orderkey")
    # MERGE precedence: a key matched by both an update and a delete image
    # is DELETED (e.g. orderkey 210 ≡ 0 mod 10 and ≡ 3 mod 23) — the
    # update set excludes deleted keys so a dead row can't resurrect
    updates = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .join(deletes, "o_orderkey", "left_anti")
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 6))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 100 == 0)
        .select(
            # negated custkey: TPC-H orderkeys are strictly positive, so the
            # synthetic insert key space is disjoint at EVERY scale factor
            # (an additive offset collides once base keys pass it, ~SF 167)
            (-F.col("c_custkey")).alias("o_orderkey"),
            F.col("c_custkey").alias("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0.0).alias("o_totalprice"),
        )
    )
    touched = updates.select("o_orderkey").union(deletes)
    return (
        o.join(touched, "o_orderkey", "left_anti")
        .withColumn("o_totalprice", F.round("o_totalprice", 6))
        .unionByName(updates.withColumn("o_totalprice", F.round("o_totalprice", 6)))
        .unionByName(inserts)
    )


def q_agg_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: refresh the aggregate
    ``orders GROUP BY o_orderstatus → (count, sum_price)`` under the SAME
    deterministic CDC change set as ``merge_upsert_cdc`` — WITHOUT
    re-scanning the base for the refresh. Each change image becomes signed
    delta rows (update = −old contribution at the old status + new
    contribution at 'U' — a group-KEY-moving update; delete = −old;
    insert = +new), the deltas fold to per-group (Δn, Δsum), and the new
    MV is base ⟗ delta with ``n + Δn``, groups reaching zero dropped.

    All sums stay in DECIMAL(18,6) until the final render, so the
    incremental path is EXACTLY associative — base_sum + Δ equals the
    full recompute bit-for-bit, which is what the oracle gates (full
    recompute over the merged table: algorithm ≡ definition, the
    agg_weighted_median contract).

    Scale: this is the continuous-aggregate refresh pattern — the delta
    branch scans only changed rows, the base MV is group-cardinality
    (K rows), and the combine is a K-row full-outer join. At 100 TB a
    refresh costs O(|delta|), never O(|base|); the base_mv branch here
    stands in for the stored MV table a real deployment would read.
    """
    o = load_table(spark, sf_dir, "orders").withColumn("o_totalprice", finite_or_null("o_totalprice")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    base_mv = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")
    )
    del_keys = o.where(F.col("o_orderkey") % 23 == 3)
    upd = o.where(F.col("o_orderkey") % 10 == 0).join(
        del_keys.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    delta_rows = (
        del_keys.select(
            "o_orderstatus", F.lit(-1).alias("dn"), (-dec).alias("ds")
        )
        .unionByName(
            upd.select(
                "o_orderstatus", F.lit(-1).alias("dn"), (-dec).alias("ds")
            )
        )
        .unionByName(
            upd.select(
                F.lit("U").alias("o_orderstatus"),
                F.lit(1).alias("dn"),
                F.round(F.col("o_totalprice") * 1.1, 6)
                .cast("decimal(18,6)")
                .alias("ds"),
            )
        )
        .unionByName(
            load_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % 100 == 0)
            .select(
                F.lit("N").alias("o_orderstatus"),
                F.lit(1).alias("dn"),
                F.lit(0.0).cast("decimal(18,6)").alias("ds"),
            )
        )
    )
    delta = delta_rows.groupBy("o_orderstatus").agg(
        F.sum("dn").alias("dn"), F.sum("ds").alias("ds")
    )
    zero = F.lit(0).cast("decimal(28,6)")
    # eqNullSafe, not USING: the base MV and the delta both carry a NULL
    # status GROUP (GROUP BY keys NULLs together), but an equi-join key
    # never matches NULL — the two NULL-group rows stayed split while the
    # oracle's full recompute unifies them (fuzz gate seed 101001).
    b, d = base_mv.alias("b"), delta.alias("d")
    combined = b.join(
        d,
        F.col("b.o_orderstatus").eqNullSafe(F.col("d.o_orderstatus")),
        "full_outer",
    ).select(
        F.coalesce(
            F.col("b.o_orderstatus"), F.col("d.o_orderstatus")
        ).alias("o_orderstatus"),
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        ).alias("n_orders"),
        # all-NULL group (every price non-finite/NULL after the wave-3
        # filter): SUM is NULL in the oracle's full recompute — coalescing
        # both legs to 0 manufactured a 0.0 (fuzz seed 103035, empty:docs
        # trial with an all-special status group)
        F.when(
            F.col("s").isNull() & F.col("ds").isNull(),
            F.lit(None).cast("decimal(28,6)"),
        ).otherwise(
            F.coalesce(F.col("s"), zero) + F.coalesce(F.col("ds"), zero)
        ).alias("s_new"),
    )
    return combined.where(F.col("n_orders") > 0).select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round(F.col("s_new").cast("double"), 6).alias("sum_price"),
    )


SPATIAL_PLANE_M = 9_999_991  # prime plane extent (meters) for hash coords
SPATIAL_RADIUS_M = 250_000
SPATIAL_HASH_X = 2654435761
SPATIAL_HASH_Y = 1597334677


def _spatial_xy(key_col, off_x: int, off_y: int):
    k = key_col % SPATIAL_PLANE_M
    x = (k * SPATIAL_HASH_X + off_x) % SPATIAL_PLANE_M
    y = (k * SPATIAL_HASH_Y + off_y) % SPATIAL_PLANE_M
    return x, y


def q_join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join — all (customer, supplier) pairs within 250 km
    on a deterministic planar meter grid (coords from the overflow-safe
    Knuth hash, so the oracle replays them in SQL). The scale shape is the
    GRID-CELL equi-join: cells sized exactly one radius, one side exploded
    to its 3×3 neighborhood, equi-join on the cell id, EXACT integer
    d² ≤ r² post-filter. Pigeonhole guarantees completeness (|Δx| ≤ r ⇒
    adjacent cell columns), the other side stays unexploded so every
    qualifying pair matches exactly once, and nothing is ever quadratic —
    the brute-force cross join lives only in the DuckDB oracle.

    Distances are exact BIGINT squares; the reported dist_m uses IEEE
    sqrt (correctly rounded, hence engine-identical) floored to meters —
    no trig anywhere (haversine's sin/cos are NOT correctly rounded
    across engines and would drift the hash).
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    cx, cy = _spatial_xy(F.col("c_custkey"), 7, 11)
    sx, sy = _spatial_xy(F.col("s_suppkey"), 13, 17)
    r = F.lit(SPATIAL_RADIUS_M).cast("bigint")
    cust = c.select("c_custkey", cx.alias("x"), cy.alias("y"))
    supp = s.select(
        "s_suppkey",
        sx.alias("sx"),
        sy.alias("sy"),
        F.floor(sx / r).alias("cx"),
        F.floor(sy / r).alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    cust9 = cust.select(
        "c_custkey",
        "x",
        "y",
        F.explode(offsets).alias("o"),
    ).select(
        "c_custkey",
        "x",
        "y",
        (F.floor(F.col("x") / r) + F.col("o.dx")).alias("cx"),
        (F.floor(F.col("y") / r) + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        cust9.join(supp, ["cx", "cy"])
        .where(d2 <= r * r)
        .select(
            "c_custkey",
            "s_suppkey",
            F.floor(F.sqrt(d2.cast("double"))).cast("bigint").alias("dist_m"),
        )
    )


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT via bitmap words — the roaring-bitmap pattern
    every warehouse ships for dense-id domains: per (event_type, id-word)
    the 64 users sharing ⌊id/64⌋ OR into ONE BIGINT (bit_or map-side
    combines like any agg), then popcounts sum per type. Two rounds of
    tiny shuffles — (type, word) then type — instead of the
    distinct-shuffle of raw ids: the shuffled bytes shrink 64× on dense
    domains, and the words themselves are the mergeable distinct SKETCH
    (exact, unlike HLL) that rollups can OR again at coarser grains.

    The oracle is the DEFINITIONAL ``COUNT(DISTINCT user_id)`` — the gate
    certifies algorithm ≡ definition. The sign bit is load-bearing: id%64
    = 63 sets bit 63 (negative BIGINT) and both engines' two's-complement
    bit_or/bit_count agree bit-for-bit.

    The word index is integer ``div`` — BIGINT ``/`` in Spark is DOUBLE
    division, and past 2⁵³ the quotient loses low bits, so two distinct
    snowflake-scale ids can collapse onto one (word, bit) and silently
    undercount (the events_ewma_smooth integer-div rule; boundary test
    plants 2⁵³+1 / 2⁵³+2 in tests/test_r7b_ops.py)."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    word = F.expr("user_id div 64")
    # F.shiftleft only takes a LITERAL bit count — column positions go
    # through call_function (the getbit convention)
    bit = F.call_function(
        "shiftleft",
        F.lit(1).cast("bigint"),
        (F.col("user_id") % 64).cast("int"),
    )
    words = e.groupBy("event_type", word.alias("w")).agg(
        F.bit_or(bit).alias("bits")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


EQUIDEPTH_BUCKETS = 8


def q_agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram over ``o_totalprice`` — the statistic ANALYZE
    TABLE collects for selectivity estimation: 8 buckets of (near-)equal
    row count with exact boundaries, each bucket's min/max/count/sum and
    distinct-price count. Bucket id = ⌈rank·B/n⌉ over the EXACT global
    rank (ties → orderkey), so boundaries are type-1 order statistics —
    no interpolation, no sampling, and the integer bucket arithmetic
    leaves zero float-drift surface (min/max are raw column values; the
    sum is exact decimal).

    Scale: the RANGE-PARTITIONED global rank (functions/ranking.py —
    parallel local sorts + P-row broadcast offsets, never a
    single-partition window) feeds a B-group agg. An optimizer would
    sample instead; this is the exact form the sampled one is judged
    against."""
    from clusterindices_spark.functions.aggregates import exact_sum
    from clusterindices_spark.functions.ranking import ranked as _gl_ranked

    # histograms are statistics over NON-NULL values (null_frac is a
    # separate statistic) — standard ANALYZE semantics, both engines (r9)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull())
        .select("o_orderkey", "o_totalprice")
    )
    r = _gl_ranked(
        o,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="rk",
    )
    n = o.count()
    bucket = F.ceil(F.col("rk") * EQUIDEPTH_BUCKETS / F.lit(n)).cast("int")
    return (
        r.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
            F.countDistinct("o_totalprice").alias("n_distinct"),
            exact_sum("o_totalprice", "sum_price"),
        )
    )


INTERVAL_TOLERANCE_MS = 60_000


def q_join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join at fact scale: every (click, error) pair within
    ±1 minute, with NO equi key — the shape Spark would otherwise plan as a
    broadcast-nested-loop / cartesian scan. The scale technique: quantize
    time into tolerance-width buckets, explode one side to its bucket and
    both neighbors, equi-join on bucket, then apply the exact band filter.
    Each row joins only its ±1-bucket neighborhood, so the plan is a
    partitioned hash join whose width is the bucket occupancy, not n² —
    this is the range-join-binning optimization expressed manually.

    No dedup is needed: only the click side is exploded, the error side
    keeps its single home bucket, and the click's three exploded buckets
    are distinct — so each (click, error) pair meets in at most one
    bucket. (Exploding BOTH sides would need a distinct() — an extra
    fact-scale shuffle this formulation avoids.)"""
    ev = load_table(spark, sf_dir, "events")
    tol = INTERVAL_TOLERANCE_MS
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.unix_millis("ts").alias("c_ms"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.unix_millis("ts").alias("e_ms"),
    )
    cbucket = F.floor(F.col("c_ms") / F.lit(tol)).cast("bigint")
    exploded = clicks.select(
        "click_id",
        "c_ms",
        F.explode(
            F.array(cbucket - 1, cbucket, cbucket + 1)
        ).alias("bucket"),
    )
    binned = errors.withColumn(
        "bucket", F.floor(F.col("e_ms") / F.lit(tol)).cast("bigint")
    )
    return (
        exploded.join(binned, "bucket")
        .where(F.abs(F.col("c_ms") - F.col("e_ms")) <= tol)
        .select(
            "click_id",
            "error_id",
            (F.col("e_ms") - F.col("c_ms")).alias("delta_ms"),
        )
    )


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity suite: the corner where engines quietly
    disagree. Fixtures ship no NULLs, so they are derived deterministically
    (NULLIF on modular predicates), then the key NULL behaviors are
    exercised in one result: grouping by a nullable key (the NULL group
    must survive), COUNT(*) vs COUNT(col), null-skipping SUM/AVG, COALESCE,
    and a null-safe-equality self-join (Spark eqNullSafe ≡ SQL IS NOT
    DISTINCT FROM) counted per group on a bounded slice."""
    o = load_table(spark, sf_dir, "orders").withColumn("o_totalprice", finite_or_null("o_totalprice"))
    k = F.nullif(F.col("o_orderkey") % 7, F.lit(3))
    s = F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    base = o.select(
        "o_orderkey",
        k.alias("k"),
        s.alias("s"),
        F.col("o_totalprice").alias("price"),
    )
    grouped = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s").alias("n_s_nonnull"),
        F.round(F.sum(F.col("price").cast("decimal(18,6)")).cast("double"), 6).alias(
            "sum_price"
        ),
        F.countDistinct(F.coalesce("s", F.lit("<null>"))).alias(
            "n_distinct_coalesced"
        ),
    )
    # null-safe self-join on a bounded slice: NULL <=> NULL matches
    small = base.where(F.col("o_orderkey") < 200).select(
        F.col("o_orderkey").alias("ok_a"), F.col("k").alias("k_a")
    )
    small_b = base.where(F.col("o_orderkey") < 200).select(
        F.col("o_orderkey").alias("ok_b"), F.col("k").alias("k_b")
    )
    ns = (
        small.join(small_b, F.col("k_a").eqNullSafe(F.col("k_b")))
        .groupBy(F.col("k_a").alias("k_ns"))
        .agg(F.count(F.lit(1)).alias("n_nullsafe_pairs"))
    )
    # the re-join must itself be null-safe or the NULL group's row drops out
    return grouped.join(
        ns, F.col("k").eqNullSafe(F.col("k_ns")), "left"
    ).select(
        "k",
        "n_rows",
        "n_s_nonnull",
        "sum_price",
        "n_distinct_coalesced",
        F.coalesce("n_nullsafe_pairs", F.lit(0)).alias("n_nullsafe_pairs"),
    )


def q_agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (p25/p50/p75/p90/p99) of events.value per
    event_type — the percentile ladder every data-quality dashboard needs.
    Spark's `percentile` and DuckDB's `quantile_cont` share the definition
    (linear interpolation at index p·(n−1)); round6_stable guards the
    interpolation's last-ulp. One hash agg over ≤ a handful of event types;
    at 100 TB the per-group sort is the cost — prefer `approx_percentile`
    (t-digest, map-side combinable) when ±0.1% error is acceptable, exact
    percentile only on pre-aggregated or sampled inputs."""
    from clusterindices_spark.functions.aggregates import round6_stable

    ev = load_table(spark, sf_dir, "events").withColumn("value", finite_or_null("value"))
    ps = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9, "p99": 0.99}
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            round6_stable(F.percentile("value", F.lit(p))).alias(name)
            for name, p in ps.items()
        ],
    )


def q_agg_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for the percentile ladder: `approx_percentile`
    (KLL/t-digest-family sketch) keeps BOUNDED per-group state and
    map-side-combines, where exact `percentile` holds every value. Sketches
    are engine-specific → rows-only driver check; the accuracy contract
    (relative rank error ≤ 1/accuracy) is pinned against the exact ladder
    in tests/test_textops_ext.py."""
    ev = load_table(spark, sf_dir, "events")
    ps = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9, "p99": 0.99}
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.round(
                F.percentile_approx("value", F.lit(p), F.lit(10000)), 6
            ).alias(name)
            for name, p in ps.items()
        ],
    )


MERGE_HORIZON_MS = 300_000  # 5-minute activity halo per event


def q_window_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping spans) — the gaps-and-islands
    classic behind uptime/coverage/attribution windows: each event opens a
    5-minute activity interval; per user, overlapping intervals merge into
    maximal covered spans. A new island starts when the running max of
    previous interval ends is < the current start; island ids are a
    cumulative sum of those breaks. All arithmetic on BIGINT epoch-ms
    (ns-parquet ts truncated identically by unix_millis/epoch_ms —
    TESTDATA.md), so the island assignment is bit-deterministic.

    Scale: ONE shuffle by user_id feeding both windows and the final
    groupBy (same key, AQE-reused exchange); per-row state is O(1)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("t"),
    )
    end = F.col("t") + F.lit(MERGE_HORIZON_MS)
    # asc_nulls_last (r10 hostile edge): a NULL-ts event must sort LAST as
    # in DuckDB — NULLS FIRST makes it open a phantom island AND breaks
    # the next row (its pme is NULL+horizon = NULL); last, it joins the
    # final island identically in both engines (pme < NULL → ELSE 0)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("t"), "event_id"
    )
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_end.isNull() | (prev_max_end < F.col("t")), 1
    ).otherwise(0)
    islands = e.withColumn("island", F.sum(brk).over(w))
    return islands.groupBy("user_id", "island").agg(
        F.min("t").alias("span_start_ms"),
        F.max(end).alias("span_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_agg_bool_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates + deterministic per-group mode: bool_and/bool_or
    (ANSI EVERY/ANY) over predicate columns, plus the modal order status
    per priority picked via max(struct(cnt, value)) — the tie-break
    (higher count, then lexicographically larger value) is explicit, so
    the result never depends on either engine's internal mode() order."""
    o = load_table(spark, sf_dir, "orders")
    sc = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # tie-break struct carries an explicit has-status flag: on a count
    # tie between a NULL status and a real one, a NULL second field
    # sorts SMALLEST in Spark's struct order but LARGEST in DuckDB's —
    # the boolean decides the tie identically in both engines before
    # either reaches the NULL field (fuzz gate seed 101001; same engine
    # boundary scalar_struct pins on its first field).
    modal = sc.groupBy("o_orderpriority").agg(
        F.max(
            F.struct(
                "cnt",
                F.col("o_orderstatus").isNotNull().alias("has"),
                "o_orderstatus",
            )
        ).alias("m")
    )
    flags = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
        # count-form, not sum-of-bool-cast: an all-NULL-status priority
        # group sums to NULL in Spark (NULL bools are skipped) while the
        # oracle's CASE ... ELSE 0 yields 0 — COUNT is 0 in both (the
        # matryoshka frac_majority class, fuzz gate seed 101002)
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
    )
    return flags.join(F.broadcast(modal), "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        "all_positive",
        "any_jumbo",
        "n_f",
        F.col("m.o_orderstatus").alias("modal_status"),
        F.col("m.cnt").alias("modal_count"),
    )


def q_scalar_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT-typed column surface: named_struct construction, field
    access, struct ordering (max of (value, key) structs per group), and
    JSON rendering. Output structs are serialized with to_json (the driver
    canonicalizer hashes scalar cells only); fields are INT/STRING so the
    JSON rendering is byte-identical across engines."""
    c = load_table(spark, sf_dir, "customer").withColumn("c_acctbal", finite_or_null("c_acctbal"))
    s = F.struct(
        # BIGINT, not INT: snowflake-scale custkeys overflow an INT cast
        # with an ANSI error (r9 hostile bigid)
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
    )
    per = c.select(
        "c_nationkey",
        s.alias("s"),
        # NULL-balance rows can't win top-balance: a NULL first field
        # sorts SMALLEST in Spark struct order but LARGEST in DuckDB —
        # excluding them (CASE → NULL struct, ignored by MAX in both
        # engines) pins one semantic (r9 hostile edge)
        F.when(
            F.col("c_acctbal").isNotNull(),
            F.struct(
                # floor then cast: double→int CAST truncates in Spark but
                # rounds in DuckDB — floor() agrees everywhere
                F.floor(F.col("c_acctbal")).cast("bigint").alias("bal_int"),
                F.col("c_custkey").alias("key"),
            ),
        ).alias("ranked"),
    )
    return per.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("s.key")).alias("min_key"),
        F.to_json(F.max("ranked")).alias("top_bal_json"),
    )


def q_scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface: AND/OR/XOR, shifts, popcount, and the
    pack-two-fields-into-one-bigint idiom (key ≪ 8 | bucket) with its
    unpack — the bit-level toolkit behind flag columns, composite keys,
    and signature comparisons. Pure scan-side expression work.

    OUTPUT CONTRACT (since the r10½ fuzz fix, seed 101001): ``packed`` /
    ``unpacked_key`` encode ``pmod(o_orderkey, 2^44)``, NOT the raw key —
    DuckDB hard-errors on left-shifting a negative number while Spark
    wraps two's-complement, so the pack normalizes first. Consequently
    ``unpacked_key == o_orderkey`` holds only for keys in [0, 2^44);
    negative or >= 2^44 keys do NOT round-trip (consumers needing the raw
    key have it in the ``o_orderkey`` column carried alongside)."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    bucket = F.pmod(k, F.lit(251)).cast("bigint")
    # pack the pmod-normalized key, not the raw one: DuckDB hard-errors on
    # left-shifting a negative number while Spark wraps two's-complement
    # (fuzz gate seed 101001). 44 bits << 8 stays inside bigint in both
    # engines; &, xor, bit_count, >> agree on raw negatives (probed) and
    # keep the raw key.
    nk = F.pmod(k, F.lit(1 << 44))
    packed = F.shiftleft(nk, 8).bitwiseOR(F.pmod(bucket, F.lit(256)))
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseXOR(bucket).alias("xor_bucket"),
        F.bit_count(k).alias("popcount"),
        packed.alias("packed"),
        F.shiftright(packed, 8).alias("unpacked_key"),
        packed.bitwiseAND(F.lit(255)).alias("unpacked_bucket"),
    )


def q_scd2_status_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (the warehouse dimension-versioning
    pattern) from an append-only change log: per customer, consecutive
    runs of the same order status collapse into validity intervals
    [valid_from, valid_to) with the classic gaps-and-islands device — a
    change flag (status ≠ lag) running-summed into an island id, one agg
    per island, lead() for the closing bound (NULL = current row, the
    open interval). Deterministic ordering via (o_orderdate, o_orderkey).

    Scale: two customer-partitioned windows + one (customer, island) agg
    — fully parallel across customers, no global structure; exactly the
    SCD2 merge a warehouse runs at any size."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderstatus",
    )
    # asc_nulls_last: undated orders sort last in both engines (r9)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("d"), "o_orderkey"
    )
    chg = (
        F.lag("o_orderstatus").over(w).isNull()
        | (F.col("o_orderstatus") != F.lag("o_orderstatus").over(w))
    ).cast("int")
    islands = o.withColumn(
        "island",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = islands.groupBy("o_custkey", "island").agg(
        F.max("o_orderstatus").alias("status"),
        F.min("d").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("island")
    return runs.select(
        "o_custkey",
        F.col("island").cast("bigint").alias("version"),
        "status",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_orders",
    )


WM_BUCKET_CENTS = 1_000_000  # $10k CDF buckets over the price domain


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (quantity-weighted extended price per return
    flag) via the scale-correct two-pass bucketed-CDF algorithm — the
    definitional computation sorts the whole group under a window, which
    is exactly what cannot run at 100 TB; here:

      pass 1: per-group bucket weight histogram (map-side combined) →
              a B-row CDF per group → the winning bucket (first with
              2·cum ≥ total) + the cumulative weight BEFORE it;
      pass 2: only the winning bucket's rows (≈ n/B) re-aggregate by
              exact price; the within-bucket CDF offset by pass 1's
              prefix picks the exact median.

    No data-scale sort or window anywhere — windows run over B-row and
    within-bucket price tables. If a bucket is still too large, the same
    split recurses (one more pass per 10³ reduction). The ORACLE is the
    O(n·log n) definitional form (full sorted CDF) — so the gate proves
    the ALGORITHM equals the definition, not merely that two engines ran
    the same expressions. All arithmetic is exact integer cents/weights;
    the only float is the final cents/100 rendering."""
    li = load_table(spark, sf_dir, "lineitem").withColumn("l_extendedprice", finite_or_null("l_extendedprice")).withColumn("l_quantity", finite_or_null("l_quantity")).select(
        F.col("l_returnflag").alias("rf"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("w"),
    ).where(
        # NULL-price rows can't join the median's value axis: Spark's cum
        # window (ORDER BY bucket ASC) puts the NULL bucket FIRST while
        # DuckDB's (ORDER BY cents ASC) puts NULL LAST — the CDF prefix
        # would differ whenever NULL-price rows carry weight (fuzz gate
        # seed 101001). Median-of-known-prices is the pinned contract,
        # WHERE cents IS NOT NULL in the oracle.
        F.col("cents").isNotNull()
    )
    b = li.withColumn(
        "bucket", F.floor(F.col("cents") / F.lit(WM_BUCKET_CENTS)).cast("bigint")
    )
    bw = b.groupBy("rf", "bucket").agg(F.sum("w").alias("bw"))
    w_cum = (
        Window.partitionBy("rf")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bc = bw.withColumn("cum", F.sum("bw").over(w_cum)).withColumn(
        "tot", F.sum("bw").over(Window.partitionBy("rf"))
    )
    w_pick = Window.partitionBy("rf").orderBy("bucket")
    cand = (
        bc.where(2 * F.col("cum") >= F.col("tot"))
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select(
            "rf",
            F.col("bucket").alias("b_star"),
            (F.col("cum") - F.col("bw")).alias("prev_cum"),
            "tot",
        )
    )
    # eqNullSafe: the NULL return-flag GROUP is legitimate (GROUP BY keys
    # NULLs together) but an equi-join on rf silently dropped it from
    # pass 2 while the oracle kept it (fuzz gate seed 101001).
    in_b = (
        b.join(
            F.broadcast(cand.withColumnRenamed("rf", "rf_c")),
            F.col("rf").eqNullSafe(F.col("rf_c")),
        )
        .drop("rf_c")
        .where(F.col("bucket") == F.col("b_star"))
    )
    pw = in_b.groupBy("rf", "cents", "prev_cum", "tot").agg(
        F.sum("w").alias("pw")
    )
    w_cum2 = (
        Window.partitionBy("rf")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pick2 = Window.partitionBy("rf").orderBy("cents")
    return (
        pw.withColumn(
            "cum2", F.col("prev_cum") + F.sum("pw").over(w_cum2)
        )
        .where(2 * F.col("cum2") >= F.col("tot"))
        .withColumn("rn", F.row_number().over(w_pick2))
        .where(F.col("rn") == 1)
        .select(
            F.col("rf").alias("l_returnflag"),
            F.col("tot").alias("total_weight"),
            (F.col("cents") / F.lit(100.0)).alias("weighted_median"),
        )
    )


Q_BUCKET_MICROS = 1_000_000  # unit-width CDF buckets over value micros
# type-1 (lower order statistic) quantiles as exact fractions — integer
# rank arithmetic end-to-end, no float p
Q_FRACTIONS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def q_agg_quantiles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT type-1 quantiles (p50/p90/p99 order statistics of
    events.value per type) via the bucketed-CDF algorithm — the third
    tier of the quantile family: `agg_quantiles` is the interpolated
    exact form whose per-group sort is the 100 TB cost, `agg_quantiles_
    approx` is the bounded-error sketch, and THIS is exact AND scalable:
    all requested quantiles share ONE B-row CDF per group (pass 1), then
    one refinement pass touches only the winning buckets (≈ n/B rows
    per quantile). Ranks are exact integer fractions (⌈p·n⌉ via
    (num·n + den − 1) DIV den) — no float p anywhere; the only float is
    the final micros/1e6 rendering.

    The ORACLE is the definitional form (smallest value whose cumulative
    count reaches the rank, over the full sorted CDF) — the gate
    certifies algorithm ≡ definition (the weighted-median contract)."""
    # quantiles are over NON-NULL values (oracle mirrors; r9 hostile edge)
    ev = load_table(spark, sf_dir, "events").withColumn("value", finite_or_null("value")).where(F.col("value").isNotNull())
    vm = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    ex = ev.select(F.col("event_type").alias("et"), vm.alias("vm"))
    b = ex.withColumn(
        "bucket", F.floor(F.col("vm") / F.lit(Q_BUCKET_MICROS)).cast("bigint")
    )
    bw = b.groupBy("et", "bucket").agg(F.count(F.lit(1)).alias("bw"))
    w_cum = (
        Window.partitionBy("et")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bc = bw.withColumn("cum", F.sum("bw").over(w_cum)).withColumn(
        "tot", F.sum("bw").over(Window.partitionBy("et"))
    )
    ps = local_frame(
        spark, list(Q_FRACTIONS), "p STRING, num LONG, den LONG"
    )
    tagged = bc.crossJoin(F.broadcast(ps)).withColumn(
        "r",
        F.expr("(num * tot + den - 1) DIV den"),
    )
    w_pick = Window.partitionBy("et", "p").orderBy("bucket")
    cand = (
        tagged.where(F.col("cum") >= F.col("r"))
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select(
            "et",
            "p",
            F.col("bucket").alias("b_star"),
            (F.col("cum") - F.col("bw")).alias("prev_cum"),
            "r",
            "tot",
        )
    )
    # eqNullSafe, not a bare equi-join: a NULL event_type forms a real
    # group in the CDF pass, and the refinement join must carry it — NULL
    # join keys never match, so `join(..., "et")` silently dropped the
    # NULL group's quantiles while the definitional oracle emitted them
    # (r10 hostile edge; the r9 dedup_chunk_exact lesson's join form)
    cand_r = cand.select(
        F.col("et").alias("cet"), "p", "b_star", "prev_cum", "r", "tot"
    )
    in_b = (
        b.join(
            F.broadcast(cand_r),
            F.col("et").eqNullSafe(F.col("cet"))
            & (F.col("bucket") == F.col("b_star")),
        )
        .drop("cet")
    )
    pw = in_b.groupBy("et", "p", "vm", "prev_cum", "r", "tot").agg(
        F.count(F.lit(1)).alias("pw")
    )
    w_cum2 = (
        Window.partitionBy("et", "p")
        .orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pick2 = Window.partitionBy("et", "p").orderBy("vm")
    return (
        pw.withColumn("cum2", F.col("prev_cum") + F.sum("pw").over(w_cum2))
        .where(F.col("cum2") >= F.col("r"))
        .withColumn("rn", F.row_number().over(w_pick2))
        .where(F.col("rn") == 1)
        .select(
            F.col("et").alias("event_type"),
            "p",
            F.col("tot").alias("n_rows"),
            (F.col("vm") / F.lit(1e6)).alias("q"),
        )
    )


QUERIES = {
    "agg_quantiles_bucketed": q_agg_quantiles_bucketed,
    "agg_weighted_median": q_agg_weighted_median,
    "scd2_status_intervals": q_scd2_status_intervals,
    "scalar_bitwise": q_scalar_bitwise,
    "window_interval_merge": q_window_interval_merge,
    "agg_bool_modal": q_agg_bool_modal,
    "scalar_struct": q_scalar_struct,
    "null_semantics": q_null_semantics,
    "agg_quantiles": q_agg_quantiles,
    "agg_quantiles_approx": q_agg_quantiles_approx,
    "join_interval_binned": q_join_interval_binned,
    "merge_upsert_cdc": q_merge_upsert_cdc,
    "agg_incremental_mv": q_agg_incremental_mv,
    "join_spatial_radius": q_join_spatial_radius,
    "agg_equidepth_histogram": q_agg_equidepth_histogram,
    "agg_bitmap_distinct": q_agg_bitmap_distinct,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_cube": q_agg_cube,
    "agg_stats": q_agg_stats,
    "pivot_wide": q_pivot_wide,
    "unpivot_long": q_unpivot_long,
    "subquery_scalar": q_subquery_scalar,
    "subquery_in": q_subquery_in,
    "window_distribution": q_window_distribution,
    "explode_lateral": q_explode_lateral,
    "sequence_dates": q_sequence_dates,
    "cond_expr": q_cond_expr,
    "distinct_latest": q_distinct_latest,
    "string_distance": q_string_distance,
    "scalar_map": q_scalar_map,
    "window_range_frame": q_window_range_frame,
    "scalar_array_set": q_scalar_array_set,
    "join_full_outer": q_join_full_outer,
    "window_fill_forward": q_window_fill_forward,
}

_EV = "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)"

ORACLES = {
    # DEFINITIONAL oracle: full sorted CDF per (type, p) — certifies the
    # bucketed two-pass algorithm equals the type-1 quantile definition
    "agg_quantiles_bucketed": """
WITH ex AS (
  SELECT event_type AS et,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL
),
pw AS (SELECT et, vm, CAST(COUNT(*) AS BIGINT) AS pw FROM ex GROUP BY 1, 2),
c AS (
  SELECT et, vm,
         CAST(SUM(pw) OVER (PARTITION BY et ORDER BY vm
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(pw) OVER (PARTITION BY et) AS BIGINT) AS tot
  FROM pw
),
ps AS (
  SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
    t(p, num, den)
),
m AS (
  SELECT c.et, ps.p, c.tot, c.vm,
         row_number() OVER (PARTITION BY c.et, ps.p ORDER BY c.vm) AS rn
  FROM c CROSS JOIN ps
  WHERE c.cum >= (ps.num * c.tot + ps.den - 1) // ps.den
)
SELECT et AS event_type, p, tot AS n_rows, vm / 1000000.0 AS q
FROM m WHERE rn = 1
""",
    # DEFINITIONAL oracle: the full sorted weighted CDF — deliberately a
    # different algorithm than the Spark two-pass bucketed form, so the
    # gate certifies algorithm ≡ definition (see q_agg_weighted_median)
    "agg_weighted_median": """
WITH li AS (
  SELECT l_returnflag AS rf,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
pw AS (SELECT rf, cents, CAST(SUM(w) AS BIGINT) AS pw FROM li GROUP BY 1, 2),
c AS (
  SELECT rf, cents,
         CAST(SUM(pw) OVER (PARTITION BY rf ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(pw) OVER (PARTITION BY rf) AS BIGINT) AS tot
  FROM pw
),
m AS (
  SELECT rf, cents, tot,
         row_number() OVER (PARTITION BY rf ORDER BY cents) AS rn
  FROM c WHERE 2 * cum >= tot
)
SELECT rf AS l_returnflag, tot AS total_weight,
       cents / 100.0 AS weighted_median
FROM m WHERE rn = 1
""",
    "scd2_status_intervals": """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderstatus
  FROM orders
),
flagged AS (
  SELECT *, CASE WHEN lag(o_orderstatus) OVER w IS NULL
                   OR o_orderstatus <> lag(o_orderstatus) OVER w
             THEN 1 ELSE 0 END AS chg
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
),
isl AS (
  SELECT *, CAST(SUM(chg) OVER (
      PARTITION BY o_custkey ORDER BY d, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
  FROM flagged
),
runs AS (
  SELECT o_custkey, island, MAX(o_orderstatus) AS status,
         MIN(d) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM isl GROUP BY 1, 2
)
SELECT o_custkey, island AS version, status, valid_from,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
         AS valid_to,
       n_orders
FROM runs
""",
    "scalar_bitwise": """
WITH b AS (
  -- pmod forms of the bucket and the pack base (Spark pmod ≡
  -- ((x % m) + m) % m); raw-key &/xor/bit_count/>> agree on negatives
  SELECT o_orderkey,
         ((o_orderkey % 251) + 251) % 251 AS bucket,
         ((o_orderkey % 17592186044416) + 17592186044416)
           % 17592186044416 AS nk
  FROM orders
)
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       xor(o_orderkey, bucket) AS xor_bucket,
       CAST(bit_count(o_orderkey) AS INT) AS popcount,
       (nk << 8) | (bucket % 256) AS packed,
       ((nk << 8) | (bucket % 256)) >> 8 AS unpacked_key,
       ((nk << 8) | (bucket % 256)) & 255 AS unpacked_bucket
FROM b
""",
    "window_interval_merge": """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t FROM events
),
m AS (
  SELECT user_id, event_id, t,
         MAX(t + 300000) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM e
),
isl AS (
  SELECT *, CAST(SUM(CASE WHEN pme IS NULL OR pme < t THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY t, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
  FROM m
)
SELECT user_id, island, MIN(t) AS span_start_ms, MAX(t + 300000) AS span_end_ms,
       COUNT(*) AS n_events
FROM isl GROUP BY user_id, island
""",
    "agg_bool_modal": """
WITH sc AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
modal AS (
  SELECT o_orderpriority,
         MAX(struct_pack(cnt := cnt,
                         has := o_orderstatus IS NOT NULL,
                         o_orderstatus := o_orderstatus)) AS m
  FROM sc GROUP BY o_orderpriority
),
flags AS (
  SELECT o_orderpriority, COUNT(*) AS n_orders,
         bool_and(o_totalprice > 0) AS all_positive,
         bool_or(o_totalprice > 400000) AS any_jumbo,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
  FROM orders GROUP BY o_orderpriority
)
SELECT f.o_orderpriority, n_orders, all_positive, any_jumbo, n_f,
       m.o_orderstatus AS modal_status, m.cnt AS modal_count
FROM flags f JOIN modal USING (o_orderpriority)
""",
    "scalar_struct": """
SELECT c_nationkey, COUNT(*) AS n,
       MIN(c_custkey) AS min_key,
       to_json(MAX(CASE WHEN c_acctbal IS NOT NULL THEN
                 struct_pack(bal_int := CAST(floor(c_acctbal) AS BIGINT),
                             key := c_custkey) END)) AS top_bal_json
FROM customer GROUP BY c_nationkey
""",
    "agg_quantiles": f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       {SQL_ROUND6.format(x="quantile_cont(value, 0.25)")} AS p25,
       {SQL_ROUND6.format(x="quantile_cont(value, 0.5)")} AS p50,
       {SQL_ROUND6.format(x="quantile_cont(value, 0.75)")} AS p75,
       {SQL_ROUND6.format(x="quantile_cont(value, 0.9)")} AS p90,
       {SQL_ROUND6.format(x="quantile_cont(value, 0.99)")} AS p99
FROM events GROUP BY event_type
""",
    "null_semantics": """
WITH base AS (
  SELECT o_orderkey,
         NULLIF(o_orderkey % 7, 3) AS k,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS s,
         o_totalprice AS price
  FROM orders
),
grouped AS (
  SELECT k,
         COUNT(*) AS n_rows,
         COUNT(s) AS n_s_nonnull,
         ROUND(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS sum_price,
         COUNT(DISTINCT COALESCE(s, '<null>')) AS n_distinct_coalesced
  FROM base GROUP BY k
),
ns AS (
  SELECT a.k AS k_ns, COUNT(*) AS n_nullsafe_pairs
  FROM (SELECT o_orderkey, k FROM base WHERE o_orderkey < 200) a
  JOIN (SELECT o_orderkey, k FROM base WHERE o_orderkey < 200) b
    ON a.k IS NOT DISTINCT FROM b.k
  GROUP BY a.k
)
SELECT k, n_rows, CAST(n_s_nonnull AS BIGINT) AS n_s_nonnull, sum_price,
       CAST(n_distinct_coalesced AS BIGINT) AS n_distinct_coalesced,
       CAST(COALESCE(n_nullsafe_pairs, 0) AS BIGINT) AS n_nullsafe_pairs
FROM grouped LEFT JOIN ns ON k IS NOT DISTINCT FROM k_ns
""",
    # the oracle states the semantics directly (DuckDB's IEJoin plans raw
    # interval predicates natively; Spark needs the binning technique)
    "join_interval_binned": f"""
WITH c AS (
  SELECT event_id AS click_id, epoch_ms(ts) AS c_ms
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT event_id AS error_id, epoch_ms(ts) AS e_ms
  FROM events WHERE event_type = 'error'
)
SELECT click_id, error_id, e_ms - c_ms AS delta_ms
FROM c JOIN e ON abs(c_ms - e_ms) <= {INTERVAL_TOLERANCE_MS}
""",
    "agg_bitmap_distinct": """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
       CAST(COUNT(DISTINCT user_id // 64) AS BIGINT) AS n_words
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type
""",
    "agg_equidepth_histogram": f"""
WITH r AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
         (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NOT NULL) AS n
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT CAST(ceil(rk * {EQUIDEPTH_BUCKETS} / CAST(n AS DOUBLE)) AS INT)
         AS bucket,
       COUNT(*) AS n_rows,
       ROUND(MIN(o_totalprice), 6) AS lo,
       ROUND(MAX(o_totalprice), 6) AS hi,
       COUNT(DISTINCT o_totalprice) AS n_distinct,
       {sql_exact_sum('o_totalprice')} AS sum_price
FROM r GROUP BY 1
""",
    "join_spatial_radius": f"""
WITH c AS (
  SELECT c_custkey,
         ((c_custkey % {SPATIAL_PLANE_M}) * {SPATIAL_HASH_X} + 7)
           % {SPATIAL_PLANE_M} AS x,
         ((c_custkey % {SPATIAL_PLANE_M}) * {SPATIAL_HASH_Y} + 11)
           % {SPATIAL_PLANE_M} AS y
  FROM customer
),
s AS (
  SELECT s_suppkey,
         ((s_suppkey % {SPATIAL_PLANE_M}) * {SPATIAL_HASH_X} + 13)
           % {SPATIAL_PLANE_M} AS sx,
         ((s_suppkey % {SPATIAL_PLANE_M}) * {SPATIAL_HASH_Y} + 17)
           % {SPATIAL_PLANE_M} AS sy
  FROM supplier
)
SELECT c_custkey, s_suppkey,
       CAST(floor(sqrt(CAST((c.x - s.sx) * (c.x - s.sx)
                          + (c.y - s.sy) * (c.y - s.sy) AS DOUBLE)))
         AS BIGINT) AS dist_m
FROM c, s
WHERE (c.x - s.sx) * (c.x - s.sx) + (c.y - s.sy) * (c.y - s.sy)
      <= CAST({SPATIAL_RADIUS_M} AS BIGINT) * {SPATIAL_RADIUS_M}
""",
    "agg_incremental_mv": f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
deletes AS (SELECT o_orderkey FROM base WHERE o_orderkey % 23 = 3),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         ROUND(o_totalprice * 1.1, 6) AS o_totalprice
  FROM base WHERE o_orderkey % 10 = 0
    AND o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
),
inserts AS (
  SELECT -c_custkey AS o_orderkey, 'N' AS o_orderstatus,
         0.0 AS o_totalprice
  FROM customer WHERE c_custkey % 100 = 0
),
merged AS (
  SELECT o_orderstatus, o_totalprice FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    AND o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
  UNION ALL SELECT o_orderstatus, o_totalprice FROM updates
  UNION ALL SELECT o_orderstatus, o_totalprice FROM inserts
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS sum_price
FROM merged GROUP BY o_orderstatus
""",
    "merge_upsert_cdc": """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
deletes AS (SELECT o_orderkey FROM base WHERE o_orderkey % 23 = 3),
updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         ROUND(o_totalprice * 1.1, 6) AS o_totalprice
  FROM base WHERE o_orderkey % 10 = 0
    AND o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
),
inserts AS (
  SELECT -c_custkey AS o_orderkey, c_custkey AS o_custkey,
         'N' AS o_orderstatus, 0.0 AS o_totalprice
  FROM customer WHERE c_custkey % 100 = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice, 6) AS o_totalprice
FROM base
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
  AND o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM inserts
""",
    "agg_cube": f"""
SELECT n_name, c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_exact_sum('c_acctbal')} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
""",
    "agg_grouping_sets": f"""
SELECT n_name, c_mktsegment,
       CAST(grouping(n_name) AS INT) AS g_nation,
       CAST(grouping(c_mktsegment) AS INT) AS g_segment,
       COUNT(*) AS n_customers,
       {sql_exact_sum('c_acctbal')} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment), ())
""",
    "agg_stats": """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
         SUM(CAST(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS sxx,
         SUM(CAST(l_discount AS DECIMAL(28,6))) AS sy,
         SUM(CAST(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS sxy,
         quantile_cont(l_quantity, 0.5) AS med
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_rows,
       ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n) / NULLIF(n-1, 0), 6) AS var_qty,
       ROUND(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n) / NULLIF(n-1, 0)), 6) AS stddev_qty,
       ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n) / NULLIF(n-1, 0), 6) AS covar_qty_disc,
       ROUND(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n) / NULLIF(n-1, 0))
             / NULLIF(sqrt(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n) / NULLIF(n-1, 0))
                  * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n) / NULLIF(n-1, 0))), 0), 6) AS corr_qty_disc,
       ROUND(med, 6) AS median_qty
FROM s
""",
    "pivot_wide": """
SELECT n_name,
       CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS AUTOMOBILE,
       CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS BUILDING,
       CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS BIGINT) AS FURNITURE,
       CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS BIGINT) AS HOUSEHOLD,
       CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS BIGINT) AS MACHINERY
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    "unpivot_long": """
SELECT p_partkey, 'size' AS metric, ROUND(CAST(p_size AS DOUBLE), 6) AS val FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, ROUND(p_retailprice, 6) AS val FROM part
""",
    "subquery_scalar": """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS price
FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT AVG(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
""",
    "subquery_in": """
SELECT o_orderkey, 'rich_customer' AS bucket
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
UNION ALL
SELECT o_orderkey, 'other' AS bucket
FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
""",
    "window_distribution": """
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       ROUND(first_value(c_acctbal) OVER wf, 6) AS seg_min,
       ROUND(last_value(c_acctbal) OVER wf, 6) AS seg_max
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
       wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    "explode_lateral": """
SELECT vec_id,
       CAST(unnest(range(len(embedding))) AS INT) AS pos,
       ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
FROM embeddings WHERE vec_id < 20
""",
    "sequence_dates": f"""
WITH months AS (
  SELECT CAST(unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                                     INTERVAL 1 MONTH)) AS DATE) AS month_start
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         COUNT(*) AS n_orders,
         {sql_exact_sum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT m.month_start,
       COALESCE(p.n_orders, 0) AS n_orders,
       COALESCE(p.revenue, 0.0) AS revenue
FROM months m LEFT JOIN per_month p USING (month_start)
""",
    "cond_expr": """
-- isfinite REPLACE = the Spark side's finite_or_null: DuckDB 1.0's
-- parquet zone-map folding is NaN-unsound for threshold comparisons
-- (wave-4 seed 104012) — a NaN balance must be missing data, not a
-- path-dependent tier
WITH c AS (
  SELECT * REPLACE (CASE WHEN isfinite(c_acctbal) THEN c_acctbal END
                    AS c_acctbal)
  FROM customer
)
SELECT c_custkey,
       CASE WHEN c_acctbal >= 7500 THEN 'platinum'
            WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 0 THEN 'standard'
            ELSE 'delinquent' END AS tier,
       COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_or_other,
       CASE WHEN c_acctbal IS NOT NULL
            THEN ROUND(GREATEST(c_acctbal, 0.0), 6) END AS bal_floor,
       CASE WHEN c_acctbal IS NOT NULL
            THEN ROUND(LEAST(c_acctbal, 9000.0), 6) END AS bal_cap
FROM c
""",
    "distinct_latest": f"""
SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms,
       ROUND(value, 6) AS value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM {_EV}
)
WHERE rn = 1
""",
    "join_full_outer": """
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_rich_cust
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp
  FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nk,
       COALESCE(n_rich_cust, 0) AS n_rich_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
    "window_fill_forward": f"""
SELECT event_id, user_id,
       ROUND(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS last_purchase_value
FROM {_EV}
""",
    "scalar_array_set": """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(translate(text, 'İΣ', 'iσ')), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 100
),
hs AS (
  SELECT doc_id, toks[1:12] AS head, toks[7:18] AS tail FROM t
)
SELECT doc_id,
       CAST(len(list_distinct(list_filter(head, x -> list_contains(tail, x)))) AS INT) AS n_inter,
       CAST(len(list_distinct(head || tail)) AS INT) AS n_union,
       CAST(len(list_distinct(list_filter(head, x -> NOT list_contains(tail, x)))) AS INT) AS n_except,
       len(list_distinct(list_filter(head, x -> list_contains(tail, x)))) > 0 AS overlaps,
       CASE WHEN head IS NULL THEN NULL ELSE
         COALESCE(array_to_string(list_sort(list_distinct(head || tail)), ','), '')
       END AS all_toks_csv
FROM hs
""",
    "scalar_map": """
-- Spark from_json(MAP<STRING,INT>) is STRICT: the WHOLE map is NULL if
-- ANY value is not a JSON integer fitting int32 (floats, bools, quoted
-- strings, nested objects/arrays, >int32, 1e999) — only integer values
-- and JSON nulls parse (fuzz wave-4 seed 104001: the old per-key CAST
-- raised on a string value where Spark answered a NULL map, and it could
-- not address empty-string keys at all). Mirror with the '$.*' wildcard
-- value list + a per-value type/range predicate; duplicate keys survive
-- in BOTH engines (json_keys ['k','k'] == map_keys), and
-- json_extract_string('$.k') takes the FIRST duplicate exactly like
-- Spark's map lookup.
WITH j AS (
  SELECT event_id, {lenient} AS jp FROM events
),
g AS (
  SELECT event_id,
         CASE WHEN jp IS NOT NULL AND json_valid(jp)
                   AND json_type(jp) = 'OBJECT'
              THEN jp END AS p
  FROM j
),
v AS (
  SELECT event_id, p,
         CASE WHEN p IS NOT NULL THEN json_extract(p, '$.*') END AS vals,
         CASE WHEN p IS NOT NULL THEN
           len(list_filter(json_extract(p, '$.*'), x -> NOT (
               x IS NULL
               OR (json_type(x) IN ('UBIGINT', 'BIGINT')
                   AND COALESCE(TRY_CAST(CAST(x AS VARCHAR) AS BIGINT)
                       BETWEEN -2147483648 AND 2147483647, FALSE))
           ))) = 0
         ELSE FALSE END AS ok
  FROM g
)
SELECT event_id,
       -- DuckDB array_to_string([]) is NULL while Spark concat_ws is '':
       -- coalesce only when the map parsed (empty object -> '')
       CASE WHEN ok THEN
         COALESCE(array_to_string(list_sort(json_keys(p)), ','), '') END
         AS keys_csv,
       -- array_to_string skips NULL elements == concat_ws skips NULL
       -- values, so the JSON-null entries drop out identically
       CASE WHEN ok THEN
         COALESCE(array_to_string(list_sort(list_transform(vals,
                 x -> TRY_CAST(CAST(x AS VARCHAR) AS INT))), ','), '')
         END AS vals_csv,
       CASE WHEN ok
            THEN TRY_CAST(json_extract_string(p, '$.k') AS INT) END AS k_val,
       CASE WHEN ok THEN list_contains(json_keys(p), 'k') END AS has_k
FROM v
""".replace("{lenient}", SQL_JSON_LENIENT.format(p="props")),
    "window_range_frame": """
SELECT o_custkey, o_orderkey,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE), 6) AS rev_30d,
       COUNT(*) OVER w AS n_30d
FROM (
  SELECT *, CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT) AS o_day
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_day
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
""",
    "string_distance": """
SELECT p_partkey,
       CAST(levenshtein(p_brand, p_type) AS INT) AS lev_brand_type,
       reverse(p_brand) AS rev_brand,
       lpad(p_brand, 12, '_') AS brand_padded,
       repeat('ab', 3) AS rep,
       replace(p_type, 'O', '0') AS typ0
FROM part WHERE p_partkey < 500
""",
}

# fuzz wave-3 non-finite policy (see operators/analytics.py tail note):
# quantized/decimal measure paths exclude NaN/Inf like NULLs, in both
# engines, via finite_or_null on the Spark side and the * REPLACE
# isfinite rewrite here.
ORACLES["agg_stats"] = ORACLES["agg_stats"].replace(
    "FROM lineitem", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity, (CASE WHEN isfinite(l_discount) THEN l_discount END) AS l_discount) FROM lineitem)")
ORACLES["agg_weighted_median"] = ORACLES["agg_weighted_median"].replace(
    "FROM lineitem", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS l_extendedprice, (CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS l_quantity) FROM lineitem)")
ORACLES["agg_quantiles_bucketed"] = ORACLES["agg_quantiles_bucketed"].replace(
    "FROM events", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(value) THEN value END) AS value) FROM events)")

# fuzz wave-3 non-finite policy (see operators/analytics.py tail note):
# o_totalprice consumers below quantize/decimal-sum the measure; both
# engines exclude NaN/Inf like NULLs.
ORACLES["window_range_frame"] = ORACLES["window_range_frame"].replace(
    "FROM orders", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS o_totalprice) FROM orders)")
ORACLES["agg_incremental_mv"] = ORACLES["agg_incremental_mv"].replace(
    "FROM orders", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS o_totalprice) FROM orders)")
ORACLES["null_semantics"] = ORACLES["null_semantics"].replace(
    "FROM orders", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS o_totalprice) FROM orders)")

# fuzz wave-3 non-finite policy, batch 3 (seeds 103003/103004): beyond the
# quantized-sum class, THRESHOLD COMPARISONS on measure doubles are also
# non-finite-hostile — Spark's parquet filter pushdown silently DROPS NaN
# rows for `>` predicates while its in-memory evaluator KEEPS them (probed:
# same where() returns [] pushed vs [NaN rows] with filterPushdown=false),
# and DuckDB keeps NaN (total order). finite_or_null makes NaN/Inf missing
# on both sides, independent of which layer evaluates the predicate.
ORACLES["subquery_in"] = ORACLES["subquery_in"].replace(
    "FROM customer", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(c_acctbal) THEN c_acctbal END) AS c_acctbal) FROM customer)")
ORACLES["join_full_outer"] = ORACLES["join_full_outer"].replace(
    "FROM customer", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(c_acctbal) THEN c_acctbal END) AS c_acctbal) FROM customer)")
ORACLES["join_full_outer"] = ORACLES["join_full_outer"].replace(
    "FROM supplier", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(s_acctbal) THEN s_acctbal END) AS s_acctbal) FROM supplier)")
ORACLES["scalar_struct"] = ORACLES["scalar_struct"].replace(
    "FROM customer", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(c_acctbal) THEN c_acctbal END) AS c_acctbal) FROM customer)")
ORACLES["agg_quantiles"] = ORACLES["agg_quantiles"].replace(
    "FROM events", "FROM (SELECT * REPLACE ((CASE WHEN isfinite(value) THEN value END) AS value) FROM events)")
