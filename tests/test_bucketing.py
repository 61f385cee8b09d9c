"""Bucketed co-located join: the write-time shuffle must eliminate the
read-time Exchange on both join sides (SURVEY.md §4.3 100 TB posture)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clusterindices_spark.sources.bucketing import read_table, write_bucketed
from clusterindices_spark.sources.fixtures import load_table

from tests.conftest import SF_SMOKE

N_BUCKETS = 4


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    write_bucketed(
        load_table(spark, SF_SMOKE, "orders"), "orders_b", "o_orderkey", N_BUCKETS
    )
    write_bucketed(
        load_table(spark, SF_SMOKE, "lineitem"), "lineitem_b", "l_orderkey", N_BUCKETS
    )
    # at this tiny sf the planner would broadcast instead (also shuffle-free,
    # but it hides the bucketing path that matters at fact⋈fact scale)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "orders_b").join(
            read_table(spark, "lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        ).select("o_orderkey", "l_partkey", "o_totalprice")
        plan = _executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_unbucketed_join_does_shuffle(spark):
    # control: same join off plain parquet must carry an exchange (or a
    # broadcast at this tiny sf) — proves the assertion above is meaningful
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey", "l_partkey", "o_totalprice"
        )
        plan = _executed_plan(joined)
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucket_pruning_on_point_lookup(spark):
    # a point predicate on the bucket key must scan 1 of N buckets; the
    # auto-bucketed-scan heuristic turns bucketed reading off for plans
    # that don't exploit the distribution, which also forfeits pruning —
    # disable the heuristic to exercise the pruning path
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = read_table(spark, "orders_b").where(F.col("o_orderkey") == 42)
        plan = _executed_plan(df)
        assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in plan, plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_ivf_bucketed_search_prunes_and_matches_inline(spark):
    """The persisted IVF index (bucketed by cell) must (a) return exactly
    the inline ivf_topk results and (b) prune unvisited cells' buckets at
    the parquet scan (SelectedBucketsCount < total)."""
    from pyspark.sql import functions as F  # noqa: F811

    from clusterindices_spark.operators.similarity import (
        ivf_search_bucketed,
        ivf_topk,
        ivf_write_bucketed,
    )
    from clusterindices_spark.sources.fixtures import load_table as lt

    emb = lt(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    probes = emb.where(F.col("vec_id") < 3)
    n_cells = 8
    ivf_write_bucketed(emb, "ivf_idx_t", n_cells=n_cells)

    got = ivf_search_bucketed(spark, "ivf_idx_t", probes, k=5, n_probe_cells=2)
    want = ivf_topk(emb, probes, k=5, n_cells=n_cells, n_probe_cells=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # pruning: 3 probes × 2 cells visit ≤ 6 of 8 cells → scan must select
    # fewer buckets than it has
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = _executed_plan(
            ivf_search_bucketed(spark, "ivf_idx_t", probes, k=5, n_probe_cells=2)
        )
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)) == n_cells, m.group(0)


def test_bucketed_join_result_matches_unbucketed(spark):
    bucketed = (
        read_table(spark, "orders_b")
        .join(
            read_table(spark, "lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    plain = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_ivf_append_bucketed_absorbs_new_vectors(spark):
    """Incremental IVF maintenance: vectors appended after the build are
    searchable (a probe equal to an appended vector returns itself as the
    nearest neighbor), counts add up, and the table keeps its bucket spec
    (appended rows still prune by cell)."""
    from pyspark.sql import functions as F

    from clusterindices_spark.operators.similarity import (
        ivf_append_bucketed,
        ivf_search_bucketed,
        ivf_write_bucketed,
    )
    from clusterindices_spark.sources.bucketing import drop_table
    from clusterindices_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").alias("x")
    )
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    table = "t_ivf_append"
    try:
        # n_buckets deliberately != n_cells: the append must read the bucket
        # spec off the table instead of defaulting to the centroid count
        # (ADVICE r3 — the old default hit a bucket-spec AnalysisException)
        ivf_write_bucketed(
            old.select("vec_id", "x"), table, n_cells=8, n_buckets=4
        )
        n_old = spark.table(table).count()
        appended = ivf_append_bucketed(new.select("vec_id", "x"), table)
        assert appended == new.count()
        assert spark.table(table).count() == n_old + appended
        # a probe placed exactly at an appended vector (fresh id — search
        # excludes identical ids) must retrieve that vector at sim 1.0:
        # the probe's nearest cell IS the appended row's assigned cell
        probe = new.limit(3).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "x"
        )
        hits = ivf_search_bucketed(spark, table, probe, k=1)
        got = {
            (r["probe_id"] - 1_000_000, r["neighbor_id"]) for r in hits.collect()
        }
        assert got == {
            (v, v) for v, in new.limit(3).select("vec_id").collect()
        }
    finally:
        drop_table(spark, table)
        drop_table(spark, f"{table}_cents")


def test_ivf_append_rejects_null_cluster_centroid(spark):
    """A persisted centroid table with a NULL ``cluster`` has no place in
    the (d2, cl) ordering: the append raises a ValueError naming the
    table instead of assigning against it."""
    import pytest

    from clusterindices_spark.operators.similarity import (
        ivf_append_bucketed,
        ivf_write_bucketed,
    )
    from clusterindices_spark.sources.bucketing import drop_table

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(40)],
        "vec_id BIGINT, x ARRAY<DOUBLE>",
    )
    table = "t_ivf_null_cent"
    try:
        ivf_write_bucketed(emb, table, n_cells=4)
        cents = spark.table(f"{table}_cents").collect()
        bad = spark.createDataFrame(
            [(None, [0.0, 0.0])] + [(r["cluster"], r["centroid"]) for r in cents],
            "cluster INT, centroid ARRAY<DOUBLE>",
        )
        drop_table(spark, f"{table}_cents")
        bad.write.format("parquet").saveAsTable(f"{table}_cents")
        n_before = spark.table(table).count()
        with pytest.raises(ValueError, match=f"{table}_cents"):
            ivf_append_bucketed(
                emb.select((F.col("vec_id") + 100).alias("vec_id"), "x"), table
            )
        assert spark.table(table).count() == n_before
    finally:
        drop_table(spark, table)
        drop_table(spark, f"{table}_cents")
