"""A call's cached intermediates live and die with that call.

Operators that read a frame more than once inside one call localCheckpoint
it for that call; a returned frame may hold its own checkpoint. Nothing is
shared between calls, so a later call can neither release an earlier
call's data nor hand it stale data, and once the results are dropped the
session's persistent RDD count is back where it started.
"""

from __future__ import annotations

import gc
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _collect_garbage(spark, until=None, timeout_s: float = 120.0) -> int:
    """The persistent RDD count after Python and JVM garbage collection:
    checkpoint blocks are released by Spark's ContextCleaner once the JVM
    has collected their RDD, and queued listener events can still refer to
    a finished query's plan. Polls until the count is at most ``until``,
    or, with no ``until``, until two polls agree."""
    sc = spark.sparkContext
    prev, deadline = None, time.monotonic() + timeout_s
    while True:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
        n = _persistent_rdds(spark)
        if (n <= until) if until is not None else (n == prev):
            return n
        if time.monotonic() > deadline:
            return n
        prev = n


def test_former_pin_users_leave_no_persisted_frame(spark, monkeypatch):
    """Every operator that kept a cached generation between calls, run
    twice: once its results are dropped, no persisted RDD is left."""
    from clusterindices_spark.functions.ranking import ranked
    from clusterindices_spark.operators import dedup, pq as pq_ops, textops
    from clusterindices_spark.sources.fixtures import load_table

    monkeypatch.setattr(dedup, "LOCAL_LSH_BYTES", 0)  # the Spark path
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 4, 9, 10)], "node BIGINT")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 10)], "src BIGINT, dst BIGINT"
    )
    calls = {
        "ngram_jaccard": dedup.q_dedup_ngram_jaccard,
        "minhash_est": dedup.q_dedup_minhash_est,
        "simhash_est": dedup.q_dedup_simhash_est,
        "minhash_pairs": lambda s, sf: dedup.minhash_pairs(load_table(s, sf, "documents")),
        "graph_pagerank": dedup.q_dedup_graph_pagerank,
        "graph_hops": dedup.q_dedup_graph_hops,
        "connected_components": lambda s, sf: dedup.connected_components(nodes, edges),
        "ann_ivfpq": pq_ops.q_similarity_ann_ivfpq,
        "unigram_logprob": textops.q_text_unigram_logprob,
        "rake_keywords": textops.q_text_rake_keywords,
        "ranked": lambda s, sf: ranked(s.range(500), [F.col("id").desc()]),
    }
    before = _collect_garbage(spark)
    for _ in range(2):
        for name, call in calls.items():
            assert call(spark, SF_SMOKE).collect() is not None, name
    after = _collect_garbage(spark, until=before)
    left = [str(r) for r in spark.sparkContext._jsc.getPersistentRDDs().values()]
    assert after == before, left


def test_ranked_first_result_survives_a_second_call(spark):
    """Two calls of ``ranked``, the first on 20k rows: the first result's
    ranks still equal ``row_number()`` after the second call, because its
    range-partitioned frame is materialized once and owned by the result
    (a recompute would draw new range boundaries)."""
    from clusterindices_spark.functions.ranking import ranked

    big = spark.range(20_000).select(
        "id", (F.xxhash64("id") % 997).alias("v")
    )
    order = [F.col("v"), F.col("id")]
    first = ranked(big, order)
    ranked(spark.range(1_000).select("id", F.col("id").alias("v")), order).collect()
    want = big.withColumn("want", F.row_number().over(Window.orderBy(*order)))
    bad = first.join(want, "id").where(F.col("rk") != F.col("want")).count()
    assert first.count() == 20_000 and bad == 0


def test_pareto_first_result_survives_a_second_call(spark, tmp_path):
    """An operator that ranks with ``ranked`` keeps its first result when
    it is called again on other input: the 20k-user decile curve is the
    same before and after the second call."""
    from clusterindices_spark.operators.analytics import q_events_pareto_concentration

    def events(name, n_users):
        users = [u for u in range(n_users) for _ in range(1 + u % 7)]
        out = tmp_path / name
        out.mkdir()
        pq.write_table(
            pa.table({
                "user_id": pa.array(users, pa.int64()),
                "ts": pa.array([0] * len(users), pa.timestamp("us")),
            }),
            str(out / "events.parquet"),
        )
        return str(out)

    first = q_events_pareto_concentration(spark, events("big", 20_000))
    rows = sorted(first.collect())
    q_events_pareto_concentration(spark, events("small", 1_000)).collect()
    assert [r["n_users"] for r in rows] == [2_000] * 10
    assert sorted(first.collect()) == rows
