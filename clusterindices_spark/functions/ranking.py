"""Distributed global ranking — the scale-safe replacement for
``Window.partitionBy().orderBy(...)`` (VERDICT r4 item 4).

An empty ``partitionBy`` funnels every row through ONE task (the plan shows
``Exchange SinglePartition``): correct, but a billion-user rank or a
100 M-term vocabulary serializes on a single core at 100 TB. The classic
distributed form (TeraSort's ranking idiom, also how Presto/BigQuery
implement unbounded-window ROW_NUMBER at scale):

1. ``repartitionByRange`` on the TOTAL order key (include an id tie-break)
   — partitions are range-ordered: every row in partition i sorts before
   every row in partition i+1.
2. per-partition ``row_number`` / running sum (parallel local sorts).
3. per-partition counts/sums — a P-row aggregate collected to the driver —
   turned into prefix offsets and broadcast-joined back.
4. global rank = local rank + offset(partition).

Cost: two full shuffles of the ranked rows (range exchange + the window's
hash exchange on the partition id) instead of one single-partition funnel —
both fully parallel. The collect is P rows (P = shuffle partitions), never
data-scale. Result is partition-placement independent: any range boundary
choice yields identical global ranks because the order is total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clusterindices_spark.functions.local import local_frame

_PID = "_rr_pid"
_LRK = "_rr_lrk"
_LCUM = "_rr_lcum"


def ranked(
    df: DataFrame,
    order: list[Column],
    *,
    rank_col: str = "rk",
    cum_of: Column | None = None,
    cum_col: str = "cum",
    num_partitions: int = 32,
) -> DataFrame:
    """``df`` + global ``rank_col`` (row_number over ``order``) and, when
    ``cum_of`` is given, ``cum_col`` (running sum of ``cum_of`` in rank
    order — integer-typed) — computed with range partitioning, never a
    single-partition window. ``order`` must be a total order (add an id
    tie-break).

    The per-partition frame is eagerly localCheckpointed before the P-row
    stats collect, and the returned frame reads that checkpoint. Required
    for correctness, not speed — range boundaries come from sampling
    seeded by the RDD id, so a SECOND job rebuilding the plan could draw
    different boundaries and assign rows to different partitions than the
    ones the offsets were computed from. One materialization = one
    boundary draw = consistent pids; the checkpoint belongs to the
    returned frame, so no later call can release it."""
    part = df.repartitionByRange(num_partitions, *order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = Window.partitionBy(_PID).orderBy(*order)
    local = part.withColumn(_LRK, F.row_number().over(w))
    aggs = [F.count(F.lit(1)).alias("_n")]
    if cum_of is not None:
        local = local.withColumn(
            _LCUM,
            F.sum(cum_of).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        aggs.append(F.sum(cum_of).alias("_s"))
    local = local.localCheckpoint(eager=True)
    # P-row driver-side prefix: offsets[pid] = totals of all pids before it
    # (range partitions are ordered by pid, so prefix order == rank order).
    # Driver-scale by construction: one row per shuffle partition.
    stats = sorted(
        (r[_PID], r["_n"], (r["_s"] if cum_of is not None else 0))
        for r in local.groupBy(_PID).agg(*aggs).collect()
    )
    offsets, rk_off, cum_off = [], 0, 0
    for pid, n, s in stats:
        offsets.append((pid, rk_off, cum_off))
        rk_off += n
        cum_off += s if s is not None else 0
    off = local_frame(
        df.sparkSession, offsets, f"{_PID} INT, _rk_off BIGINT, _cum_off BIGINT"
    )
    # BIGINT rank: local row_number (int) + bigint offset stays bigint —
    # casting down to int would silently wrap past 2^31 rows, exactly the
    # billion-row regime this helper exists for (ADVICE r5 item 1).
    out = local.join(F.broadcast(off), _PID).withColumn(
        rank_col, F.col(_LRK) + F.col("_rk_off")
    )
    if cum_of is not None:
        out = out.withColumn(cum_col, F.col(_LCUM) + F.col("_cum_off"))
    return out.drop(_PID, _LRK, _LCUM, "_rk_off", "_cum_off")
