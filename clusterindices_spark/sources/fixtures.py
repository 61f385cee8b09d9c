"""Fixture-table loaders (FIXTURES.md).

Parquet scans with the casts both engines must share so float math agrees:
- ``embeddings.embedding`` arrives as ``ARRAY<FLOAT>``; cast to
  ``ARRAY<DOUBLE>`` at scan so Spark and the DuckDB oracle both do float64
  math (SURVEY.md §4.3).

Column pruning / predicate pushdown is Catalyst's job — loaders return the
bare scan and let each query ``select``/``where`` so pushdown reaches the
parquet reader (verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    # Datetime field extraction (year/month/quarter/date_trunc/window) resolves
    # local fields in Spark's *session* timezone, while the DuckDB oracles
    # treat the same instants as naive/UTC. Pin UTC at the data boundary so
    # query results don't depend on whatever TZ the driver process runs with.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (round-1
        # testdata) and TIMESTAMP(MICROS) (regenerated round-2 testdata), so
        # resolve by the type the scan actually reports rather than assuming:
        # - NANOS: Spark 4 refuses it outright (PARQUET_TYPE_ILLEGAL) unless
        #   read as raw int64 via the legacy conf; convert with integer
        #   division (ns values ~1.7e18 exceed 2^53 — double division would
        #   silently corrupt the low microseconds).
        # - MICROS (no tz): arrives as TIMESTAMP_NTZ; cast to the session-TZ
        #   TIMESTAMP (UTC pinned above), preserving the same instants the
        #   DuckDB oracle reads natively.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "embeddings":
        df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Normalize input parallelism before CPU-bound per-row expression work
    (tokenize→shingle HOF chains, per-point vector math, Arrow-batch UDFs).

    A small table arriving as one parquet file scans as ONE partition, so
    everything downstream until the first shuffle serializes onto a single
    core no matter how many the cluster has (measured: the sf0.1 shingle
    explode runs 4.5 s on the 1-partition scan vs 0.7 s repartitioned to 32).
    When the scan's parallelism is below the cluster's default, round-robin
    repartition up to it. On a well-partitioned production input (a 100 TB
    table is thousands of files) the condition is false and this is a no-op —
    no shuffle is ever inserted at scale; the repartition only exists in the
    small-input degenerate case, where shuffling the input is cheap by
    definition.

    Filters still push down: Catalyst moves predicates through Repartition,
    so scan-side pruning is unaffected. Do NOT use on operators contracted
    to be exchange-free (curation_split, curation_sample_stratified) or on
    pre-bucketed/partitioned layouts whose scan partitioning IS the plan.

    Probe cost: ``df.rdd.getNumPartitions()`` forces physical planning + an
    RDD conversion per call and reads the PRE-AQE partition count, so keep
    fan_out on scan-stage frames (as every current call site does) — on a
    derived frame the probe pays a full planner pass and can insert a
    repartition AQE would have handled. The probe runs on every call: the
    partition count belongs to the files on disk now, and a path that was
    overwritten keeps its analyzed plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fan_out_by_bytes(
    df: DataFrame, weight: Column, target_partition_bytes: int = 64 << 20
) -> DataFrame:
    """Repartition sized by BYTES, not row count — for tables whose rows
    vary wildly in width (binary media payloads: one 4 KB thumbnail row vs
    one 400 MB video row). Row-count partitioning puts equal ROWS per task
    and lets a few wide rows blow past executor memory; sizing the partition
    COUNT by Σ weight / target keeps the average partition at a bounded
    byte budget, and the round-robin spread decorrelates adjacent wide rows.

    ``weight`` is a per-row byte estimate expression (e.g.
    ``F.length(payload)``). Costs one aggregate action at plan-build time —
    the same class of data-boundary probe as fan_out's partition check.
    Floors at defaultParallelism so small inputs still use the cluster.

    The input is localCheckpointed before the sizing aggregate: without it
    the upstream plan evaluates TWICE (once for the byte total, again for
    the repartition). The returned frame holds the checkpoint, so nothing
    stays cached after it is dropped. On a production decode pipeline
    whose input is a bare file scan, prefer deriving the total from
    file-level statistics instead of this data pass.
    """
    df = df.localCheckpoint(eager=False)
    total = df.agg(F.sum(weight.cast("bigint"))).first()[0] or 0
    sc = df.sparkSession.sparkContext
    n = max(
        sc.defaultParallelism,
        -(-int(total) // int(target_partition_bytes)),  # ceil
    )
    return df.repartition(n)
