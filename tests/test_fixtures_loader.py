"""Loader regression tests: events.ts has shipped as both parquet
TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across testdata generations, and
``load_table`` must land the SAME instants for either encoding (SURVEY §1.1;
the nanos path needs the legacy int64 read + integer-division conversion,
the micros path a plain NTZ→session-TZ cast)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clusterindices_spark.sources.fixtures import load_table

# µs-aligned instants, same invariant the real testdata satisfies (fixtures.py
# converts ns→µs by integer division, so sub-µs residue would be dropped)
_INSTANTS_US = [
    1_700_000_000_000_000,  # 2023-11-14T22:13:20Z
    1_700_000_000_123_456,
    1_712_345_678_901_234,
]


def _write_events(tmp_path, unit: str) -> str:
    ts = pa.array([v * 1000 for v in _INSTANTS_US] if unit == "ns" else _INSTANTS_US,
                  type=pa.timestamp(unit))
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts,
        }
    )
    sf_dir = tmp_path / f"sf_{unit}"
    sf_dir.mkdir()
    pq.write_table(t, sf_dir / "events.parquet")
    return str(sf_dir)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_loader_lands_identical_instants(spark, tmp_path, unit):
    sf_dir = _write_events(tmp_path, unit)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [
        r["us"]
        for r in df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
    ]
    assert got == _INSTANTS_US


def test_events_loader_both_units_agree(spark, tmp_path):
    a = load_table(spark, _write_events(tmp_path, "ns"), "events")
    b = load_table(spark, _write_events(tmp_path, "us"), "events")
    rows_a = [tuple(r) for r in a.orderBy("event_id").collect()]
    rows_b = [tuple(r) for r in b.orderBy("event_id").collect()]
    assert rows_a == rows_b


def test_events_loader_real_testdata_is_utc_pinned(spark):
    # whatever generation is on disk, the loaded instants must not depend on
    # the driver's process TZ: the loader pins spark.sql.session.timeZone=UTC
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.limit(1).count() == 1


def test_events_loader_ns_truncation_is_integer_exact(spark, tmp_path):
    # a ns value just under the next µs must floor, not round up (double
    # division at ~1.7e18 would corrupt the low digits)
    sf_dir = tmp_path / "sf_edge"
    sf_dir.mkdir()
    t = pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array(
                pd.Series([1_700_000_000_000_000_999], dtype="int64"),
                type=pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(t, sf_dir / "events.parquet")
    df = load_table(spark, str(sf_dir), "events")
    [row] = df.selectExpr("unix_micros(ts) AS us").collect()
    assert row["us"] == 1_700_000_000_000_000


def test_fan_out_repartitions_single_partition_scan(spark, tmp_path):
    from clusterindices_spark.sources.fixtures import fan_out

    p = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    fanned = fan_out(df)
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert fanned.count() == 1000


def test_fan_out_noop_on_well_partitioned_input(spark):
    from clusterindices_spark.sources.fixtures import fan_out

    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 4)
    fanned = fan_out(df)
    # already at/above cluster parallelism: no exchange inserted
    assert fanned is df


def test_fan_out_probes_an_overwritten_path(spark, tmp_path):
    """The analyzed plan of a path is the same after the path is
    overwritten, so the partition probe must read the files on disk now."""
    from clusterindices_spark.sources.fixtures import fan_out

    target = spark.sparkContext.defaultParallelism
    path = f"{tmp_path}/documents.parquet"
    spark.range(1000).coalesce(1).write.parquet(path)
    one = load_table(spark, str(tmp_path), "documents")
    assert fan_out(one) is not one
    spark.range(1000).repartition(target).write.mode("overwrite").parquet(path)
    many = load_table(spark, str(tmp_path), "documents")
    assert many.rdd.getNumPartitions() >= target
    assert fan_out(many) is many


def test_fan_out_by_bytes_sizes_partitions_by_weight(spark):
    from pyspark.sql import functions as F

    from clusterindices_spark.sources.fixtures import fan_out_by_bytes

    # 100 rows x 1 MiB estimated weight = 100 MiB; 10 MiB target -> 10
    # partitions, unless the parallelism floor is higher
    df = spark.range(100).select("id", F.lit(1 << 20).alias("w"))
    out = fan_out_by_bytes(df, F.col("w"), target_partition_bytes=10 << 20)
    floor = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == max(10, floor)
    assert out.count() == 100


def test_fan_out_by_bytes_floors_at_default_parallelism(spark):
    from pyspark.sql import functions as F

    from clusterindices_spark.sources.fixtures import fan_out_by_bytes

    df = spark.range(5).select("id", F.lit(10).alias("w"))  # 50 bytes total
    out = fan_out_by_bytes(df, F.col("w"), target_partition_bytes=1 << 20)
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_decode_binary_byte_weighted_repartition(spark):
    from clusterindices_spark.operators.multimodal import (
        decode_binary,
        with_binary_payload,
    )

    d = spark.createDataFrame(
        [(i, "x" * 2048, "en", "s", 2048) for i in range(64)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT",
    )
    # fan=False: the byte-weighted repartition below replaces the generic
    # fan_out (stacked, they'd shuffle the payloads twice)
    out = decode_binary(
        with_binary_payload(d, fan=False), target_partition_bytes=16 << 10
    )
    # 64 x 2 KiB = 128 KiB at 16 KiB/partition -> 8, or the floor
    rows = out.collect()
    assert len(rows) == 64
    assert all(r["n_bytes"] == 2048 for r in rows)


def test_python_datasource_partitions_and_determinism(spark):
    """Custom Python DataSource: partition planning is honored (parts →
    scan partitions), output is a pure function of n (replay-identical
    across different partitionings), and rows follow the generator
    formula."""
    from clusterindices_spark.sources.pysource import (
        _A,
        _M,
        _BASE_TS_MS,
        _STEP_MS,
        read_synthlogs,
    )

    a = read_synthlogs(spark, n=500, parts=2)
    b = read_synthlogs(spark, n=500, parts=7)
    assert a.rdd.getNumPartitions() == 2
    assert b.rdd.getNumPartitions() == 7
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == 500
    levels = ("debug", "info", "warn", "error")
    for i in (0, 1, 123, 499):
        h = (i * _A) % _M
        assert ra[i] == (i, _BASE_TS_MS + i * _STEP_MS, levels[h % 4], h % 100000)
