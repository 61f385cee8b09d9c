"""The NumPy hash twins against Spark's ``xxhash64`` and ``hash``."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from clusterindices_spark.functions import sparkhash

EXTREMES = [0, 1, -1, 2**31 - 1, -(2**31), 2**32, 2**63 - 1, -(2**63)]


def _longs(n, seed):
    rng = np.random.default_rng(seed)
    vals = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64, endpoint=True)
    return np.concatenate([vals, np.array(EXTREMES, np.int64)])


def test_long_hashes_match_spark(spark):
    """xxhash64(v), xxhash64(lit(s), v) for s in 0..15 (the MinHash
    family) and hash(v, w), on random int64 values and the extremes."""
    v, w = _longs(20000, 1), _longs(20000, 2)
    df = spark.createDataFrame(
        pa.table({"i": np.arange(len(v)), "v": v, "w": w})
    )
    got = df.orderBy("i").select(
        F.xxhash64("v").alias("x"),
        F.hash("v", "w").alias("m"),
        *[F.xxhash64(F.lit(s), "v").alias(f"s{s}") for s in range(16)],
    ).toArrow()
    key = sparkhash.xxhash64_long_key(v)
    assert np.array_equal(got.column("x").to_numpy(), sparkhash.xxhash64_long_finish(key, 42))
    assert np.array_equal(got.column("m").to_numpy(), sparkhash.murmur3_longs([v, w]))
    assert got.schema.field("m").type == pa.int32()
    seeds = sparkhash.xxhash64_ints(np.arange(16))
    for s in range(16):
        want = got.column(f"s{s}").to_numpy()
        assert np.array_equal(want, sparkhash.xxhash64_long_finish(key, int(seeds[s]))), s
        buf = np.empty(len(v), np.uint64)
        assert np.array_equal(
            want, sparkhash.xxhash64_long_finish(key, int(seeds[s]), out=buf)
        ), s


def test_int_hashes_match_spark(spark):
    ints = [-(2**31), -7, -1, 0, 1, 2, 15, 2**31 - 1]
    got = spark.range(1).select(*[F.xxhash64(F.lit(i)) for i in ints]).first()
    assert list(got) == sparkhash.xxhash64_ints(ints).tolist()


def test_byte_hashes_match_spark(spark):
    """Strings of 0–140 bytes (every length crosses a different mix of the
    32-byte stripe, 8-, 4- and 1-byte branches), multi-byte UTF-8 ones of
    up to 140 characters, and the empty string; plain and large string
    arrays, and a sliced array."""
    rng = random.Random(3)
    ascii_ = [
        "".join(rng.choice("abcdefgh xyz") for _ in range(n))
        for n in range(141)
        for _ in range(3)
    ]
    multi = [
        "".join(rng.choice("aé中\U0001f600Σ ß") for _ in range(rng.randint(0, 140)))
        for _ in range(400)
    ]
    strs = [""] + ascii_ + multi
    df = spark.createDataFrame(list(enumerate(strs)), "i INT, s STRING")
    want = df.orderBy("i").select(F.xxhash64("s").alias("h")).toArrow().column("h").to_numpy()
    def hashed(arr):
        return sparkhash.xxhash64_spans(*sparkhash.arrow_bytes(arr))

    arr = pa.array(strs)
    assert np.array_equal(hashed(arr), want)
    assert np.array_equal(hashed(arr.cast(pa.large_string())), want)
    assert np.array_equal(hashed(arr.slice(7)), want[7:])
    assert len(hashed(pa.array([], pa.string()))) == 0
