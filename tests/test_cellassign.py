"""Kernel ≡ HOF equality pins for the vectorized cell-assignment kernel
(functions/cellassign.py).

Every test builds a hostile corpus / centroid table, runs BOTH forms — the
Spark higher-order-function (HOF) reference and the Arrow kernel — and
requires bit-identical full outputs (floats compared by repr, i.e. exact
doubles). The references are `_assign_folded` and `_assign_codes` below
(the library's former HOF forms, kept here as the oracle) and the library's
`similarity._probe_cells`. These are the ordering semantics the kernel
replicates: NULL d2 outranks every real distance, NaN ranks after +Inf,
ties break on the lowest cl/code, zip_with pads dim mismatches with NULL,
row order is preserved.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clusterindices_spark.functions import cellassign as ck
from clusterindices_spark.functions.distances import l2sq
from clusterindices_spark.operators.similarity import (
    _cents_of,
    _probe_cells,
)


def _assign_folded(pts, folded):
    """(vec_id, cluster, x): per-row argmin over the broadcast 1-row folded
    centroid table. Tie-break (d2, cl) matches
    min_by(struct(cluster,x), struct(d2, cluster))."""
    best = F.array_min(
        F.transform(
            "cents",
            lambda s: F.struct(
                l2sq(F.col("x"), s["c"]).alias("d2"), s["cl"].alias("cl")
            ),
        )
    )
    return (
        pts.crossJoin(F.broadcast(folded))
        .select("vec_id", best["cl"].alias("cluster"), "x")
    )


def _assign_codes(sub, folded):
    """argmin over the broadcast per-subspace codebook; (d2, code)
    tie-break like the IVF assignment."""
    best = F.get(
        F.array_sort(
            F.transform(
                "book",
                lambda s: F.struct(
                    l2sq(F.col("sub"), s["c"]).alias("d2"),
                    s["code"].alias("code"),
                ),
            )
        ),
        0,
    )
    return sub.join(F.broadcast(folded), "m").select(
        "vec_id", "m", "sub", best["code"].alias("code")
    )


def _rows(df):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    return sorted("|".join(cell(v) for v in r) for r in df.collect())


def _ordered_rows(df):
    # order-sensitive variant: assignment must PRESERVE row order so
    # downstream floating aggregations accumulate identically
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    return ["|".join(cell(v) for v in r) for r in df.collect()]


def _mk_pts(spark, rows):
    return spark.createDataFrame(rows, "vec_id BIGINT, x ARRAY<DOUBLE>")


def _mk_folded(spark, cents):
    return spark.createDataFrame(
        [(cents,)], "cents ARRAY<STRUCT<cl: INT, c: ARRAY<DOUBLE>>>"
    )


NAN = float("nan")
INF = float("inf")

CLEAN_CENTS = [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [0.0, 10.0])]

HOSTILE_PTS = [
    (1, [0.1, 0.2]),
    (2, [9.9, 0.3]),
    (3, None),  # NULL row vector
    (4, [0.5, None]),  # NULL element
    (5, [NAN, 0.0]),  # NaN distance to every centroid
    (6, [5.0, 5.0]),  # equidistant tie -> lowest cl
    (7, [1.0]),  # ragged dim (1 != 2)
    (8, [1e308, -1e308]),  # overflow -> +Inf distances
    (9, [0.0, 10.0]),
]

HOSTILE_CENTS = [
    (0, [0.0, 0.0]),
    (1, [10.0, 0.0]),
    (2, None),  # NULL centroid -> d2 NULL vs every row
    (3, [0.0, None]),  # NULL element -> d2 NULL
    (4, [1.0, 2.0, 3.0]),  # dim-mismatched centroid -> d2 NULL
    (5, [NAN, 0.0]),  # NaN centroid -> NaN d2
]


def _cases():
    return [
        ("clean", HOSTILE_PTS[:2] + HOSTILE_PTS[5:6] + HOSTILE_PTS[8:], CLEAN_CENTS),
        ("hostile_pts", HOSTILE_PTS, CLEAN_CENTS),
        ("hostile_cents", HOSTILE_PTS, HOSTILE_CENTS),
        ("empty_cents", HOSTILE_PTS, []),
        ("one_cent", HOSTILE_PTS, [(7, [1.0, 1.0])]),
        ("empty_pts", [], CLEAN_CENTS),
    ]


@pytest.mark.parametrize("name,pts_rows,cents", _cases())
def test_assign_kernel_equals_hof(spark, name, pts_rows, cents):
    pts = _mk_pts(spark, pts_rows)
    folded = _mk_folded(spark, cents)
    hof = _assign_folded(pts, folded)
    kern = ck.assign_cells(pts, _cents_of(folded.collect()), "vec_id", "x")
    assert _ordered_rows(kern) == _ordered_rows(hof), name


@pytest.mark.parametrize("name,pts_rows,cents", _cases())
@pytest.mark.parametrize("p", [1, 3, 99])
def test_probe_kernel_equals_hof(spark, name, pts_rows, cents, p):
    pts = _mk_pts(spark, pts_rows)
    folded = _mk_folded(spark, cents)
    hof = _probe_cells(pts, folded, p)
    kern = ck.probe_cells_kernel(
        pts, _cents_of(folded.collect()), p, "vec_id", "x"
    )
    assert _rows(kern) == _rows(hof), (name, p)


def test_codes_kernel_equals_hof(spark):
    sub_rows = [
        (1, 0, [0.1, 0.2]),
        (1, 1, [9.9, 0.3]),
        (2, 0, [5.0, 5.0]),  # tie -> lowest code
        (2, 1, None),  # NULL sub -> all d2 NULL -> lowest code
        (3, 0, [NAN, 0.0]),
        (3, 7, [1.0, 1.0]),  # m with no book row -> dropped (inner join)
        (4, 1, [0.5, None]),  # NULL element
        (5, 0, [1.0]),  # ragged sub
        (6, None, [1.0, 1.0]),  # NULL m -> dropped (inner join)
    ]
    sub = spark.createDataFrame(
        sub_rows, "vec_id BIGINT, m INT, sub ARRAY<DOUBLE>"
    )
    books = {
        0: [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [0.0, 10.0])],
        1: [(0, [0.0, 0.0]), (1, [5.0, 5.0])],
    }
    folded = spark.createDataFrame(
        sorted(books.items()),
        "m INT, book ARRAY<STRUCT<code: INT, c: ARRAY<DOUBLE>>>",
    )
    hof = _assign_codes(sub, folded).select("vec_id", "m", "code")
    kern = ck.assign_codes_kernel(sub, books, "vec_id")
    assert _ordered_rows(kern) == _ordered_rows(hof)


def _same_result(a, b) -> bool:
    return bool(
        a._jdf.queryExecution().analyzed().sameResult(b._jdf.queryExecution().analyzed())
    )


def test_kernel_closures_are_same_result(spark):
    """Two kernel frames built from equal driver-side centroid lists must
    canonicalize sameResult: a fresh closure per invocation pickles the
    centroids by value, so equal inputs give equal plans."""
    pts = _mk_pts(spark, HOSTILE_PTS)
    cents_a = [(0, [0.0, 0.0]), (1, [10.0, 0.0])]
    cents_b = [(0, [0.0, 0.0]), (1, [10.0, 0.0])]
    a = ck.assign_cells(pts, cents_a, "vec_id", "x")
    b = ck.assign_cells(pts, cents_b, "vec_id", "x")
    assert _same_result(a, b)
    # and different centroid VALUES must NOT be sameResult
    c = ck.assign_cells(pts, [(0, [0.0, 0.1]), (1, [10.0, 0.0])], "vec_id", "x")
    assert not _same_result(a, c)
    pa_ = ck.probe_cells_kernel(pts, cents_a, 2, "vec_id", "x")
    pb = ck.probe_cells_kernel(pts, cents_b, 2, "vec_id", "x")
    assert _same_result(pa_, pb)


def test_kernel_guards(spark):
    """A float32 column runs the kernel (cast to double in its own
    select, same cells as the float64 copy); a NULL cl raises."""
    rows = [(1, [0.5, 0.25]), (2, [9.5, 0.75]), (3, [1.0, 9.0])]
    pts32 = spark.createDataFrame(rows, "vec_id BIGINT, x ARRAY<FLOAT>")
    got = ck.assign_cells(pts32, CLEAN_CENTS, "vec_id", "x")
    assert "MapInArrow" in _plan_str(got)
    want = ck.assign_cells(_mk_pts(spark, rows), CLEAN_CENTS, "vec_id", "x")
    assert _ordered_rows(got) == _ordered_rows(want)
    pts = _mk_pts(spark, HOSTILE_PTS[:2])
    with pytest.raises(ValueError, match="NULL cl"):
        ck.assign_cells(pts, [(None, [0.0, 0.0])], "vec_id", "x")


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_size_dispatch_and_memo_replay(spark):
    """ivf_build has one arm: a float64 corpus runs the Arrow kernel
    (MapInArrow) at any size, and so does a float32 corpus
    (cast to double at entry) — whose values, exact in float32, give the
    same index as the float64 copy. A repeat build replays to a sameResult
    plan with no result memo — the build is a pure function of its
    input."""
    from clusterindices_spark.operators.similarity import ivf_build

    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(100)]
    emb64 = _mk_pts(spark, rows)
    emb32 = spark.createDataFrame(rows, "vec_id BIGINT, x ARRAY<FLOAT>")
    _, i1 = ivf_build(emb64, n_cells=4)  # 400 evals
    assert "MapInArrow" in _plan_str(i1)
    _, i2 = ivf_build(emb64, n_cells=4)
    assert _same_result(i1, i2)
    assert _rows(i1) == _rows(i2)
    _, i4 = ivf_build(emb32, n_cells=4)
    assert "MapInArrow" in _plan_str(i4)
    assert _rows(i4) == _rows(i1)


def test_pq_size_dispatch(spark, monkeypatch):
    """Same single arm for the PQ encode: a tiny float64 corpus runs the
    kernel, and a float32 corpus runs it too, encoding its float32-exact
    values exactly as the float64 copy. The codes come back as a local
    checkpoint, so the plan read is the encode's, handed to
    ``localCheckpoint``."""
    from clusterindices_spark.operators.pq import pq_train_encode

    rows = [(i, [float((i * 31) % 13) for _ in range(8)]) for i in range(64)]
    emb64 = _mk_pts(spark, rows)
    emb32 = spark.createDataFrame(rows, "vec_id BIGINT, x ARRAY<FLOAT>")
    encoded = []
    local_checkpoint = type(emb64).localCheckpoint

    def spy(df, *args, **kwargs):
        encoded.append(df)
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(emb64), "localCheckpoint", spy)
    got = {}
    for name, emb in (("f64", emb64), ("f32", emb32)):
        _, codes = pq_train_encode(emb, m=4, k=4, normalize=False)
        assert "MapInArrow" in _plan_str(encoded.pop()), name
        got[name] = _rows(codes)
    assert got["f32"] == got["f64"]


def _centroids_folded(assigned):
    """Per-cluster mean vectors folded STRAIGHT into the 1-row broadcast
    form (cents: array<struct<cl,c>>, cl-sorted).

    One posexplode→groupBy(cluster, dim) shuffle (map-side combined:
    K×dim×partitions records regardless of n) + one global agg of the K×dim
    result; the per-cluster array reassembly happens inside the single row
    with HOFs. This deletes the intermediate groupBy(cluster) assembly stage
    AND the downstream re-fold agg that the K-row `centroids_of` +
    `_centroid_row` pairing costs per Lloyd round — measured ~0.3 s/round of
    pure stage overhead at sf0.1 (the data volume is trivial; the stages
    are not)."""
    per_dim = (
        assigned.select("cluster", F.posexplode("x").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.avg("val").alias("m"))
    )
    flat = per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct("cluster", "dim", "m"))
        ).alias("a")
    )
    cls_ = F.array_distinct(F.transform("a", lambda s: s["cluster"]))
    return flat.select(
        F.transform(
            cls_,  # already ascending: `a` is sorted by (cluster, dim)
            lambda cl: F.struct(
                cl.alias("cl"),
                F.transform(
                    F.filter("a", lambda s: s["cluster"] == cl),
                    lambda s: s["m"],
                ).alias("c"),
            ),
        ).alias("cents")
    )


def _fold_codebook(cents):
    """(m, code, c) rows → M rows (m, book ARRAY<STRUCT<code,c>>) for
    broadcast argmin; book sorted by code for deterministic iteration."""
    return cents.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("code", "c"))).alias("book")
    )


def _update_codebook(assigned, d_sub: int):
    """Lloyd update: per-(m, code) per-dimension mean as ONE hash agg with
    d_sub avg expressions reassembled in-row — a posexplode +
    double-groupBy formulation costs two extra stages per round for the
    same M·K·d_sub-scale result (measured ~1 s/round of pure stage
    overhead at sf0.1)."""
    return assigned.groupBy("m", "code").agg(
        F.array(
            *[F.avg(F.get("sub", i)) for i in range(d_sub)]
        ).alias("c")
    )


def test_fit_loop_kernel_equals_hof_chain(spark):
    """End-to-end Lloyd fit: the driver fit (lloyd.fit_seeded) must produce
    the SAME centroid rows as the chained Spark plan of `_assign_folded`
    and `_centroids_folded` rounds."""
    from clusterindices_spark.functions.lloyd import SEEDED_ITERS
    from clusterindices_spark.operators.similarity import ivf_build, unfold_cents

    rows = [
        (i, [float((i * 37) % 11), float((i * 53) % 7), float(i % 5)])
        for i in range(200)
    ]
    emb = _mk_pts(spark, [(i, x) for i, x in rows])
    # HOF chain (the pre-r14 formulation), built inline
    seeds = (
        emb.orderBy("vec_id")
        .limit(4)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("sv"))
        .select(
            F.transform(
                "sv",
                lambda s, i: F.struct(i.cast("int").alias("cl"), s["x"].alias("c")),
            ).alias("cents")
        )
    )
    folded_hof = seeds
    for _ in range(SEEDED_ITERS):
        folded_hof = _centroids_folded(_assign_folded(emb, folded_hof))
    hof_rows = _rows(unfold_cents(folded_hof))
    ck_folded, _ = ivf_build(emb, n_cells=4)
    assert _rows(unfold_cents(ck_folded)) == hof_rows


def test_pq_fit_equals_spark_codebook_chain(spark):
    """The PQ twin: the driver codebook equals the chained Spark plan of
    `_assign_codes`, `_update_codebook` and `_fold_codebook` rounds from
    the k lowest vec_ids' subvectors, on integer-valued input (so every
    mean is exact in any summation order). Seed 1 duplicates seed 0, so
    code 1 empties in the first round and is dropped from both."""
    from clusterindices_spark.functions.lloyd import SEEDED_ITERS
    from clusterindices_spark.operators.pq import _subvectors, pq_train_encode

    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0])] + [
        (i, [float((i * 7) % 5), float(i % 3), float((i * 5) % 4), float(i % 6)])
        for i in range(2, 40)
    ]
    emb = _mk_pts(spark, rows)
    m, k = 2, 4
    sub = _subvectors(emb, m)
    seeds = sub.join(
        F.broadcast(sub.select("vec_id").distinct().orderBy("vec_id").limit(k)),
        "vec_id",
    )
    folded = seeds.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "sub"))).alias("sv")
    ).select(
        "m",
        F.transform(
            "sv",
            lambda s, i: F.struct(i.cast("int").alias("code"), s["sub"].alias("c")),
        ).alias("book"),
    )
    for _ in range(SEEDED_ITERS):
        folded = _fold_codebook(_update_codebook(_assign_codes(sub, folded), 2))
    codebook, _ = pq_train_encode(emb, m=m, k=k, normalize=False)
    assert _rows(codebook) == _rows(folded)
    for r in codebook.collect():
        assert [s["code"] for s in r["book"]] == [0, 2, 3], r["m"]
