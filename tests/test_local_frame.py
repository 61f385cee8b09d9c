"""``local_frame`` builds driver-held rows as an Arrow LocalRelation; it
must give what ``spark.createDataFrame(rows, schema)`` gives — same rows,
same schema with nullability, same rejections — and the library must not
drift back to the list path, whose first action runs Python-worker tasks."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import Row

from clusterindices_spark.functions.local import local_frame

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "clusterindices_spark",
)

_NAN, _INF = float("nan"), float("inf")
_BOOK = "m INT, book ARRAY<STRUCT<cl: INT, c: ARRAY<DOUBLE>>>"

CASES = {
    "empty": ([], "k INT, v DOUBLE"),
    "doubles": (
        [(1, None), (2, _NAN), (3, _INF), (4, -_INF), (5, -0.0), (6, 5e-324)],
        "k INT, v DOUBLE",
    ),
    "chosen_k_int": (
        [("bd_silhouette", 3, 0.5), ("wssse_elbow", None, None)],
        "index STRING, chosen_k INT, value DOUBLE",
    ),
    "chosen_k_bigint": (
        [("bd_silhouette", 3, 0.5), ("bd_dunn", 2**40, -0.0)],
        "index STRING, chosen_k BIGINT, value DOUBLE",
    ),
    "struct_array_rows": (
        [
            (0, [Row(cl=0, c=[1.0, -0.0]), Row(cl=1, c=[_NAN, None])]),
            (1, []),
            (2, None),
        ],
        _BOOK,
    ),
    "struct_array_tuples": (
        [(0, [(0, [1.0, -0.0]), (1, [_NAN, None])]), (1, [(2, None)])],
        _BOOK,
    ),
    "unicode": ([("İ", "Σ"), ("ς", None), ("", "i̇")], "a STRING, b STRING"),
}


def _same(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    # repr compares NaN to NaN, -0.0 to -0.0 and doubles bit for bit
    assert repr(got.collect()) == repr(want.collect())
    # the JVM-side schema, nullability included
    assert got._jdf.schema().json() == want._jdf.schema().json()
    return got


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = _same(spark, rows, schema)
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_keeps_nested_not_null_fields(spark):
    """A collected aggregate's schema goes back in unchanged, NOT NULL
    nested fields included, as the folded centroid and codebook sites pass
    it (PySpark's own pyarrow.Table branch drops those flags and fails)."""
    from pyspark.sql import functions as F

    folded = spark.createDataFrame(
        [(0, 1.0), (1, _NAN)], "cluster INT, x DOUBLE"
    ).agg(
        F.collect_list(
            F.struct(
                F.col("cluster").alias("cl"),
                F.array(F.coalesce("x", F.lit(0.0)), F.lit(-0.0)).alias("c"),
            )
        ).alias("cents")
    )
    rows = folded.collect()
    book = folded.schema["cents"].dataType.elementType
    assert not book["c"].nullable and not book["c"].dataType.containsNull
    _same(spark, rows, folded.schema)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1.5,)], "k BIGINT"),
        ([(1,)], "v DOUBLE"),
        ([(2**31,)], "k INT"),
        ([("a",)], "v DOUBLE"),
    ],
)
def test_local_frame_rejects_what_create_dataframe_rejects(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)) as want:
        spark.createDataFrame(rows, schema).collect()
    with pytest.raises(want.type):
        local_frame(spark, rows, schema)


def test_local_frame_rows_do_not_depend_on_arrow_batching(spark):
    """One row per Arrow batch and a 0-byte LocalRelation threshold (the
    frame becomes an RDD of Arrow batches) give the same rows; both
    settings are restored."""
    keys = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1",
        "spark.sql.execution.arrow.localRelationThreshold": "0",
    }
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        for case in ("empty", "doubles", "struct_array_rows", "unicode"):
            _same(spark, *CASES[case])
        got = local_frame(spark, *CASES["doubles"])
        assert "LogicalRDD" in got._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in keys} == before


# createDataFrame( calls allowed in the package: (file, enclosing function)
# → reason. Every other driver-held frame goes through local_frame.
_ALLOWED = {
    ("operators/embeddings.py", "q_embedding_dim_covariance"): (
        "plan audit and tests/test_r7_fixes.py pin Scan ExistingRDD"
    ),
    ("operators/textops.py", "q_text_bpe_train_merges"): (
        "plan audit pins Scan ExistingRDD"
    ),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    """Line numbers of ``<x>.createDataFrame(...)`` calls, keyed by the
    innermost enclosing function."""

    def __init__(self):
        self.stack: list[str] = []
        self.found: dict[str | None, list[int]] = {}

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            fn = self.stack[-1] if self.stack else None
            self.found.setdefault(fn, []).append(node.lineno)
        self.generic_visit(node)


def test_package_builds_driver_rows_through_local_frame():
    sites = {}
    for root, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            calls = _CreateDataFrameCalls()
            with open(path, encoding="utf-8") as f:
                calls.visit(ast.parse(f.read()))
            for fn, lines in calls.found.items():
                sites[(rel, fn)] = lines
    stray = {k: v for k, v in sites.items() if k not in _ALLOWED}
    assert not stray, f"createDataFrame( outside local_frame: {stray}"
    assert {k: len(v) for k, v in sites.items()} == dict.fromkeys(_ALLOWED, 1)
