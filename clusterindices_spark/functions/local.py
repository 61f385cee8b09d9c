"""Driver-held rows as a Spark relation without a Python-worker job.

``spark.createDataFrame(rows, schema)`` on a Python list goes through
``parallelize`` → ``_to_java_object_rdd``, which re-pickles the rows in a
``map(lambda x: x)``: one Python-worker task per default-parallelism slice,
about 1 CPU-s per frame on a 4-core host even for a K-row table, and the
plan is a ``LogicalRDD`` whose first action runs a job. The library builds
such frames after every driver-side finish (centroid tables, sweep and
``best_k`` results, grids, folded centroid rows).

``local_frame`` sends the same rows as Arrow record batches instead, the
way ``createDataFrame(<pyarrow.Table>, schema)`` does whether or not
``spark.sql.execution.arrow.pyspark.enabled`` is set: below
``spark.sql.execution.arrow.localRelationThreshold`` the JVM builds a
``LocalRelation`` (collecting it runs no job), above it an RDD of Arrow
batches; neither starts a Python worker. It hands the batches to the JVM
itself because PySpark 4.1's ``pyarrow.Table`` branch first rebuilds every
nested column (``_check_arrow_table_timestamps_localize``), which drops the
NOT NULL flag of nested fields, and its cast back to the schema then
refuses a collected aggregate's schema (``ARRAY<STRUCT<…, c ARRAY<DOUBLE>
NOT NULL>>`` — the folded centroid and codebook rows). That step has
nothing to do here: the table is built in the exact Arrow schema, with
timestamps already in UTC.

The rows pass through the list path's own steps first — the per-row type
verifier of ``verifySchema=True``, the field converter and
``StructType.toInternal`` — so the helper rejects what the list path
rejects (the Arrow cast alone would truncate 1.5 into a BIGINT and accept
an int for a DOUBLE) and sees the same values.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-held rows (tuples,
    lists, ``Row``s or dicts; a DDL string or ``StructType`` schema), built
    as an Arrow ``LocalRelation``."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(
        struct, error_on_duplicated_field_names_in_struct=True
    )
    columns = list(zip(*internal)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return arrow_frame(spark, table, struct)


def arrow_frame(spark: SparkSession, table: pa.Table, struct: StructType) -> DataFrame:
    """The JVM hand-off behind ``local_frame``, for a driver-built Arrow
    table already in ``struct``'s exact Arrow schema (no per-row checks —
    for column-built tables such as the star-CC driver finish's labels)."""
    jvm = spark._jvm
    batches = table.to_batches(max_chunksize=spark._jconf.arrowMaxRecordsPerBatch())
    jbatches = spark.sparkContext._serialize_to_jvm(
        batches,
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer,
    )
    jdf = jvm.PythonSQLUtils.toDataFrame(jbatches, struct.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)
