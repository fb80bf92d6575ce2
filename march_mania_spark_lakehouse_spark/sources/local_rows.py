"""Driver-built metadata DataFrames as JVM ``LocalRelation``s.

The lake layer builds many KB-sized maps on the driver: file→DV
descriptors, file→row-id bases, manifest paths, sequence maps, snapshot
rows. ``spark.createDataFrame(list, schema)`` ships such a list as a
pickled ``PythonRDD``, so EVERY action over the frame (and every
broadcast built from it) re-runs a Python-worker map to unpickle the
rows. `local_df` instead converts the rows to a ``pyarrow.Table`` typed
by the Spark schema and hands it to ``createDataFrame``, which plans a
``LocalRelation`` (above ``spark.sql.execution.arrow.
localRelationThreshold``, a JVM Arrow RDD): no Python worker runs on
either path.

Measured on a 4-core host (``local[4]``, five runs after two warm-ups):
collecting a 3-row map took 0.28–0.37 s through the pickled path and
0.03–0.04 s as a LocalRelation; joining 200k rows against its
broadcast took 0.43–0.53 s vs 0.17–0.22 s.

``LocalTableScanExec`` spreads the rows over ``min(rows,
defaultParallelism)`` partitions, so callers that want one unit of
executor work per row (one DV decode, one manifest read) get that
fan-out without asking for it.

Rows are checked with Spark's own row verifier and converted on the
driver when the frame is built, so a malformed row (wrong arity, a
value of the wrong type, a null in a non-nullable field) raises at the
call site, not at the first action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _column(values: list, field: T.StructField, arrow_type):
    import pyarrow as pa

    if isinstance(field.dataType, T.TimestampType):
        # Spark's own conversion (naive = local time, aware = its
        # offset), so values match ``createDataFrame(list)`` exactly
        to_micros = field.dataType.toInternal
        values = [None if v is None else to_micros(v) for v in values]
    return pa.array(values, type=arrow_type)


def local_df(
    spark: SparkSession, rows, schema: "str | T.StructType"
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` planned as a JVM
    ``LocalRelation``. ``rows`` is an iterable of tuples; ``schema`` a
    DDL string or a ``StructType``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema
        if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    rows = rows if isinstance(rows, list) else list(rows)
    # the same per-row check ``createDataFrame(list, schema)`` runs
    verify = T._make_type_verifier(struct)
    for r in rows:
        verify(r)
    columns = [
        _column([r[i] for r in rows], f, arrow_schema.field(i).type)
        for i, f in enumerate(struct.fields)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
