"""Driver rows to Arrow, and JVM-local construction for small frames.

``arrow_table(rows, schema)`` is the engine's one converter for Python
rows: it returns the ``pyarrow.Table`` Spark would build from them.
Two callers use it:

- ``local_df(spark, rows, schema)`` is the one constructor for frames
  built from Python rows (dimensions, specs, fixtures, empty stores).
  It hands the table to Spark, so the optimized plan is a
  ``LocalRelation``: the rows live in the JVM and no action on the frame
  starts a Python worker to unpickle them.
- ``sinks.log.publish`` writes the run-log row's table to parquet from
  the driver, without Spark.

Conversion follows ``SparkSession.createDataFrame(rows, schema)``
exactly:

- ``schema`` is a ``StructType`` or a DDL string; column types and
  nullability come from it.
- Each row is checked by createDataFrame's own type verifier, then
  converted by its converter (dicts and ``Row`` by field name, values
  coerced to string for string columns) and by ``schema.toInternal``.
- ``toInternal`` is where timestamps are read: a naive ``timestamp``
  value is host-local time, an aware one keeps its instant, and both
  enter Arrow as UTC microseconds. ``timestamp_ntz`` values keep their
  wall clock.
- Empty row lists and empty arrays, maps and structs are plain Arrow
  values.

A value Arrow cannot hold raises; there is no fallback to a Python RDD.
So does a non-nullable field of a struct held in an array or map once
rows are present, when that struct has nested or timestamp fields:
pyspark rebuilds such arrays without the flag and then refuses its own
cast. No caller builds one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def arrow_table(rows, schema):
    """The rows as the ``pyarrow.Table`` ``createDataFrame(rows, schema)``
    would build (see the module docstring)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        _create_converter,
        _make_type_verifier,
        _parse_datatype_string,
    )

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"arrow_table needs a struct schema, got {schema!r}")
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow = to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    columns = zip(*internal) if internal else ([] for _ in arrow)
    return pa.Table.from_arrays(
        [pa.array(list(col), type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a ``LocalRelation`` (see the
    module docstring)."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)
