"""JVM-local construction for small driver-side DataFrames.

``local_df(spark, rows, schema)`` is the engine's one constructor for
frames built from Python rows (dimensions, specs, fixtures, the run-log
row, empty stores). It hands the rows to Spark as one ``pyarrow.Table``,
so the optimized plan is a ``LocalRelation``: the rows live in the JVM
and no action on the frame starts a Python worker to unpickle them.

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


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a ``LocalRelation`` (see the
    module docstring)."""
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
        raise TypeError(f"local_df needs a struct schema, got {schema!r}")
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow = to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    columns = zip(*internal) if internal else ([] for _ in arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
