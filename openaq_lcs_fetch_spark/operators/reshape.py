"""Reshape operators: unpivot / explode / zip / nest (SURVEY.md §2.4).

The reference's core move is wide-reading → long measures (R1 melt,
e.g. purpleair.js:58-76, cmu.js:169-177). Spark-first: ``stack()`` /
``DataFrame.unpivot`` — a narrow, shuffle-free transformation that
multiplies rows inside each partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    id_vars: Sequence[str],
    value_vars: Sequence[str],
    var_name: str = "parameter",
    value_name: str = "value",
    drop_null: bool = True,
    codegen_safe: bool = False,
) -> DataFrame:
    """R1: wide → long unpivot. One input row with N parameter columns
    becomes N ``(ids..., parameter, value)`` rows; nulls dropped like the
    reference's per-measurand null-skip (purpleair.js:60).

    ``codegen_safe`` swaps the physical shape from ``unpivot`` (Expand)
    to ``explode(array(struct...))`` (Generate) — same rows, same
    order. Why it exists: Spark's whole-stage codegen keeps Expand
    outputs in mutable-state array slots, and when a fused downstream
    projection has a COMMON SUBEXPRESSION over such a column the
    generated subexpr method's parameter is named
    ``expand_mutableStateArray_0[1]`` — invalid Java, so janino fails
    and the whole stage silently falls back to interpreted evaluation
    (measured on 4.1.2 with the provider clean+flag pair, which shares
    the sentinel test). Generate uses plain local variables and
    compiles. Requires same-typed value columns (Expand's implicit
    coercion is not reproduced); the provider feeds are all-string.
    The regression is CI-guarded by ``debug.assert_compiles`` (codegen
    fallback disabled → the janino failure raises instead of silently
    running interpreted) — no log-grepping needed.
    """
    if codegen_safe:
        dtypes = dict(df.dtypes)
        kinds = {dtypes[c] for c in value_vars}
        if len(kinds) > 1:
            raise TypeError(
                f"melt(codegen_safe=True) needs same-typed value columns, got {kinds}"
            )
        kv = F.array(
            *[
                F.struct(
                    F.lit(c).alias(var_name),
                    F.col(f"`{c}`").alias(value_name),
                )
                for c in value_vars
            ]
        )
        out = df.select(
            *[F.col(f"`{c}`") for c in id_vars], F.explode(kv).alias("_kv")
        ).select(
            *[F.col(f"`{c}`") for c in id_vars],
            F.col(f"_kv.{var_name}").alias(var_name),
            F.col(f"_kv.{value_name}").alias(value_name),
        )
    else:
        # backtick-quote names: provider headers contain dots ('PM2.5',
        # cpcb.js:41) which unquoted resolution misparses as struct access
        out = df.unpivot(
            ids=[F.col(f"`{c}`") for c in id_vars],
            values=[F.col(f"`{c}`") for c in value_vars],
            variableColumnName=var_name,
            valueColumnName=value_name,
        )
    if drop_null:
        out = out.filter(F.col(value_name).isNotNull())
    return out


def explode_map(
    df: DataFrame,
    map_col: str,
    key_name: str = "parameter",
    value_name: str = "value",
) -> DataFrame:
    """R2: object-keyed-by-measurand → rows (airqoon.js:156-159,
    smartsense.js:109-125) via ``explode(map_entries)``."""
    exploded = df.select(
        "*", F.explode(F.col(map_col)).alias(key_name, value_name)
    ).drop(map_col)
    return exploded


def explode_array(df: DataFrame, array_col: str, alias: str) -> DataFrame:
    """R3: flatten nested arrays (.flat()/flatMap in the reference,
    airgradient.js:170, senstate.js:91-103)."""
    return df.select("*", F.explode(F.col(array_col)).alias(alias)).drop(array_col)


def zip_arrays(
    df: DataFrame, fields_col: str, data_col: str, out_col: str = "record"
) -> DataFrame:
    """R4: parallel fields[]/data[][] arrays → one map column per record
    (purpleair.js:134-143 zip-decode). ``data`` rows explode first, then
    ``map_from_arrays(fields, row)`` rebuilds the record — all JVM-side.
    """
    row = F.explode(F.col(data_col)).alias("_row")
    return (
        df.select("*", row)
        .withColumn(out_col, F.map_from_arrays(F.col(fields_col), F.col("_row")))
        .drop("_row", fields_col, data_col)
    )


def nest_stations(
    df: DataFrame,
    node_keys: Sequence[str],
    system_key: str,
    sensor_cols: Sequence[str],
    system_meta: Sequence[str] = (),
) -> DataFrame:
    """R5: long sensor rows → node→system→sensor tree (cmu.js:146-165,
    senstate.js:60-82) via two levels of collect_list(struct(...)).

    Grouping keys partition the shuffle; station cardinality is tiny
    relative to measures so this never dominates.

    Both levels are array_sort'ed: collect_list order is whatever the
    shuffle delivered, and the K3 diff-upsert hashes the assembled row
    (sinks/stations.content_hash) — an unsorted array would make the
    SAME station content hash differently across runs/partitionings,
    re-writing unchanged stations forever. Sorted structs (sensor_id /
    system key lead) are the canonical serialization.
    """
    sensors = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in sensor_cols]))
    ).alias("sensors")
    sys_level = df.groupBy(*node_keys, system_key, *system_meta).agg(sensors)
    systems = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(system_key), *[F.col(c) for c in system_meta], F.col("sensors")
            )
        )
    ).alias("sensor_systems")
    return sys_level.groupBy(*node_keys).agg(systems)
