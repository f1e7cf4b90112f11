"""Measurand registry: unit normalization + supported-parameter whitelist.

Re-expresses reference ``fetcher/lib/measurand.js``:

* unit conversions (measurand.js:19-28): ppb→ppm ÷1000, ng/m³→µg/m³
  ÷1000, pp100ml→particles/cm³ ÷100, Pa→hPa ÷100 — here a pure column
  expression (no UDF), so it stays inside whole-stage codegen;
* the supported-parameter whitelist (measurand.js:49-59) — here a
  broadcast left-semi join (F7 in SURVEY.md §2.2);
* the lookup index keyed by provider input param (measurand.js:89-95)
  — here a broadcast hash join (J1 in SURVEY.md §2.3).

At 100 TB the fact side never shuffles for this join: the dimension is
a few hundred rows and is always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .localdf import local_df

from .schemas import MEASURAND

#: Unit → (normalized_unit, scale). Conversions from measurand.js:19-28.
UNIT_CONVERSIONS: dict[str, tuple[str, float]] = {
    "ppb": ("ppm", 0.001),
    "ng/m³": ("µg/m³", 0.001),
    "pp100ml": ("particles/cm³", 0.01),
    "pa": ("hpa", 0.01),
}

#: Supported parameters — the reference's API whitelist verbatim,
#: deduplicated (measurand.js:49-52). Notably ABSENT: 't' — so
#: smartsense's 'T'→['t','c'] row is silently unsupported and dropped
#: (smartsense.js:28), a quirk the fidelity tests pin down.
SUPPORTED_PARAMETERS: tuple[str, ...] = (
    "pm10",
    "pm25",
    "o3",
    "co",
    "no2",
    "so2",
    "bc",
    "co2",
    "pm1",
    "wind_direction",
    "nox",
    "no",
    "rh",
    "ch4",
    "pn",
    "ufp",
    "wind_speed",
    "pm",
    "ambient_temp",
    "pressure",
    "pm25-old",
    "relativehumidity",
    "temperature",
    "um003",
    "um010",
    "um050",
    "um025",
    "pm100",
    "um005",
    "humidity",
    "um100",
    "voc",
    "ozone",
    "pm4",
    "so4",
    "ec",
    "oc",
    "cl",
    "no3",
)

#: Default provider-facing lookup rows: (input_param, parameter, unit).
#: Mirrors per-provider tables like purpleair.js:7-23 / cpcb.js:30-52 —
#: data, not code, so providers ship their own rows.
DEFAULT_LOOKUP: tuple[tuple[str, str, str], ...] = (
    ("pm1.0_atm", "pm1", "µg/m³"),
    ("pm2.5_atm", "pm25", "µg/m³"),
    ("pm10.0_atm", "pm10", "µg/m³"),
    ("0.3_um_count", "um003", "pp100ml"),
    ("ozone1", "ozone", "ppb"),
    ("no2", "no2", "ppb"),
    ("co", "co", "ppb"),
    ("so2", "so2", "ppb"),
    ("temperature", "temperature", "c"),
    ("humidity", "relativehumidity", "%"),
    ("pressure", "pressure", "pa"),
)


def normalize_unit_and_scale(unit: str) -> tuple[str, float]:
    nu, scale = UNIT_CONVERSIONS.get(unit.lower(), (unit.lower(), 1.0))
    return nu, scale


def measurand_rows(
    lookup: tuple[tuple[str, str, str], ...] = DEFAULT_LOOKUP,
) -> list[tuple[str, str, str, str, float]]:
    out = []
    for input_param, parameter, unit in lookup:
        nu, scale = normalize_unit_and_scale(unit)
        out.append((input_param, parameter, unit, nu, scale))
    return out


def measurand_dim(
    spark: SparkSession,
    lookup: tuple[tuple[str, str, str], ...] = DEFAULT_LOOKUP,
    supported: tuple[str, ...] = SUPPORTED_PARAMETERS,
) -> DataFrame:
    """The broadcast dimension table, whitelist already applied
    (reference getSupportedMeasurands, measurand.js:47-77)."""
    df = local_df(spark, measurand_rows(lookup), MEASURAND)
    return df.filter(F.col("parameter").isin(list(supported)))


def join_and_normalize(
    facts: DataFrame,
    dim: DataFrame,
    on: str = "input_param",
    value_col: str = "value",
) -> DataFrame:
    """J1: broadcast lookup join + C1 normalization.

    Inner join drops unsupported params — the reference throws per row
    on a lookup miss (clarity.js:88-94) which amounts to dropping it.
    """
    joined = facts.join(F.broadcast(dim), on=on, how="inner")
    return joined.withColumn(
        value_col, F.col(value_col) * F.col("scale")
    ).withColumn("unit", F.col("normalized_unit"))
