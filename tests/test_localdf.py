"""Driver-built frames: ``local_df`` keeps ``createDataFrame``'s values
and builds a JVM ``LocalRelation``; the run log stamps ``run_ts`` in UTC
whatever the host time zone.

CI runs this file a second time under ``TZ=America/New_York``."""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from openaq_lcs_fetch_spark.localdf import local_df
from openaq_lcs_fetch_spark.measurands import measurand_rows
from openaq_lcs_fetch_spark.schemas import MEASURAND, STATION
from openaq_lcs_fetch_spark.sinks.log import LOG_SCHEMA, publish


@contextlib.contextmanager
def host_tz(spark, name: str):
    """Run the body as on a host whose local time zone is ``name``: the
    driver process (``time.tzset``) and the Python workers started for
    its jobs (the context's worker environment). The JVM and the
    session time zone are not affected."""
    env = spark.sparkContext.environment
    saved, saved_env = os.environ.get("TZ"), env.get("TZ")
    os.environ["TZ"] = env["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        for d, v in ((os.environ, saved), (env, saved_env)):
            if v is None:
                d.pop("TZ", None)
            else:
                d["TZ"] = v
        time.tzset()


NAIVE = dt.datetime(2024, 3, 10, 6, 30, 0, 123456)  # a US DST switch day
AWARE = dt.datetime(2024, 3, 10, 12, 0, 0, tzinfo=dt.timezone.utc)

STATION_FLAGGED = T.StructType(
    list(STATION.fields)
    + [T.StructField("flags", T.MapType(T.StringType(), T.StringType()), True)]
)

NESTED = (
    "id string not null, g array<double>, "
    "ss array<struct<a:string,b:array<struct<c:string,d:timestamp>>>>, "
    "f map<string,string>, st struct<p:string,q:array<timestamp>>"
)

CASES = {
    "measurand": (measurand_rows(), MEASURAND),
    "run_log": (
        [
            (NAIVE, "src", "success", 3, AWARE, NAIVE, "ok"),
            (AWARE, "src", "error", 0, None, None, ""),
        ],
        LOG_SCHEMA,
    ),
    "empty_station": ([], STATION_FLAGGED),
    "day": ([("2024-01-02",)], "day string"),
    "empty_collections": (
        [
            ("n1", [1.0, 2.0], [("s", [("c", NAIVE)]), ("t", [])], {"k": "v"}, ("p", [AWARE])),
            ("n2", [], [], {}, ("q", [])),
            ("n3", None, None, None, None),
        ],
        NESTED,
    ),
    "dict_rows": ([{"b": "x", "a": 1}], "a long, b string"),
}


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_create_dataframe(spark, case, tz):
    rows, schema = CASES[case]
    with host_tz(spark, tz):
        got = local_df(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


@pytest.mark.parametrize(
    "rows, schema, error",
    [
        ([("x",)], "a long", TypeError),
        ([(1,)], "a double", TypeError),  # Arrow alone would take it
        ([(None,)], T.StructType([T.StructField("a", T.StringType(), False)]), ValueError),
    ],
)
def test_local_df_rejects_what_create_dataframe_rejects(spark, rows, schema, error):
    with pytest.raises(error):
        spark.createDataFrame(rows, schema)
    with pytest.raises(error):
        local_df(spark, rows, schema)


def test_publish_stamps_run_ts_in_utc_under_a_non_utc_host(spark, tmp_path):
    """``run_ts`` is the publish instant whatever the host time zone: a
    naive UTC ``now()`` would be read as New York time and land hours
    off."""
    log = str(tmp_path / "log")
    with host_tz(spark, "America/New_York"):
        publish(spark, log, "src", "success", n_measures=1)
        stamped = spark.read.parquet(log).select(F.unix_micros("run_ts")).first()[0]
        now = dt.datetime.now(dt.timezone.utc)
    run_ts = dt.datetime.fromtimestamp(stamped / 1e6, dt.timezone.utc)
    assert abs((now - run_ts).total_seconds()) < 60, (run_ts, now)
    assert len(glob.glob(os.path.join(log, "*.parquet"))) == 1
