"""Unit coverage for the remaining SURVEY §2 map entries that larger
tests exercise only indirectly."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.functions.cleaning import json_get, to_json_no_nulls
from openaq_lcs_fetch_spark.functions.ids import url_path_segment
from openaq_lcs_fetch_spark.operators.filters import non_sentinel, status_ok, whitelist
from openaq_lcs_fetch_spark.operators.reshape import explode_array
from openaq_lcs_fetch_spark.operators.topk import global_top_k, latest_per_key
from openaq_lcs_fetch_spark.sources.files import read_daily_partition


def test_url_path_segment(spark):
    """C13: station id from URL path (iqair.js:75-78 pathname[2])."""
    df = spark.createDataFrame(
        [("https://example.com/station/abc123/detail?x=1",)], "url string"
    )
    got = df.select(url_path_segment(F.col("url"), 2).alias("sid")).first()["sid"]
    assert got == "abc123"


def test_status_ok_filter(spark):
    """F4: keep readings with statusCode == 200 (senstate.js:57)."""
    df = spark.createDataFrame([(200, "a"), (404, "b"), (500, "c")], "status int, v string")
    kept = [r.v for r in df.filter(status_ok(F.col("status"))).collect()]
    assert kept == ["a"]


def test_non_sentinel_and_whitelist(spark):
    df = spark.createDataFrame(
        [("12.5",), ("NaN",), ("",), ("n/a",)], "raw string"
    )
    assert df.filter(non_sentinel(F.col("raw"))).count() == 1
    wdf = spark.createDataFrame([("pm25",), ("bogus",)], "p string")
    assert wdf.filter(whitelist(F.col("p"), ["pm25", "pm10"])).count() == 1


def test_explode_array(spark):
    df = spark.createDataFrame([(1, [10, 20])], "id int, xs array<int>")
    got = [r.x for r in explode_array(df, "xs", "x").collect()]
    assert got == [10, 20]


def test_global_top_k_and_latest(spark):
    df = spark.createDataFrame(
        [("s1", "2024-01-01T00:00:00", 1), ("s1", "2024-01-02T00:00:00", 2),
         ("s2", "2024-01-03T00:00:00", 3)],
        "sensor_id string, ts string, id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    top = global_top_k(df, [F.col("ts").desc()], 1).first()
    assert top["id"] == 3
    latest = {r.sensor_id: r.id for r in latest_per_key(df, ["sensor_id"], "ts", "id").collect()}
    assert latest == {"s1": 2, "s2": 3}


def test_json_helpers(spark):
    df = spark.createDataFrame([('{"a": {"b": 7}}',)], "j string")
    assert df.select(json_get(F.col("j"), "a.b").alias("v")).first()["v"] == "7"
    sdf = spark.createDataFrame([(1, None)], "x int, y string")
    out = sdf.select(
        to_json_no_nulls(F.struct("x", "y")).alias("js")
    ).first()["js"]
    assert out == '{"x":1}'  # C12: nulls stripped at serialize


def test_read_daily_partition(spark, tmp_path):
    """S5: computed daily-partition path (cpcb's 'cpcb-{date}.csv')."""
    (tmp_path / "feed-2024-06-01.csv").write_text("a,b\n1,x\n")
    (tmp_path / "feed-2024-06-02.csv").write_text("a,b\n2,y\n")
    df = read_daily_partition(
        spark, str(tmp_path), "2024-06-02", "feed-{date}.csv", "a int, b string"
    )
    assert [(r.a, r.b) for r in df.collect()] == [(2, "y")]  # only that day's bytes


def test_registry_rejects_duplicate_names():
    """Registering the same query name twice must fail at import time,
    not silently overwrite (a silent overwrite leaves one of the two
    implementations permanently unverified)."""
    from openaq_lcs_fetch_spark.plans import registry

    assert "pricing_summary" in registry.QUERIES
    with pytest.raises(ValueError, match="registered twice"):
        @registry.query("pricing_summary", "SELECT 1 AS x")
        def pricing_summary(spark, sf_dir):  # pragma: no cover
            raise AssertionError("never called")


def test_bpe_greedy_merge_run_parity(spark, tmp_path):
    """bpe_train_merges' greedy leftmost non-overlap, pinned against a
    hand-computed fixture on the only hard case — a merge pair with
    a == b, where consecutive match positions overlap ('aaaa' must
    become [aa, aa] and 'aaa' must become [aa, a]; a naive 'merge every
    match' yields [aa, aa, a?] shapes and overcounts round 2)."""
    import pandas as pd

    from openaq_lcs_fetch_spark.plans import QUERIES

    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["aaaa aaa", "aaaa"], "source": ["s", "s"]}
    ).to_parquet(tmp_path / "documents.parquet")
    rows = sorted(
        (r["round"], r.a, r.b, r.n)
        for r in QUERIES["bpe_train_merges"].fn(spark, str(tmp_path)).collect()
    )
    # round 1: (a,a) pairs = 3+3+2 = 8 → 'aaaa'->[aa,aa], 'aaa'->[aa,a]
    # round 2: (aa,aa) freq 2 beats (aa,a) freq 1 → 'aaaa'->[aaaa]
    # round 3: only 'aaa' has a pair left: (aa,a) freq 1
    assert rows == [(1, "a", "a", 8), (2, "aa", "aa", 2), (3, "aa", "a", 1)]


def test_promote_preserves_registry_and_rejects_unknown():
    """The driver-window rotation is a pure reorder: promote() must
    keep every query exactly once (losing one would silently drop it
    from ALL future driver windows), put the promoted names first in
    the given order, and fail loudly on a typo'd name."""
    from openaq_lcs_fetch_spark.plans import registry

    before = list(registry.QUERIES)
    picked = [before[5], before[0], before[17]]
    try:
        registry.promote(picked)
        after = list(registry.QUERIES)
        assert after[:3] == picked
        assert sorted(after) == sorted(before)  # nothing lost or duplicated
        assert len(after) == len(set(after))
        with pytest.raises(KeyError, match="unknown queries"):
            registry.promote(["definitely_not_a_query"])
    finally:
        registry.promote(before)  # restore the committed rotation order
    assert list(registry.QUERIES) == before


def test_every_oracle_parses_in_duckdb():
    """Fast syntactic gate (no Spark): every registered oracle must
    EXPLAIN cleanly against the sf0.001 views. The dual-engine parity
    suite executes them all anyway, but this catches an oracle typo in
    seconds instead of a 15-minute sweep — and pins that every query
    keeps an oracle at all (250/250; rows-only entries would silently
    weaken the driver's check)."""
    import duckdb

    from openaq_lcs_fetch_spark.plans import QUERIES
    from openaq_lcs_fetch_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    missing = [n for n, q in QUERIES.items() if q.oracle is None]
    assert missing == [], f"oracle-less queries: {missing}"
    for name, q in QUERIES.items():
        try:
            con.sql(f"EXPLAIN {q.oracle}")
        except Exception as exc:  # pragma: no cover - failure message only
            raise AssertionError(f"{name}: oracle does not parse: {exc}") from exc
