"""Sources + sinks layer: paginated HTTP DataSource, checkpoint store,
measures sinks, diff-upsert station registry."""

from __future__ import annotations

import glob
import gzip
import json
import os
import warnings

import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.sinks.measures import (
    assemble_v01,
    write_measures_csv,
    write_measures_json,
)
from openaq_lcs_fetch_spark.sinks.stations import content_hash, diff_upsert
from openaq_lcs_fetch_spark.sources.checkpoint import (
    CheckpointStore,
    advance,
    incremental_predicate,
)
from openaq_lcs_fetch_spark.sources.http import (
    read_backfill,
    read_paginated,
    read_until_exhausted,
)

READINGS_DDL = "station string, unix_ts long, pm25 double, temperature double"


def test_paginated_datasource_parallel(spark):
    df = read_paginated(
        spark,
        fetcher="openaq_lcs_fetch_spark.sources.fetchers:synthetic_readings",
        pages=4,
        schema_ddl=READINGS_DDL,
        page_size="10",
    )
    assert df.count() == 40
    # one input partition per page
    assert df.rdd.getNumPartitions() == 4
    # deterministic content
    first = df.orderBy("unix_ts").first()
    assert first["station"] == "st-0" and first["unix_ts"] == 1_700_000_000


def test_paginated_early_exit(spark):
    df = read_until_exhausted(
        spark,
        fetcher="openaq_lcs_fetch_spark.sources.fetchers:empty_after",
        schema_ddl=READINGS_DDL,
        max_pages=100,
        n_pages="3",
        page_size="5",
    )
    assert df.count() == 15  # stopped at the empty 4th page


def test_backfill_two_phase_parallel_with_early_exit(spark):
    """The scale path for token pagination (VERDICT round-1 item 6):
    the driver enumerates file names (token pages, desc order) with the
    sorted early-exit bound (cmu.js:260-264), and executors fetch the
    files across MULTIPLE tasks — a CMU-style historical backfill no
    longer serializes file contents through the driver."""
    df, greatest = read_backfill(
        spark,
        lister="openaq_lcs_fetch_spark.sources.fetchers:daily_file_listing",
        file_fetcher="openaq_lcs_fetch_spark.sources.fetchers:daily_file_rows",
        schema_ddl="station string, ts string, value double",
        since="readings-2024-06-04",  # checkpoint: days 01-03 already done
        files_per_task=2,
        n_files="10",
        page_size="4",
    )
    # listing stops when 'readings-2024-06-03' < since: 7 files remain
    # (06-10 .. 06-04), batched 2/task → 4 input partitions
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 14  # 7 files x 2 rows, fetched on executors
    assert {r.ts[:10] for r in rows} == {f"2024-06-{d:02d}" for d in range(4, 11)}
    assert greatest == "readings-2024-06-10"  # next checkpoint (cmu.js:90-91)


def test_backfill_empty_listing_yields_empty_frame(spark):
    df, greatest = read_backfill(
        spark,
        lister="openaq_lcs_fetch_spark.sources.fetchers:daily_file_listing",
        file_fetcher="openaq_lcs_fetch_spark.sources.fetchers:daily_file_rows",
        schema_ddl="station string, ts string, value double",
        since="readings-2024-07-01",  # checkpoint ahead of every file
        n_files="10",
    )
    assert greatest is None and df.count() == 0


def test_checkpoint_roundtrip(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    assert store.load("src") is None
    df = spark.createDataFrame(
        [("a", "2024-01-01T05:00:00"), ("b", "2024-01-02T00:00:00")],
        "id string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    state = advance(store, "src", df, "ts")
    assert state["high_water_mark"].startswith("2024-01-02")
    # incremental predicate excludes already-seen rows
    remaining = df.filter(incremental_predicate(F.col("ts"), store.load("src"), "1970-01-01"))
    assert remaining.count() == 0
    # checkpoint never regresses; a batch this far BEHIND the stored
    # mark (a month ≫ SUSPECT_MARK_GAP) also trips the future-shifted-
    # store detector the ADVICE asked for — the pre-TZ-fix hazard is
    # indistinguishable from a stale mark at runtime, so it warns
    older = spark.createDataFrame([("c", "2023-12-01T00:00:00")], "id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    with pytest.warns(UserWarning, match="ahead of the batch"):
        state2 = advance(store, "src", older, "ts")
    assert state2["high_water_mark"].startswith("2024-01-02")
    # a batch only slightly behind the mark (normal partial re-read:
    # within SUSPECT_MARK_GAP) must NOT warn
    slightly_older = spark.createDataFrame(
        [("d", "2024-01-01T23:30:00")], "id string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        state3 = advance(store, "src", slightly_older, "ts")
    assert state3["high_water_mark"].startswith("2024-01-02")


def _measures(spark):
    return spark.createDataFrame(
        [
            ("p-1-pm25", 10.5, "2024-01-01T01:00:00", None, None, None),
            ("p-2-pm25", 11.5, "2024-01-02T02:00:00", None, None, {"qc": "inv"}),
        ],
        "sensor_id string, measure double, timestamp string, longitude double, latitude double, flags map<string,string>",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))


def test_measures_csv_sink(spark, tmp_path):
    path = write_measures_csv(_measures(spark), str(tmp_path), "prov")
    files = glob.glob(f"{path}/*.csv.gz")
    assert files, "expected gzipped csv parts"
    text = gzip.open(files[0], "rt").read()
    assert text.splitlines()[0] == "sensor_id,measure,timestamp"
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 2


def test_measures_json_sink_v01(spark, tmp_path):
    locations = spark.createDataFrame(
        [("p-1", "Site 1", False, -71.0, 42.0)],
        "location string, label string, ismobile boolean, lon double, lat double",
    )
    payload = assemble_v01(_measures(spark), locations, "prov")
    path = write_measures_json(payload, str(tmp_path), "prov")
    days = sorted(os.path.basename(p) for p in glob.glob(f"{path}/day=*"))
    assert days == ["day=2024-01-01", "day=2024-01-02"]
    part = glob.glob(f"{path}/day=2024-01-01/*.json.gz")[0]
    doc = json.loads(gzip.open(part, "rt").read())
    assert doc["meta"] == {"schema": "v0.1", "source": "prov", "matching_method": "ingest-id"}
    assert doc["measures"][0]["sensor_id"] == "p-1-pm25"
    assert doc["locations"][0]["label"] == "Site 1"


def test_measures_json_sink_v01_sharded(spark, tmp_path):
    """Sharded assembly bounds every payload row: measures split across
    (day, shard) envelopes, each location in exactly one shard's
    locations[], and the union of envelopes equals the n_shards=1 payload."""
    measures = spark.createDataFrame(
        [(f"p-{i}-pm25", float(i), "2024-01-01T01:00:00", None) for i in range(40)],
        "sensor_id string, measure double, timestamp string, flags map<string,string>",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    locations = spark.createDataFrame(
        [(f"p-{i}", f"Site {i}", False, -71.0, 42.0) for i in range(10)],
        "location string, label string, ismobile boolean, lon double, lat double",
    )
    payload = assemble_v01(measures, locations, "prov", n_shards=4)
    rows = payload.collect()
    assert len(rows) == 4  # several bounded envelopes per day, not one giant row
    assert all(len(r["measures"]) < 40 for r in rows)
    got_measures = sorted(m["sensor_id"] for r in rows for m in r["measures"])
    assert got_measures == sorted(f"p-{i}-pm25" for i in range(40))
    got_locs = sorted(loc["location"] for r in rows for loc in r["locations"])
    assert got_locs == sorted(f"p-{i}" for i in range(10))  # exactly once each

    path = write_measures_json(payload, str(tmp_path), "prov")
    lines = []
    for part in glob.glob(f"{path}/day=2024-01-01/*.json.gz"):
        lines += [json.loads(l) for l in gzip.open(part, "rt").read().splitlines()]
    assert len(lines) == 4
    assert all(set(doc) == {"meta", "measures", "locations"} for doc in lines)


def test_measures_json_sink_locations_survive_measureless_shards(spark, tmp_path):
    """Every location must ship even when its shard received no
    measures that day (regression: a bare m_day⋈locs left join dropped
    locations on measure-empty shards)."""
    measures = spark.createDataFrame(
        [("p-0-pm25", 1.0, "2024-01-01T01:00:00", None)],
        "sensor_id string, measure double, timestamp string, flags map<string,string>",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    locations = spark.createDataFrame(
        [(f"p-{i}", f"Site {i}", False, -71.0, 42.0) for i in range(10)],
        "location string, label string, ismobile boolean, lon double, lat double",
    )
    rows = assemble_v01(measures, locations, "prov", n_shards=4).collect()
    assert len(rows) == 4  # full (day x shard) grid
    got_locs = sorted(loc["location"] for r in rows for loc in r["locations"])
    assert got_locs == sorted(f"p-{i}" for i in range(10))  # all 10, once each
    assert sum(len(r["measures"]) for r in rows) == 1


def test_measures_json_sink_zero_measure_batch_ships_locations(spark, tmp_path):
    """A feed-outage batch (0 measures, populated stations) still ships
    envelopes carrying the locations — anchored on the run date."""
    measures = spark.createDataFrame(
        [], "sensor_id string, measure double, timestamp timestamp, flags map<string,string>"
    )
    locations = spark.createDataFrame(
        [(f"p-{i}", f"Site {i}", False, -71.0, 42.0) for i in range(6)],
        "location string, label string, ismobile boolean, lon double, lat double",
    )
    rows = assemble_v01(
        measures, locations, "prov", n_shards=2, default_day="2024-02-02"
    ).collect()
    assert len(rows) == 2 and all(r["day"] == "2024-02-02" for r in rows)
    assert all(r["measures"] == [] for r in rows)
    got = sorted(loc["location"] for r in rows for loc in r["locations"])
    assert got == sorted(f"p-{i}" for i in range(6))


def test_diff_upsert_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between rename(store→old) and rename(tmp→store) must not
    lose the registry: the next run restores from the .old staging dir
    instead of treating the store as empty."""
    store = str(tmp_path / "stations")
    s1 = spark.createDataFrame(
        [("n1", "lab1"), ("n2", "lab2")], "sensor_node_id string, label string"
    )
    diff_upsert(spark, s1, store, "sensor_node_id")
    # simulate the crash window: store renamed aside, new never moved in
    os.rename(store, str(tmp_path / ".stations.old.deadbeef01"))
    s2 = spark.createDataFrame([("n3", "lab3")], "sensor_node_id string, label string")
    out = diff_upsert(spark, s2, store, "sensor_node_id")
    assert out["total"] == 3  # n1, n2 recovered + n3 merged
    ids = {r.sensor_node_id for r in spark.read.parquet(store).collect()}
    assert ids == {"n1", "n2", "n3"}
    assert not [d for d in os.listdir(tmp_path) if ".old." in d or ".new." in d]


def test_diff_upsert_elides_unchanged(spark, tmp_path):
    store = str(tmp_path / "stations")
    s1 = spark.createDataFrame(
        [("n1", "Site A"), ("n2", "Site B")], "sensor_node_id string, site string"
    )
    r1 = diff_upsert(spark, s1, store, "sensor_node_id")
    assert r1 == {"written": 2, "skipped_unchanged": 0, "total": 2}
    # identical re-run: everything elided (the reference's byte-compare skip)
    r2 = diff_upsert(spark, s1, store, "sensor_node_id")
    assert r2 == {"written": 0, "skipped_unchanged": 2, "total": 2}
    # one changed + one new
    s2 = spark.createDataFrame(
        [("n2", "Site B renamed"), ("n3", "Site C")], "sensor_node_id string, site string"
    )
    r3 = diff_upsert(spark, s2, store, "sensor_node_id")
    assert r3 == {"written": 2, "skipped_unchanged": 0, "total": 3}
    final = {r["sensor_node_id"]: r["site"] for r in spark.read.parquet(store).collect()}
    assert final == {"n1": "Site A", "n2": "Site B renamed", "n3": "Site C"}


def _corrupt_store(spark, path):
    """A store no diff_upsert writes: n1 stored twice with one hash, n2
    stored with two different hashes."""
    rows = [("n1", "A"), ("n1", "A"), ("n2", "B"), ("n2", "C")]
    content_hash(
        spark.createDataFrame(rows, "sensor_node_id string, site string"),
        "sensor_node_id",
    ).write.parquet(path)


def test_diff_upsert_on_a_corrupt_store_is_exact_and_last_writer_wins(spark, tmp_path):
    store = str(tmp_path / "stations")
    _corrupt_store(spark, store)
    new = spark.createDataFrame(
        [("n1", "A"), ("n2", "B"), ("n2", "E"), ("n3", "D")],
        "sensor_node_id string, site string",
    )
    out = diff_upsert(spark, new, store, "sensor_node_id")
    # (n1, A) and (n2, B) are stored hashes; (n2, E) and (n3, D) are not
    assert out == {"written": 2, "skipped_unchanged": 2, "total": 3}
    rows = spark.read.parquet(store).collect()
    assert sorted((r.sensor_node_id, r.site) for r in rows) == [
        ("n1", "A"), ("n2", "E"), ("n3", "D"),
    ]


def test_diff_upsert_merges_with_one_exchange_above_the_union(spark, tmp_path):
    """The merge is one pass partitioned by key: no join, no broadcast,
    one shuffle of new ∪ stored rows."""
    from openaq_lcs_fetch_spark.sinks.stations import _merged

    store = str(tmp_path / "stations")
    _corrupt_store(spark, store)
    new = content_hash(
        spark.createDataFrame([("n1", "A")], "sensor_node_id string, site string"),
        "sensor_node_id",
    )
    result, _ = _merged(new, spark.read.parquet(store), "sensor_node_id")
    plan = result._jdf.queryExecution().executedPlan().toString().splitlines()
    above = plan[: next(i for i, line in enumerate(plan) if "Union" in line)]
    assert sum("Exchange" in line for line in above) == 1, "\n".join(plan)
    assert not any("Join" in line for line in plan), "\n".join(plan)


@pytest.mark.parametrize(
    "row, ddl",
    [
        (("n1", 1), "sensor_node_id string, site int"),
        (("n1", "A"), "sensor_node_id string, label string"),
    ],
)
def test_diff_upsert_rejects_a_store_of_another_schema(spark, tmp_path, row, ddl):
    """The store is read with the incoming schema, so a store whose
    column names or types differ must raise, not read as nulls."""
    store = str(tmp_path / "stations")
    s1 = spark.createDataFrame([("n1", "A")], "sensor_node_id string, site string")
    diff_upsert(spark, s1, store, "sensor_node_id")
    s2 = spark.createDataFrame([row], ddl)
    with pytest.raises(ValueError, match="schema"):
        diff_upsert(spark, s2, store, "sensor_node_id")
    assert [tuple(r)[:2] for r in spark.read.parquet(store).collect()] == [("n1", "A")]


def test_content_hash_ignores_column_order(spark):
    a = spark.createDataFrame([("k", "x", 1)], "id string, a string, b int")
    b = spark.createDataFrame([("k", 1, "x")], "id string, b int, a string")
    ha = content_hash(a, "id").select("content_hash").first()[0]
    hb = content_hash(b, "id").select("content_hash").first()[0]
    assert ha == hb


def test_paginated_filter_pushdown(spark):
    """F2: equality/range predicates reach the DataSource (pushFilters)
    and the result matches the unfiltered scan filtered in Spark."""
    from pyspark.sql import functions as F

    df = read_paginated(
        spark,
        fetcher="openaq_lcs_fetch_spark.sources.fetchers:synthetic_readings",
        pages=4,
        schema_ddl=READINGS_DDL,
        page_size="10",
    )
    filtered = df.filter((F.col("station") == "st-0") & (F.col("unix_ts") >= 1_700_000_600))
    expected = [r for r in df.collect() if r.station == "st-0" and r.unix_ts >= 1_700_000_600]
    got = filtered.collect()
    assert sorted(got) == sorted(expected)
    assert len(got) > 0
    # the comparisons were consumed by the source: the plan's residual
    # Filter keeps only the isnotnull guards
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "st-0" not in plan and "1700000600" not in plan, plan


def test_merge_secret(monkeypatch):
    """S6: secretKey → env-backed secret merged into meta, secret wins."""
    from openaq_lcs_fetch_spark.sources.secrets import merge_secret

    monkeypatch.setenv("SECRET_apikey1", '{"token": "t0ken", "url": "https://x"}')
    cfg = {"schema": "v1", "provider": "p", "frequency": "hour", "active": True,
           "secretKey": "apikey1", "meta": {"url": "https://default"}}
    merged = merge_secret(cfg)
    assert merged["meta"]["token"] == "t0ken"
    assert merged["meta"]["url"] == "https://x"  # secret wins
    assert merge_secret({"provider": "p"}) == {"provider": "p"}  # no key → no-op
    import pytest as _pytest
    with _pytest.raises(KeyError, match="SECRET_missing"):
        merge_secret({"secretKey": "missing"})


def test_partitioned_measures_store_prunes(spark, tmp_path):
    """Measures-store layout: partitionBy(provider, day) → a day filter
    becomes a PartitionFilter (no data files of other days touched)."""
    from openaq_lcs_fetch_spark.storage import write_partitioned

    df = spark.createDataFrame(
        [("p1", "2024-01-01", "s1", 1.0), ("p1", "2024-01-02", "s1", 2.0),
         ("p2", "2024-01-01", "s2", 3.0)],
        "provider string, day string, sensor_id string, measure double",
    )
    path = str(tmp_path / "measures_store")
    write_partitioned(df, path, ["provider", "day"])
    back = spark.read.parquet(path).filter(
        (F.col("provider") == "p1") & (F.col("day") == "2024-01-02")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(provider" in plan
    assert back.count() == 1


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction: 64 tiny files → few target-sized files, identical
    data, shuffle-free (coalesce), atomic swap of the directory."""
    import os

    from openaq_lcs_fetch_spark.storage import (
        compact_parquet,
        parquet_file_count,
    )

    path = os.path.join(str(tmp_path), "small_files")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(path)
    before = parquet_file_count(path)
    assert before >= 32  # genuinely fragmented

    after = compact_parquet(spark, path, target_file_bytes=64 * 1024)
    assert after < before
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg({"k": "sum"}).first()[0] == 10_000 * 9_999 // 2
    # publish hygiene: no tmp/bak residue beside the live directory
    assert os.listdir(str(tmp_path)) == ["small_files"]


def test_exchange_paths_single_syscall_swap(tmp_path):
    """The compact_parquet publish primitive: renameat2(RENAME_EXCHANGE)
    swaps two directories in ONE syscall on Linux — the live path is
    never absent. Pin that it works on this platform (the two-rename
    fallback, with its documented absence window, is for platforms
    without the syscall) and that both contents swap intact."""
    import sys

    from openaq_lcs_fetch_spark.storage import _exchange_paths

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "old.txt").write_text("old")
    (b / "new.txt").write_text("new")
    swapped = _exchange_paths(str(a), str(b))
    if sys.platform.startswith("linux"):
        assert swapped  # the atomic path must be live where we deploy
        assert (a / "new.txt").read_text() == "new"
        assert (b / "old.txt").read_text() == "old"
        assert not (a / "old.txt").exists()
    # missing operand → clean False (caller falls back), never raises
    assert _exchange_paths(str(tmp_path / "nope"), str(a)) is False


def test_compact_by_time_one_sorted_file_per_bin(spark, tmp_path):
    """compact_by_time executes the compaction_bins plan: 16 unit days
    at n_bins=8 → exactly 8 bin dirs, ONE file each, consecutive-day
    envelopes, all rows preserved, strict ts order within each file."""
    import datetime as dt
    import glob
    import os

    from openaq_lcs_fetch_spark.storage import compact_by_time

    rows = [
        (16 * j + i, dt.datetime(2024, 3, 1 + i, 12, 0, j))
        for i in range(16)
        for j in range(3)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = os.path.join(str(tmp_path), "compacted")
    n = compact_by_time(df, "ts", out, n_bins=8)
    assert n == 8

    bin_dirs = sorted(glob.glob(os.path.join(out, "_bin=*")))
    assert len(bin_dirs) == 8
    total = 0
    for d in bin_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d  # exactly one file per bin
        part = spark.read.parquet(files[0]).collect()
        total += len(part)
        ts = [r.ts for r in part]
        assert ts == sorted(ts)  # strict time order inside the file
        days = {t.date() for t in ts}
        assert len(days) == 2  # two consecutive unit days per bin
        assert (max(days) - min(days)).days == 1
    assert total == 48


def test_compact_by_time_matches_packing_model(spark, tmp_path):
    """Seeded uneven day sizes: the executor's bins must equal a plain
    python re-computation of the planner's math (cum-exclusive // target
    with target = ceil(total/n_bins)) — row counts, file counts and
    non-overlapping time-ordered day envelopes all agree, and no row is
    lost or duplicated."""
    import datetime as dt
    import glob
    import os
    import random

    from openaq_lcs_fetch_spark.storage import compact_by_time

    rng = random.Random(7)
    sizes = [rng.randrange(1, 40) for _ in range(23)]  # 23 uneven days
    rows, eid = [], 0
    for i, sz in enumerate(sizes):
        for j in range(sz):
            rows.append((eid, dt.datetime(2024, 6, 1 + i, 8, 0, 0) + dt.timedelta(seconds=j)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")

    # python model of the planner
    total = sum(sizes)
    n_bins = 6
    target = -(-total // n_bins)
    model: dict[int, list[int]] = {}
    cum = 0
    for i, sz in enumerate(sizes):
        model.setdefault(cum // target, []).append(i)
        cum += sz

    out = os.path.join(str(tmp_path), "c")
    n = compact_by_time(df, "ts", out, n_bins=n_bins)
    assert n == len(model)

    prev_last = None
    for b in sorted(model):
        files = glob.glob(os.path.join(out, f"_bin={b}", "*.parquet"))
        assert len(files) == 1, b
        part = spark.read.parquet(files[0]).collect()
        days = sorted({r.ts.day - 1 for r in part})
        assert days == model[b]                       # exact day membership
        assert len(part) == sum(sizes[i] for i in model[b])
        if prev_last is not None:
            assert min(days) > prev_last              # non-overlapping, ordered
        prev_last = max(days)
    got = spark.read.parquet(out)
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total


def test_csv_quarantine_splits_bad_rows_one_scan(spark, tmp_path):
    """S4 dead-letter: rows the schema cannot parse land in the
    quarantine frame with their raw text; good rows keep full typing;
    nothing is silently nulled or dropped (3 good + 2 bad = 5 in)."""
    import os

    from openaq_lcs_fetch_spark.sources.files import read_csv_with_quarantine

    p = os.path.join(str(tmp_path), "m.csv")
    with open(p, "w") as fh:
        fh.write(
            "sensor,value,ts\n"
            "a,1.5,100\n"
            "b,not_a_number,200\n"   # type failure → quarantine
            "c,2.5,300\n"
            "d,3.5,oops\n"           # type failure → quarantine
            "e,4.5,500\n"
        )
    good, bad = read_csv_with_quarantine(
        spark, p, "sensor string, value double, ts long"
    )
    g = {r.sensor: (r.value, r.ts) for r in good.collect()}
    assert g == {"a": (1.5, 100), "c": (2.5, 300), "e": (4.5, 500)}
    raw = sorted(r.raw_line for r in bad.collect())
    assert raw == ["b,not_a_number,200", "d,3.5,oops"]


def test_parquet_evolving_schema_union(spark, tmp_path):
    """S5 schema evolution: a later daily file adds a column; the
    merged read surfaces it as NULL for the old days, typed for the
    new — no rewrite of historical partitions."""
    import os

    from pyspark.sql import functions as F

    from openaq_lcs_fetch_spark.sources.files import read_parquet_evolving

    base = os.path.join(str(tmp_path), "days")
    spark.createDataFrame([(1, 10.0)], "sensor long, value double").write.parquet(
        os.path.join(base, "day=2024-01-01")
    )
    spark.createDataFrame(
        [(2, 20.0, "ok")], "sensor long, value double, flag string"
    ).write.parquet(os.path.join(base, "day=2024-01-02"))

    df = read_parquet_evolving(spark, base)
    assert set(df.columns) == {"sensor", "value", "flag", "day"}
    rows = {r.sensor: (r.value, r.flag) for r in df.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, "ok")}
    # partition pruning still works on the evolved dataset
    assert df.filter(F.col("day") == "2024-01-02").count() == 1


def test_with_retries_backoff_and_giveup():
    """Deterministic backoff schedule, non-transient passthrough, and
    exhaustion re-raising the LAST real exception unchanged."""
    import pytest

    from openaq_lcs_fetch_spark.sources.retry import with_retries

    calls, delays = [], []
    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return "ok"
    assert with_retries(flaky, sleep=delays.append) == "ok"
    assert len(calls) == 3
    assert delays == [0.2, 0.4]  # doubles, no sleep after success

    with pytest.raises(ValueError):  # not transient: no retry
        with_retries(lambda: (_ for _ in ()).throw(ValueError("bad payload")),
                     sleep=delays.append)

    delays.clear()
    with pytest.raises(ConnectionError, match="always"):
        with_retries(lambda: (_ for _ in ()).throw(ConnectionError("always")),
                     attempts=3, sleep=delays.append)
    assert delays == [0.2, 0.4]  # attempts-1 sleeps, then the raise


def test_paginated_source_retries_through_executor(spark, tmp_path):
    """End-to-end: every page's first two fetch calls raise a
    transient ConnectionError on the WORKER; with_retries absorbs them
    and the scan still returns every row exactly once."""
    import glob

    from openaq_lcs_fetch_spark.sources.http import register as register_http

    register_http(spark)
    cdir = str(tmp_path)
    df = (
        spark.read.format("paginated_http")
        .schema("station string, unix_ts long, pm25 double, temperature double")
        .option("fetcher", "openaq_lcs_fetch_spark.sources.fetchers:flaky_readings")
        .option("pages", "3")
        .option("page_size", "5")
        .option("fail_times", "2")
        .option("counter_dir", cdir)
        .load()
    )
    assert df.count() == 15
    assert df.select("unix_ts").distinct().count() == 15
    # the fault actually fired: a counter file per page reached 2
    counters = sorted(glob.glob(cdir + "/page_*"))
    assert len(counters) == 3
    assert all(open(c).read() == "2" for c in counters)


def test_paginated_source_rate_limit_floor(spark):
    """X2 request-rate bound: with min_call_interval_ms=200 and all 4
    pages in ONE task, the scan cannot finish faster than 3 intervals;
    without the option the same scan has no such floor (same session,
    measured after, so JIT warmup cannot fake the gap)."""
    import time

    from openaq_lcs_fetch_spark.sources.http import register as register_http

    register_http(spark)

    def scan(**extra):
        r = (
            spark.read.format("paginated_http")
            .schema("station string, unix_ts long, pm25 double, temperature double")
            .option("fetcher", "openaq_lcs_fetch_spark.sources.fetchers:synthetic_readings")
            .option("pages", "4")
            .option("pages_per_task", "4")
            .option("page_size", "3")
        )
        for k, v in extra.items():
            r = r.option(k, v)
        t0 = time.perf_counter()
        n = r.load().count()
        return n, time.perf_counter() - t0

    n_throttled, t_throttled = scan(min_call_interval_ms="200")
    n_free, t_free = scan()
    assert n_throttled == n_free == 12
    assert t_throttled >= 0.6  # 3 enforced inter-call gaps
    assert t_free < t_throttled  # the floor comes from the option, not JIT


def test_csv_quarantine_through_gzip(spark, tmp_path):
    """S8 × S4 dead-letter: the permissive split works identically on a
    gzipped CSV (codec decode happens below the corrupt-record layer)."""
    import gzip
    import os

    from openaq_lcs_fetch_spark.sources.files import read_csv_with_quarantine

    p = os.path.join(str(tmp_path), "m.csv.gz")
    with gzip.open(p, "wt") as fh:
        fh.write("sensor,value\na,1.5\nb,bad\nc,2.5\n")
    good, bad = read_csv_with_quarantine(spark, p, "sensor string, value double")
    assert {r.sensor for r in good.collect()} == {"a", "c"}
    assert [r.raw_line for r in bad.collect()] == ["b,bad"]


def test_compact_by_time_empty_input(spark, tmp_path):
    """Zero-row robustness (the empty-day-partition case): no bins, no
    crash, a readable empty dataset."""
    import os

    from openaq_lcs_fetch_spark.storage import compact_by_time

    df = spark.createDataFrame([], "event_id long, ts timestamp")
    out = os.path.join(str(tmp_path), "c")
    assert compact_by_time(df, "ts", out, n_bins=4) == 0


def test_write_partitioned_orc_roundtrip_prunes(spark, tmp_path):
    """write_partitioned's fmt parameter is real beyond parquet/csv:
    ORC (built into Spark) round-trips the partitioned measures layout
    with identical data and keeps partition-pruning on the day key."""
    import os

    from pyspark.sql import functions as F

    from openaq_lcs_fetch_spark.storage import write_partitioned

    df = spark.createDataFrame(
        [("p1", "2024-01-01", 1, 1.5), ("p1", "2024-01-02", 2, 2.5),
         ("p2", "2024-01-01", 3, 3.5)],
        "provider string, day string, sensor long, measure double",
    )
    path = os.path.join(str(tmp_path), "orc_store")
    write_partitioned(df, path, ["provider", "day"], fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == 3
    assert {tuple(r) for r in back.select("sensor", "measure").collect()} == {
        (1, 1.5), (2, 2.5), (3, 3.5)
    }
    pruned = back.filter((F.col("provider") == "p1") & (F.col("day") == "2024-01-02"))
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() == 1  # pruning path


def test_vacuum_by_retention_footer_driven(spark, tmp_path):
    """vacuum_by_retention deletes exactly the files whose footer max(ts)
    falls a full keep_days behind the dataset's newest timestamp, keeps
    straddlers whole, never touches _SUCCESS/stat-less files, and
    dry_run changes nothing. Fixture: three single-day files (days 0,
    30, 60) + one straddler (days 30..60); keep_days=31 anchored at day
    60 → cutoff = day 29: only the day-0 file dies."""
    import datetime as dt
    import glob
    import os

    from openaq_lcs_fetch_spark.storage import vacuum_by_retention

    base = dt.datetime(2024, 1, 1)
    root = str(tmp_path / "ds")
    os.makedirs(root)

    def write_one(name, days):
        rows = [(i, base + dt.timedelta(days=d)) for i, d in enumerate(days)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.replace(part, os.path.join(root, name))

    write_one("day0.parquet", [0])
    write_one("day30.parquet", [30])
    write_one("day60.parquet", [60])
    write_one("straddle.parquet", [30, 60])
    open(os.path.join(root, "_SUCCESS"), "w").close()

    plan = vacuum_by_retention(root, "ts", keep_days=31, dry_run=True)
    assert plan["deleted"] == ["day0.parquet"]
    assert os.path.exists(os.path.join(root, "day0.parquet"))  # dry run

    res = vacuum_by_retention(root, "ts", keep_days=31)
    assert res["deleted"] == ["day0.parquet"]
    assert not os.path.exists(os.path.join(root, "day0.parquet"))
    assert sorted(res["kept"]) == ["day30.parquet", "day60.parquet", "straddle.parquet"]
    # survivors still a readable dataset with the full remaining rows
    assert spark.read.parquet(root).count() == 4

    # keep_days large enough -> nothing deletable
    res2 = vacuum_by_retention(root, "ts", keep_days=61)
    assert res2["n_deleted"] == 0 and res2["n_kept"] == 3


def test_vacuum_nested_column_before_ts(tmp_path):
    """Leaf-index resolution: a nested struct BEFORE ts_col flattens to
    multiple parquet leaf columns, so arrow's top-level field index no
    longer equals the row-group column index. The vacuum must still
    read ts's own min/max stats (not another leaf's) — regression for
    the silent wrong-column read."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openaq_lcs_fetch_spark.storage import vacuum_by_retention

    root = str(tmp_path / "ds")
    os.makedirs(root)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def write_one(name, days):
        n = len(days)
        tbl = pa.table(
            {
                # struct with TWO int leaves ahead of ts: arrow index of
                # ts is 1, parquet leaf index of ts is 2
                "meta": pa.array(
                    [{"a": 10_000_000_000, "b": 0} for _ in range(n)],
                    type=pa.struct([("a", pa.int64()), ("b", pa.int64())]),
                ),
                "ts": pa.array(
                    [base + dt.timedelta(days=d) for d in days],
                    type=pa.timestamp("us", tz="UTC"),
                ),
            }
        )
        pq.write_table(tbl, os.path.join(root, name))

    write_one("old.parquet", [0])
    write_one("new.parquet", [60])

    res = vacuum_by_retention(root, "ts", keep_days=31, dry_run=True)
    # correct stats → only the day-0 file is deletable; a wrong-column
    # read (meta.a = 10^10 "nanos" ≈ 1970) would misclassify both
    assert res["deleted"] == ["old.parquet"]
    assert res["kept"] == ["new.parquet"]


def test_vacuum_cutoff_tz_independent(spark, tmp_path):
    """Naive-datetime footer stats are UTC instants: the computed
    cutoff_us and the delete set must not depend on the host TZ
    (regression for the local-time .timestamp() read)."""
    import datetime as dt
    import glob
    import os
    import time

    from openaq_lcs_fetch_spark.storage import vacuum_by_retention

    base = dt.datetime(2024, 1, 1)
    root = str(tmp_path / "ds")
    os.makedirs(root)

    def write_one(name, days):
        rows = [(i, base + dt.timedelta(days=d)) for i, d in enumerate(days)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.replace(part, os.path.join(root, name))

    write_one("day0.parquet", [0])
    write_one("day60.parquet", [60])

    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "UTC"
        time.tzset()
        utc_res = vacuum_by_retention(root, "ts", keep_days=31, dry_run=True)
        os.environ["TZ"] = "Pacific/Kiritimati"  # UTC+14, no DST
        time.tzset()
        kir_res = vacuum_by_retention(root, "ts", keep_days=31, dry_run=True)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    assert utc_res["cutoff_us"] == kir_res["cutoff_us"]
    assert utc_res["deleted"] == kir_res["deleted"] == ["day0.parquet"]


def test_collect_table_stats_one_pass_and_roundtrip(spark, tmp_path):
    """ANALYZE collector: exact counts/nulls on a hand fixture, NDV
    within HLL tolerance, ordered min/max JSON round-trip (timestamps
    as ISO), and the sidecar read_stats == write_stats input."""
    import datetime as dt

    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, read_stats, write_stats,
    )

    t0 = dt.datetime(2024, 2, 1, 12, 0, 0)
    rows = [
        (1, "alpha", 10.0, t0),
        (2, "beta", 20.0, t0 + dt.timedelta(hours=1)),
        (3, None, 20.0, t0 + dt.timedelta(hours=2)),
        (4, "gamma-long", None, None),
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double, ts timestamp")
    st = collect_table_stats(df)
    assert st["n_rows"] == 4
    assert st["columns"]["s"]["n_nulls"] == 1
    assert st["columns"]["v"]["n_nulls"] == 1
    assert st["columns"]["ts"]["n_nulls"] == 1
    assert st["columns"]["k"]["ndv"] == 4          # tiny: HLL exact here
    assert st["columns"]["v"]["ndv"] == 2
    assert st["columns"]["k"]["min"] == 1 and st["columns"]["k"]["max"] == 4
    assert st["columns"]["ts"]["min"] == "2024-02-01T12:00:00"
    assert st["columns"]["ts"]["max"] == "2024-02-01T14:00:00"
    assert abs(st["columns"]["s"]["avg_len"] - (5 + 4 + 10) / 3) < 1e-9
    # strings carry no min/max (not JSON-order-meaningful here)
    assert "min" not in st["columns"]["s"]

    # single-job property: the whole collection is ONE agg -> the
    # stats document is JSON-serializable as-is
    path = str(tmp_path / "tbl")
    write_stats(st, path)
    assert read_stats(path) == __import__("json").loads(
        __import__("json").dumps(st)
    )
    assert read_stats(str(tmp_path / "nope")) is None

    # column subset + unknown column rejection
    sub = collect_table_stats(df, columns=["k"])
    assert list(sub["columns"]) == ["k"]
    import pytest as _pytest
    with _pytest.raises(KeyError):
        collect_table_stats(df, columns=["missing"])


def test_estimate_equijoin_rows_matches_fk_join(spark, sf_dir):
    """Selinger estimate on real stats: orders ⋈ customer on custkey is
    a FK join, so the estimate nO·nC / max(ndv) must land within HLL
    tolerance of the true |orders| (every order has one customer)."""
    import os

    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, estimate_equijoin_rows,
    )

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    so = collect_table_stats(orders, columns=["o_custkey"])
    sc = collect_table_stats(cust, columns=["c_custkey"])
    est = estimate_equijoin_rows(so, sc, "o_custkey", "c_custkey")
    actual = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    assert abs(est - actual) / actual < 0.15  # 3x the 5% HLL rsd

    # null discount: a side of all-null keys estimates zero
    import pyspark.sql.functions as F
    nulls = orders.select(F.lit(None).cast("long").alias("o_custkey"))
    sn = collect_table_stats(nulls, columns=["o_custkey"])
    assert estimate_equijoin_rows(sn, sc, "o_custkey", "c_custkey") == 0


def test_read_time_range_prunes_files(spark, tmp_path):
    """Manifest-pruned range read: only the files whose footer span
    overlaps the window are handed to the scan; unknown-span files are
    always scanned; the result equals a full scan + filter; vacuum
    (refactored onto the same span helper) still agrees."""
    import datetime as dt
    import glob
    import os

    from openaq_lcs_fetch_spark.storage import (
        file_time_spans, read_time_range, vacuum_by_retention,
    )

    base = dt.datetime(2024, 1, 1)
    root = str(tmp_path / "ds")
    os.makedirs(root)

    def write_one(name, days):
        rows = [(i, base + dt.timedelta(days=d)) for i, d in enumerate(days)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.replace(part, os.path.join(root, name))

    write_one("d00.parquet", [0, 1])
    write_one("d10.parquet", [10, 11])
    write_one("d20.parquet", [20, 21])

    spans = file_time_spans(root, "ts")
    assert len(spans) == 3 and all(lo is not None for lo, _hi in spans.values())

    def us(d):
        return int(
            (base + dt.timedelta(days=d))
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    # window covering only the middle file
    df, plan = read_time_range(spark, root, us(9), us(12), "ts")
    assert plan["n_total"] == 3 and plan["n_selected"] == 1
    assert plan["selected"] == ["d10.parquet"]
    got = sorted(r.event_id for r in df.collect())
    assert got == [0, 1]  # the two rows of d10

    # pruned result == full scan + filter (day 1 .. day 10 inclusive)
    df2, plan2 = read_time_range(spark, root, us(1), us(10), "ts")
    assert plan2["n_selected"] == 2
    import pyspark.sql.functions as F
    want = sorted(
        (r.event_id, r.ts)
        for r in spark.read.parquet(root)
        .filter(
            (F.col("ts") >= base + dt.timedelta(days=1))
            & (F.col("ts") <= base + dt.timedelta(days=10))
        )
        .collect()
    )
    assert sorted((r.event_id, r.ts) for r in df2.collect()) == want

    # empty window → zero files, empty frame, schema intact
    df3, plan3 = read_time_range(spark, root, us(100), us(101), "ts")
    assert plan3["n_selected"] == 0 and df3.count() == 0
    assert set(df3.columns) == {"event_id", "ts"}

    # vacuum on the shared helper still works end to end
    res = vacuum_by_retention(root, "ts", keep_days=12, dry_run=True)
    assert res["deleted"] == ["d00.parquet"]


def test_read_time_range_keeps_partition_columns(spark, tmp_path):
    """Hive-partitioned layout (the compact_by_time _bin= dirs): the
    pruned read must recover the partition column via basePath, and the
    empty-selection branch must return the SAME schema (regression for
    the bare parquet(*files) read that silently dropped them)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from openaq_lcs_fetch_spark.storage import compact_by_time, read_time_range

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=d), float(i))
        for i, d in enumerate([0, 0, 1, 1, 10, 11, 20, 21])
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
    root = str(tmp_path / "compacted")
    n = compact_by_time(df, "ts", root, n_bins=4)
    assert n >= 2

    def us(d):
        return int(
            (base + dt.timedelta(days=d))
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    got, plan = read_time_range(spark, root, us(9), us(12), "ts")
    assert 0 < plan["n_selected"] < plan["n_total"]  # actually pruned
    # partition column recovered, values correct
    assert "_bin" in got.columns
    recs = got.select("event_id", "_bin").collect()
    assert sorted(r.event_id for r in recs) == [4, 5]
    full = {
        r.event_id: r._bin
        for r in spark.read.parquet(root).select("event_id", "_bin").collect()
    }
    assert all(full[r.event_id] == r._bin for r in recs)

    # empty window: same schema as the pruned read and the full scan
    empty, plan0 = read_time_range(spark, root, us(100), us(101), "ts")
    assert plan0["n_selected"] == 0 and empty.count() == 0
    assert set(empty.columns) == set(got.columns) == {"event_id", "ts", "v", "_bin"}

    # row-level residual still applies inside a selected file
    mid, _ = read_time_range(spark, root, us(10), us(10), "ts")
    assert sorted(r.event_id for r in mid.collect()) == [4]


def test_collect_table_stats_decimal_and_interval(spark, tmp_path):
    """Decimal min/max must survive json.dump (floats in the sidecar),
    and interval-typed columns must NOT be treated as ordered (the old
    "int" prefix match claimed "interval day to second" and handed
    json.dump a timedelta)."""
    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, read_stats, write_stats,
    )

    df = spark.sql(
        "SELECT * FROM VALUES"
        " (CAST(1.25 AS DECIMAL(10,2)), INTERVAL '1' DAY),"
        " (CAST(7.50 AS DECIMAL(10,2)), INTERVAL '2' DAY)"
        " AS t(d, iv)"
    )
    st = collect_table_stats(df)
    assert st["columns"]["d"]["min"] == 1.25
    assert st["columns"]["d"]["max"] == 7.5
    assert "min" not in st["columns"]["iv"]  # interval: unordered for stats
    path = str(tmp_path / "dec")
    write_stats(st, path)  # must not raise TypeError
    assert read_stats(path)["columns"]["d"]["max"] == 7.5

    # timestamp min/max are formatted engine-side (TZ-stable) and keep
    # the isoformat shape: fraction only when non-zero
    import datetime as dt
    t0 = dt.datetime(2024, 2, 1, 12, 0, 0)
    tdf = spark.createDataFrame(
        [(t0,), (t0 + dt.timedelta(seconds=1, microseconds=123456),)],
        "ts timestamp",
    )
    ts_st = collect_table_stats(tdf)["columns"]["ts"]
    assert ts_st["min"] == "2024-02-01T12:00:00"
    assert ts_st["max"] == "2024-02-01T12:00:01.123456"


def test_choose_join_strategy_decisions():
    """Decision table: small side broadcast (tie → right), threshold is
    a hard line, missing stats never broadcast."""
    from openaq_lcs_fetch_spark.stats import choose_join_strategy

    def st(n, w=8):
        return {
            "version": 1,
            "n_rows": n,
            "columns": {"k": {"dtype": "bigint", "n_nulls": 0, "ndv": n}},
        } if w == 8 else None

    small, big = st(100), st(10**9)
    assert choose_join_strategy(big, small) == "broadcast_right"
    assert choose_join_strategy(small, big) == "broadcast_left"
    assert choose_join_strategy(small, small) == "broadcast_right"  # tie → right
    assert choose_join_strategy(big, big) == "shuffle"
    # missing evidence never broadcasts
    assert choose_join_strategy(big, None) == "shuffle"
    assert choose_join_strategy(None, small) == "broadcast_right"
    assert choose_join_strategy(None, None) == "shuffle"
    # threshold is a hard line: 100 rows × 8B = 800B estimated
    assert choose_join_strategy(big, small, threshold_bytes=100) == "shuffle"

    # all-NULL string column stores avg_len None — must estimate, not
    # TypeError (the planner would crash on any such sidecar)
    nullstr = {
        "version": 1,
        "n_rows": 5,
        "columns": {
            "s": {"dtype": "string", "n_nulls": 5, "ndv": 0, "avg_len": None}
        },
    }
    assert choose_join_strategy(big, nullstr) == "broadcast_right"

    # a PARTIAL document (column-subset profile) must never broadcast:
    # its row-width estimate excludes the unprofiled columns, so a
    # wide table could masquerade as an 8-byte-row one
    partial = {**small, "partial": True}
    assert choose_join_strategy(big, partial) == "shuffle"
    assert choose_join_strategy(partial, small) == "broadcast_right"

    # an UNVERSIONED document (pre-"partial"-marker sidecar) may be an
    # unmarked subset profile — never broadcast from it either
    legacy = {k: v for k, v in small.items() if k != "version"}
    assert choose_join_strategy(big, legacy) == "shuffle"
    assert choose_join_strategy(legacy, small) == "broadcast_right"


def test_collect_table_stats_marks_partial(spark):
    """A subset profile is marked partial; a full profile is not."""
    from openaq_lcs_fetch_spark.stats import collect_table_stats

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    assert "partial" not in collect_table_stats(df)
    assert "partial" not in collect_table_stats(df, columns=["s", "k"])
    assert collect_table_stats(df, columns=["k"]).get("partial") is True


def test_stats_aware_path_join_plan_flips_on_stats(spark, tmp_path):
    """The ANALYZE consumer: identical data, different sidecars →
    different physical plans (BroadcastHashJoin when the stats say
    small, SortMergeJoin when they say big or are absent), same
    results either way."""
    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, write_stats,
    )
    from openaq_lcs_fetch_spark.storage import stats_aware_path_join

    fact = spark.range(200).selectExpr(
        "id AS row_id", "CAST(id % 5 AS INT) AS k", "id * 1.5 AS v"
    )
    dim = spark.range(5).selectExpr("CAST(id AS INT) AS k", "id * 10 AS label")
    fact_path, dim_path = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact.write.parquet(fact_path)
    dim.write.parquet(dim_path)
    write_stats(collect_table_stats(spark.read.parquet(fact_path)), fact_path)
    dim_stats = collect_table_stats(spark.read.parquet(dim_path))
    write_stats(dim_stats, dim_path)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # truthful stats: 5-row dim → broadcast
    j_small = stats_aware_path_join(spark, fact_path, dim_path, "k")
    assert "BroadcastHashJoin" in plan(j_small)
    want = sorted((r.row_id, r.label) for r in j_small.collect())
    assert len(want) == 200

    # doctored dim sidecar says the dim is huge → the small FACT side
    # becomes the broadcast side (BuildLeft)
    fact_stats = collect_table_stats(spark.read.parquet(fact_path))
    write_stats({**dim_stats, "n_rows": 10**9}, dim_path)
    j_flip = stats_aware_path_join(spark, fact_path, dim_path, "k")
    assert "BuildLeft" in plan(j_flip)
    assert sorted((r.row_id, r.label) for r in j_flip.collect()) == want

    # both sides huge → pinned shuffle merge join
    write_stats({**fact_stats, "n_rows": 10**9}, fact_path)
    j_big = stats_aware_path_join(spark, fact_path, dim_path, "k")
    p_big = plan(j_big)
    assert "BroadcastHashJoin" not in p_big and "SortMergeJoin" in p_big
    assert sorted((r.row_id, r.label) for r in j_big.collect()) == want

    # no sidecar at all → never broadcast, even though the data is tiny
    import os
    os.remove(os.path.join(dim_path, "_stats.json"))
    os.remove(os.path.join(fact_path, "_stats.json"))
    j_unknown = stats_aware_path_join(spark, fact_path, dim_path, "k")
    assert "BroadcastHashJoin" not in plan(j_unknown)
    assert sorted((r.row_id, r.label) for r in j_unknown.collect()) == want


def test_stats_sidecar_lifecycle(spark, tmp_path):
    """ANALYZE lifecycle: compaction refreshes the sidecar, a deleting
    vacuum invalidates it (stale stats could broadcast a table that
    isn't small — missing stats never broadcast), a dry-run or
    no-delete vacuum leaves it alone."""
    import datetime as dt
    import os

    from openaq_lcs_fetch_spark.stats import read_stats
    from openaq_lcs_fetch_spark.storage import (
        compact_by_time, vacuum_by_retention,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=d), float(i))
        for i, d in enumerate([0, 1, 2, 40, 41, 42])
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
    root = str(tmp_path / "ds")
    compact_by_time(df, "ts", root, n_bins=3, collect_stats=True)

    st = read_stats(root)
    assert st is not None and st["n_rows"] == 6
    assert st["columns"]["event_id"]["min"] == 0
    assert st["columns"]["event_id"]["max"] == 5

    # dry-run deletes nothing → sidecar intact
    res = vacuum_by_retention(root, "ts", keep_days=10, dry_run=True)
    assert res["n_deleted"] > 0 and res["stats_invalidated"] is False
    assert read_stats(root) is not None

    # keep-everything vacuum → sidecar intact
    res = vacuum_by_retention(root, "ts", keep_days=365)
    assert res["n_deleted"] == 0 and res["stats_invalidated"] is False
    assert read_stats(root) is not None

    # deleting vacuum → sidecar removed
    res = vacuum_by_retention(root, "ts", keep_days=10)
    assert res["n_deleted"] > 0 and res["stats_invalidated"] is True
    assert read_stats(root) is None
    assert not os.path.exists(os.path.join(root, "_stats.json"))

    # refresh via compaction: stats describe the surviving data — the
    # bin straddling the cutoff ([day2, day40]) was kept whole, so 4
    # rows survive (file-granular retention by design)
    compact_by_time(
        spark.read.parquet(root).drop("_bin"), "ts", str(tmp_path / "ds2"),
        n_bins=2, collect_stats=True,
    )
    st2 = read_stats(str(tmp_path / "ds2"))
    assert st2["n_rows"] == 4 and st2["columns"]["event_id"]["min"] == 2


def test_high_water_mark_tz_independent(spark):
    """The checkpoint mark is formatted engine-side under the UTC
    session tz: swapping the host TZ must not move it (regression for
    the local-naive collect + UTC re-parse shift; mirrors
    test_vacuum_cutoff_tz_independent)."""
    import datetime as dt
    import os
    import time

    from openaq_lcs_fetch_spark.sources.checkpoint import (
        high_water_mark, incremental_predicate,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0, 500000)
    df = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(hours=1))], "event_id long, ts timestamp"
    )

    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "UTC"
        time.tzset()
        hwm_utc = high_water_mark(df, "ts")
        os.environ["TZ"] = "Pacific/Kiritimati"  # UTC+14, no DST
        time.tzset()
        hwm_kir = high_water_mark(df, "ts")
        n_kir = df.filter(
            incremental_predicate(
                F.col("ts"), {"high_water_mark": hwm_kir}, "1970-01-01"
            )
        ).count()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    assert hwm_utc == hwm_kir == "2024-06-01T13:00:00.500000"
    assert n_kir == 0  # mark is the batch max → nothing strictly after
    # empty batch → no mark
    assert high_water_mark(df.filter("event_id < 0"), "ts") is None


def test_join_preflight_decision_table():
    """The Selinger pre-flight as pure math: a benign FK join (blow-up
    ~1) passes, a skewed m:n estimate (blow-up >> factor) explodes,
    missing stats or an unprofiled key return None, and partial docs
    ARE usable (the estimate needs the key column, not the row width)."""
    from openaq_lcs_fetch_spark.stats import join_preflight

    def doc(n, ndv, nulls=0, key="k", extra=None):
        d = {
            "version": 1,
            "n_rows": n,
            "columns": {key: {"dtype": "bigint", "n_nulls": nulls, "ndv": ndv}},
        }
        if extra:
            d.update(extra)
        return d

    # 1:N FK join — 10k facts, 1k dim keys: est = 10k → blow-up 1.0
    fk = join_preflight(doc(10_000, 1_000), doc(1_000, 1_000), "k", "k")
    assert fk is not None and not fk["exploding"]
    assert fk["est_rows"] == 10_000
    # self-join square on 10 hot keys: est = 1e4·1e4/10 = 1e7 → 1000x
    boom = join_preflight(doc(10_000, 10), doc(10_000, 10), "k", "k")
    assert boom["exploding"] and boom["blowup"] > 100
    # null keys never join — an all-NULL side estimates zero
    nulls = join_preflight(doc(10_000, 10, nulls=10_000), doc(10_000, 10), "k", "k")
    assert nulls["est_rows"] == 0 and not nulls["exploding"]
    # missing evidence → no verdict (callers must not guess)
    assert join_preflight(None, doc(10, 10), "k", "k") is None
    assert join_preflight(doc(10, 10), doc(10, 10), "k", "nope") is None
    # a PARTIAL doc that profiled the key still pre-flights
    part = join_preflight(
        doc(10_000, 10, extra={"partial": True}), doc(10_000, 10), "k", "k"
    )
    assert part is not None and part["exploding"]


def test_stats_aware_path_join_preflight_fires(spark, tmp_path):
    """The pre-flight wired into the path join: identical code path,
    skewed sidecars → warning; benign sidecars → silent. The join
    itself still runs either way (the pre-flight informs, it never
    blocks — a deliberate explosion is legal)."""
    import warnings as _w

    from openaq_lcs_fetch_spark.stats import collect_table_stats, write_stats
    from openaq_lcs_fetch_spark.storage import stats_aware_path_join

    # 200 rows ALL on key 0 on both sides → est 200·200/1 = 40k = 200x
    skew = spark.range(200).selectExpr("CAST(0 AS INT) AS k", "id AS v")
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    skew.write.parquet(lp)
    skew.write.parquet(rp)
    write_stats(collect_table_stats(spark.read.parquet(lp)), lp)
    write_stats(collect_table_stats(spark.read.parquet(rp)), rp)
    with pytest.warns(UserWarning, match="estimated to emit"):
        j = stats_aware_path_join(spark, lp, rp, "k")
    assert j.count() == 200 * 200  # informs, never blocks

    # benign: unique keys both sides → blow-up 1.0, no warning
    uniq = spark.range(200).selectExpr("CAST(id AS INT) AS k", "id AS v")
    lp2, rp2 = str(tmp_path / "l2"), str(tmp_path / "r2")
    uniq.write.parquet(lp2)
    uniq.write.parquet(rp2)
    write_stats(collect_table_stats(spark.read.parquet(lp2)), lp2)
    write_stats(collect_table_stats(spark.read.parquet(rp2)), rp2)
    with _w.catch_warnings():
        _w.simplefilter("error")
        j2 = stats_aware_path_join(spark, lp2, rp2, "k")
    assert j2.count() == 200


def test_collect_table_stats_hot_keys_top_values(spark):
    """The opt-in hot_keys pass records exact top-3 (value, count)
    frequencies; nulls excluded; unprofiled columns raise."""
    from openaq_lcs_fetch_spark.stats import collect_table_stats

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 5
        + [(None,)] * 10,
        "k string",
    )
    st = collect_table_stats(df, hot_keys=["k"])
    tv = st["columns"]["k"]["top_values"]
    assert [(e["value"], e["count"]) for e in tv] == [
        ("a", 50), ("b", 30), ("c", 15)
    ]
    # no hot_keys → no top_values field (the pass costs a job per column)
    assert "top_values" not in collect_table_stats(df)["columns"]["k"]
    with pytest.raises(KeyError):
        collect_table_stats(df, columns=["k"], hot_keys=["nope"])


def _skew_fixture(spark):
    """fact: 40k rows, 50% on key 0, rest uniform over 99 keys (ndv
    ~100); dim: 2k rows over the same 100 keys, 20 rows per key. The
    Selinger estimate is 40k*2k/100 = 800k = 20x the fact side —
    exploding — and the fact side's hot share is 0.5."""
    fact = spark.range(40_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(id % 99 + 1 AS BIGINT) END AS k",
        "id AS v",
    )
    dim = spark.range(2_000).selectExpr(
        "CAST(id % 100 AS BIGINT) AS k", "id AS d"
    )
    return fact, dim


def test_stats_aware_join_salts_exploding_hot_key(spark):
    """The pre-flight escalated to MITIGATION: exploding estimate +
    hot-key evidence + pinned shuffle + bounded dim replication →
    stats_aware_join routes through salted_join (the physical join key
    includes _salt), result-identical to the plain join and in the
    plain join's column order. mitigate_skew=False is the escape
    hatch back to warn-only."""
    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, stats_aware_join,
    )

    fact, dim = _skew_fixture(spark)
    st_f = collect_table_stats(fact, hot_keys=["k"])
    st_d = collect_table_stats(dim)
    # threshold_bytes=1 pins the shuffle strategy: the 2k-row dim would
    # broadcast in practice (and a broadcast join has no reducer to
    # skew); the test exercises the mitigation, not the threshold
    with pytest.warns(UserWarning, match="routed through salted_join"):
        j = stats_aware_join(fact, dim, "k", st_f, st_d, threshold_bytes=1)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # the salted physical shape
    plain = fact.join(dim, "k")
    assert j.columns == plain.columns
    assert (
        j.agg({"v": "sum", "d": "sum"}).collect()
        == plain.agg({"v": "sum", "d": "sum"}).collect()
    )
    assert j.count() == plain.count() == 40_000 * 20

    # escape hatch: warn-only, unsalted plan
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j2 = stats_aware_join(
            fact, dim, "k", st_f, st_d, threshold_bytes=1,
            mitigate_skew=False,
        )
    assert "_salt" not in j2._jdf.queryExecution().executedPlan().toString()


def test_stats_aware_join_salted_route_guards(spark):
    """The mitigation's negative space: dim-on-the-left still
    normalizes to the plain column order; no hot-key evidence, outer
    joins, and oversized dims all fall back to warn-only."""
    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, stats_aware_join,
    )

    fact, dim = _skew_fixture(spark)
    st_f = collect_table_stats(fact, hot_keys=["k"])
    st_d = collect_table_stats(dim)

    # dim on the LEFT: routed (fact is still the salted side), columns
    # normalized to the plain dim-join-fact order
    with pytest.warns(UserWarning, match="routed through salted_join"):
        j = stats_aware_join(dim, fact, "k", st_d, st_f, threshold_bytes=1)
    assert j.columns == dim.join(fact, "k").columns
    assert j.count() == 40_000 * 20

    # no top_values evidence on the fact side → warn-only
    st_f_plain = collect_table_stats(fact)
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j2 = stats_aware_join(
            fact, dim, "k", st_f_plain, st_d, threshold_bytes=1
        )
    assert "_salt" not in j2._jdf.queryExecution().executedPlan().toString()

    # outer join → warn-only (salted_join is inner-only)
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j3 = stats_aware_join(
            fact, dim, "k", st_f, st_d, threshold_bytes=1, how="left"
        )
    assert "_salt" not in j3._jdf.queryExecution().executedPlan().toString()

    # dim too big to replicate (small*16 > big) → warn-only
    st_d_big = dict(st_d, n_rows=10_000)
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j4 = stats_aware_join(
            fact, dim, "k", st_f, st_d_big, threshold_bytes=1
        )
    assert "_salt" not in j4._jdf.queryExecution().executedPlan().toString()

    # pre-existing _salt column → warn-only, NOT salted_join's
    # ValueError: the route is an optional strategy and must never
    # turn a previously-tolerated join into an exception
    fact_salted = fact.withColumnRenamed("v", "_salt")
    st_fs = collect_table_stats(fact_salted, hot_keys=["k"])
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j5 = stats_aware_join(
            fact_salted, dim, "k", st_fs, st_d, threshold_bytes=1
        )
    assert j5.count() == 40_000 * 20

    # left/right sharing a NON-key column name → warn-only: the plain
    # join keeps both copies, which the route's normalizing
    # select-by-name cannot reproduce (it would raise AMBIGUOUS_REFERENCE)
    dim_dup = dim.withColumnRenamed("d", "v")
    st_dd = collect_table_stats(dim_dup)
    with pytest.warns(UserWarning, match="pre-aggregate"):
        j6 = stats_aware_join(
            fact, dim_dup, "k", st_f, st_dd, threshold_bytes=1
        )
    assert j6.count() == 40_000 * 20
    assert j6.columns == fact.join(dim_dup, "k").columns  # both v copies


def test_salted_route_fires_from_sidecars_on_disk(spark, tmp_path):
    """The round-12 gap closed: the salted-join mitigation driven
    PURELY from ``_stats.json`` sidecars on disk. compact_by_time
    (collect_stats=True, hot_keys=[key]) persists the top-values skew
    evidence into the fact side's sidecar; stats_aware_path_join then
    reads both sidecars back and routes the exploding hot-key join
    through salted_join — no in-memory stats hand-off anywhere.
    Result-identical to the plain path join."""
    from openaq_lcs_fetch_spark.stats import (
        collect_table_stats, read_stats, write_stats,
    )
    from openaq_lcs_fetch_spark.storage import (
        compact_by_time, stats_aware_path_join,
    )

    fact, dim = _skew_fixture(spark)
    fact = fact.withColumn(
        "ts",
        F.expr("timestamp'2024-03-01 00:00:00' + make_interval(0, 0, 0, "
               "CAST(v % 4 AS INT), 0, 0, 0)"),
    )
    fp = str(tmp_path / "fact")
    dp = str(tmp_path / "dim")
    compact_by_time(fact, "ts", fp, n_bins=4, collect_stats=True,
                    hot_keys=["k"])
    dim.write.parquet(dp)
    write_stats(collect_table_stats(spark.read.parquet(dp)), dp)

    # the sidecar itself carries the evidence (JSON round-trip intact)
    side = read_stats(fp)
    top = side["columns"]["k"]["top_values"]
    assert top[0] == {"value": 0, "count": 20_000}

    # threshold_bytes=1 pins the shuffle strategy (same rationale as
    # the in-memory route test: exercise the mitigation, not the
    # broadcast threshold)
    with pytest.warns(UserWarning, match="routed through salted_join"):
        j = stats_aware_path_join(spark, fp, dp, "k", threshold_bytes=1)
    assert "_salt" in j._jdf.queryExecution().executedPlan().toString()
    plain = spark.read.parquet(fp).join(spark.read.parquet(dp), "k")
    assert j.columns == plain.columns
    assert j.count() == plain.count() == 40_000 * 20

    # hot_keys without collect_stats refuses up front (evidence has
    # nowhere to live), before any rewrite IO
    with pytest.raises(ValueError, match="collect_stats"):
        compact_by_time(fact, "ts", str(tmp_path / "x"), hot_keys=["k"])
    assert not (tmp_path / "x").exists()


def test_read_int_box_prunes_on_both_dimensions(spark, tmp_path):
    """A z-ordered layout answers a 2-D box from a strict file subset;
    a single-column-sorted layout of the SAME data cannot prune the
    second dimension. Results identical either way (pruning is a
    performance property, never a correctness one)."""
    from openaq_lcs_fetch_spark.storage import (
        read_int_box, write_zordered, zorder_column,
    )

    df = spark.range(4096).selectExpr(
        "CAST(id % 64 AS LONG) AS x",
        "CAST(id div 64 AS LONG) AS y",
        "id AS v",
    )
    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, zorder_column(["x", "y"], bits=6), n_files=16)
    box = {"x": (0, 15), "y": (0, 15)}
    got, plan = read_int_box(spark, zpath, box)
    rows = sorted(r.v for r in got.collect())
    assert len(rows) == 16 * 16
    # a 1/16 box over 16 z-contiguous files: strict subset, structurally
    assert plan["n_selected"] < plan["n_total"] == 16
    # ground truth from the unclustered source
    want = sorted(
        r.v
        for r in df.filter("x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15").collect()
    )
    assert rows == want

    # x-sorted layout: prunes x, but EVERY file spans all of y — the
    # box still answers correctly, selecting at least as many files
    xpath = str(tmp_path / "xsort")
    df.repartitionByRange(16, "x").write.parquet(xpath)
    got_x, plan_x = read_int_box(spark, xpath, box)
    assert sorted(r.v for r in got_x.collect()) == want
    assert plan_x["n_selected"] >= plan["n_selected"]

    # empty box → empty frame with the dataset's schema, no file read
    empty, plan_e = read_int_box(spark, zpath, {"x": (100, 200), "y": (0, 15)})
    assert plan_e["n_selected"] == 0 and empty.count() == 0
    assert empty.columns == got.columns


def test_read_int_box_unknown_spans_always_scanned(spark, tmp_path):
    """A file whose footer lacks stats for a bounded column (here: a
    column that doesn't exist in the file at all) can never be
    excluded — missing evidence never drops data."""
    from openaq_lcs_fetch_spark.storage import file_int_spans, read_int_box

    path = str(tmp_path / "mixed")
    spark.range(10).selectExpr("id AS x", "id AS v").coalesce(1).write.parquet(path)
    spans = file_int_spans(path, ["x", "nope"])
    (per_col,) = spans.values()
    assert per_col["x"] == (0, 9)
    assert per_col["nope"] == (None, None)

    # a FLOAT column's stats must stay unknown — int() truncation of a
    # float max could wrongly exclude a file holding in-box rows
    fpath = str(tmp_path / "floaty")
    spark.range(10).selectExpr(
        "id AS x", "id + 0.9 AS f"
    ).coalesce(1).write.parquet(fpath)
    (fcol,) = file_int_spans(fpath, ["f", "x"]).values()
    assert fcol["f"] == (None, None)
    assert fcol["x"] == (0, 9)
    got, plan = read_int_box(spark, path, {"x": (3, 5)})
    assert plan["n_selected"] == 1  # overlap on the known column
    assert sorted(r.v for r in got.collect()) == [3, 4, 5]


def test_file_int_spans_rejects_non_integer_logical_types(spark, tmp_path):
    """Spark writes decimal(<=18, s>0) with INT32/INT64 PHYSICAL types;
    the physical check alone would let int(st.min) silently truncate
    5.99 -> 5 and wrongly exclude a file — so the guard also requires
    the LOGICAL type to be NONE/Int. DATE/TIMESTAMP logicals (also
    int-physical) are rejected the same way, and one rejected column
    must not discard the file's other envelopes."""
    from openaq_lcs_fetch_spark.storage import file_int_spans

    path = str(tmp_path / "typed")
    spark.range(10).selectExpr(
        "id AS x",
        "CAST(id + 0.99 AS DECIMAL(9,2)) AS d9",    # INT32-physical decimal
        "CAST(id + 0.99 AS DECIMAL(18,2)) AS d18",  # INT64-physical decimal
        "DATE'2024-01-01' + CAST(id AS INT) AS dt",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        "CAST(id AS SMALLINT) AS s16",              # logical INT(16): fine
    ).coalesce(1).write.parquet(path)
    (per_col,) = file_int_spans(
        path, ["x", "d9", "d18", "dt", "ts", "s16"]
    ).values()
    assert per_col["x"] == (0, 9)
    assert per_col["s16"] == (0, 9)  # true small-int: logical INT accepted
    for c in ("d9", "d18", "dt", "ts"):
        assert per_col[c] == (None, None), c  # unknown -> always scanned
