"""Engine facade — the user-facing API tying the layers together.

``run_source`` is the full per-source lifecycle of the reference's
fetcher (SURVEY.md §3.1: dispatch → provider dataflow → station upsert
→ measures sink → checkpoint → run log), as one batch job. The
streaming flavor of the same pipelines lives in streaming/.
"""

from __future__ import annotations

from concurrent import futures
from datetime import datetime as _dt, timezone as _timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from . import tables
from .providers import processor
from .session import get_spark, tune
from .sinks.log import publish, summarize
from .sinks.measures import (
    assemble_v01,
    csv_rows,
    write_measures_csv,
    write_measures_json,
)
from .sinks.stations import diff_upsert
from .sources.checkpoint import CheckpointStore, advance, incremental_predicate


def _v01_locations(stations: DataFrame) -> DataFrame:
    """The v0.1 envelope's locations[] rows from the station frame."""
    geometry = "sensor_node_geometry" in stations.columns
    return stations.selectExpr(
        "sensor_node_id AS location",
        "coalesce(sensor_node_site_name, sensor_node_id) AS label"
        if "sensor_node_site_name" in stations.columns
        else "sensor_node_id AS label",
        "sensor_node_ismobile AS ismobile",
        "sensor_node_geometry[0] AS lon" if geometry else "CAST(NULL AS DOUBLE) AS lon",
        "sensor_node_geometry[1] AS lat" if geometry else "CAST(NULL AS DOUBLE) AS lat",
    )


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = tune(spark) if spark is not None else get_spark()

    # -- analytics surface --------------------------------------------------

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return tables.load(self.spark, sf_dir, name)

    def sql(self, query: str, sf_dir: str | None = None) -> DataFrame:
        """spark.sql over the registered testdata views (registered on
        first use per sf_dir)."""
        if sf_dir is not None:
            tables.register_views(self.spark, sf_dir)
        return self.spark.sql(query)

    # -- ingestion surface --------------------------------------------------

    def run_source(
        self,
        config: dict[str, Any],
        out_root: str,
        dry_run: bool = False,
        data_root: str | None = None,
    ) -> dict[str, Any]:
        """One bounded ingestion run for one source (the reference's
        Lambda invocation, fetcher/index.js:12-35). Returns the run log.

        dry_run (reference DRYRUN, providers.js:151-155) runs the same
        measures plan into a noop write and counts the stations instead
        of upserting them: it reports would-be outputs and writes
        nothing. Sink paths key on the source name (meta.source_name)
        like the reference's {STACK}/measures/{provider}/ layout.
        """
        from .config import resolve_paths, source_label
        from .sources.secrets import merge_secret

        config = merge_secret(resolve_paths(config, data_root))
        provider = source_label(config)
        try:
            measures, stations = processor(self.spark, config)

            # T2 incremental restart: bound this run to rows past the
            # stored high-water mark (MetaDetails, meta.js:22-41; CMU's
            # `since` default, cmu.js:56-61). A plain ts comparison →
            # pushdown-eligible; re-runs over the same feed emit nothing.
            # Applies in dry-run too, so previewed counts match a real run.
            meta = config.get("meta", {})
            if meta.get("incremental") in (True, "true", "1"):
                ck = CheckpointStore(out_root).load(provider)
                measures = measures.filter(
                    incremental_predicate(
                        F.col("timestamp"), ck, meta.get("since", "1970-01-01")
                    )
                )

            sink_kind = meta.get("sink", "csv")
            # the run counters ride the measures write as one observation
            # (before the sink's measure-IS-NOT-NULL filter, so flagged
            # null readings count): no job of their own, and nothing that
            # can fail after the append has started. A dry run drives
            # the same plan into a noop write.
            measures, read_summary = summarize(measures, provider)

            def _preview(frame: DataFrame) -> None:
                frame.write.format("noop").mode("overwrite").save()

            def _measures_step() -> str | None:
                kept = measures.filter("measure IS NOT NULL")
                if sink_kind != "json":
                    if dry_run:
                        return _preview(csv_rows(kept))
                    return write_measures_csv(kept, out_root, provider)
                payload = assemble_v01(
                    kept,
                    _v01_locations(stations),
                    provider,
                    # the run date anchors the envelope when a batch has
                    # zero measures (one envelope per batch)
                    default_day=_dt.now(_timezone.utc).strftime("%Y-%m-%d"),
                )
                if dry_run:
                    return _preview(payload)
                return write_measures_json(payload, out_root, provider)

            def _station_step():
                if dry_run:
                    return stations.count()
                return diff_upsert(
                    self.spark, stations, f"{out_root}/stations/{provider}",
                    "sensor_node_id",
                )

            # the two steps touch disjoint per-provider paths, so they
            # overlap, and the second one's tasks back-fill the first
            # one's tail; errors surface in sequential order.
            # The checkpoint advance and the run-log publish stay strictly
            # AFTER both — a crash mid-run must never leave an advanced
            # checkpoint pointing past unwritten data.
            with futures.ThreadPoolExecutor(max_workers=2) as pool:
                f_m = pool.submit(_measures_step)
                f_s = pool.submit(_station_step)
            measures_path, station_counts = f_m.result(), f_s.result()
            log = read_summary()
            hwm = log.pop("_hwm")
            if dry_run:
                log.update(n_stations=station_counts, status="dry-run")
                return log
            log["n_stations"] = (
                station_counts["written"] + station_counts["skipped_unchanged"]
            )
            log["measures_path"] = measures_path
            log["stations"] = station_counts
            log["checkpoint"] = advance(
                CheckpointStore(out_root), provider, measures, "timestamp", hwm=hwm
            )
            log["status"] = "fetcher/success"
            publish(
                self.spark,
                f"{out_root}/runlog",
                provider,
                log["status"],
                n_measures=log["n_measures"],
                from_ts=log["from_ts"],
                to_ts=log["to_ts"],
            )
            return log
        except Exception as e:
            # reference: any throw → SNS 'fetcher/error' (index.js:31-34)
            try:
                publish(
                    self.spark, f"{out_root}/runlog", provider, "fetcher/error",
                    message=str(e)[:500],
                )
            except Exception:
                pass
            raise
