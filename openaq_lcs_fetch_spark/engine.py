"""Engine facade — the user-facing API tying the layers together.

``run_source`` is the full per-source lifecycle of the reference's
fetcher (SURVEY.md §3.1: dispatch → provider dataflow → station upsert
→ measures sink → checkpoint → run log), as one batch job. The
streaming flavor of the same pipelines lives in streaming/.
"""

from __future__ import annotations

from datetime import datetime as _dt, timezone as _timezone
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession

from pyspark.sql import functions as F

from . import tables
from .providers import processor
from .session import get_spark, tune
from .sinks.log import publish, summarize
from .sinks.measures import assemble_v01, write_measures_csv, write_measures_json
from .sinks.stations import diff_upsert
from .sources.checkpoint import CheckpointStore, advance, incremental_predicate


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

        dry_run short-circuits the sinks (reference DRYRUN,
        providers.js:151-155) and reports would-be outputs. Sink paths
        key on the source name (meta.source_name) like the reference's
        {STACK}/measures/{provider}/ layout.
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

            from concurrent.futures import ThreadPoolExecutor

            if dry_run:
                # the measures summary and the station count are
                # independent read-only aggregates over different
                # frames — overlap them so the second job's tasks
                # back-fill the first one's tail (guide §2.6). Error
                # precedence matches the sequential code: a summarize
                # failure surfaces first.
                with ThreadPoolExecutor(max_workers=2) as pool:
                    f_sum = pool.submit(summarize, measures, provider)
                    f_cnt = pool.submit(stations.count)
                    sum_exc = cnt_exc = None
                    try:
                        log = f_sum.result()
                    except Exception as e:
                        sum_exc = e
                    try:
                        n_stations = f_cnt.result()
                    except Exception as e:
                        cnt_exc = e
                if sum_exc is not None:
                    raise sum_exc
                if cnt_exc is not None:
                    raise cnt_exc
                log.pop("_hwm", None)
                log["n_stations"] = n_stations
                log["status"] = "dry-run"
                return log

            sink_kind = config.get("meta", {}).get("sink", "csv")

            # r15 (guide §1.2/§4; r14 verdict task #2 — fuse the sink
            # writes with their counters): in a REAL run the summary
            # counters RIDE THE MEASURES SINK WRITE as observed metrics
            # (CollectMetrics on the exact frame summarize() read —
            # BEFORE the sink's measure-IS-NOT-NULL filter), and the
            # station count falls out of diff_upsert's own observed
            # counters (written + skipped == the incoming station
            # count) — zero standalone pre-sink aggregation jobs. The
            # JSON sink keeps the standalone summary (assemble_v01
            # references the measures subtree from two branches, and an
            # observation node may appear only once per query), but
            # submits it into the SAME pool so it overlaps the sinks.
            obs = None
            if sink_kind != "json":
                obs = Observation()
                measures = measures.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.min("timestamp").alias("from_ts"),
                    F.max("timestamp").alias("to_ts"),
                    F.date_format(
                        F.max("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
                    ).alias("hwm"),
                )

            def _measures_sink() -> str:
                if sink_kind == "json":
                    locations = stations.selectExpr(
                        "sensor_node_id AS location",
                        "coalesce(sensor_node_site_name, sensor_node_id) AS label"
                        if "sensor_node_site_name" in stations.columns
                        else "sensor_node_id AS label",
                        "sensor_node_ismobile AS ismobile",
                        "sensor_node_geometry[0] AS lon"
                        if "sensor_node_geometry" in stations.columns
                        else "CAST(NULL AS DOUBLE) AS lon",
                        "sensor_node_geometry[1] AS lat"
                        if "sensor_node_geometry" in stations.columns
                        else "CAST(NULL AS DOUBLE) AS lat",
                    )
                    payload = assemble_v01(
                        measures.filter("measure IS NOT NULL"),
                        locations,
                        provider,
                        # the run date anchors the envelope when a batch
                        # has zero measures (one envelope per batch)
                        default_day=_dt.now(_timezone.utc).strftime("%Y-%m-%d"),
                    )
                    return write_measures_json(payload, out_root, provider)
                return write_measures_csv(
                    measures.filter("measure IS NOT NULL"), out_root, provider
                )

            # the measures sink and the station upsert write DISJOINT
            # per-provider paths — overlap them too (same §2.6 shape,
            # same sequential error precedence: summary first, then
            # measures sink, then upsert). The checkpoint advance and
            # the run-log publish stay strictly AFTER both sinks — a
            # crash mid-run must never leave an advanced checkpoint
            # pointing past unwritten data.
            with ThreadPoolExecutor(max_workers=3) as pool:
                f_sum = (
                    pool.submit(summarize, measures, provider)
                    if obs is None
                    else None
                )
                f_m = pool.submit(_measures_sink)
                f_u = pool.submit(
                    diff_upsert,
                    self.spark,
                    stations,
                    f"{out_root}/stations/{provider}",
                    "sensor_node_id",
                )
                s_exc = m_exc = u_exc = None
                log = hwm_pre = None
                if f_sum is not None:
                    try:
                        log = f_sum.result()
                        hwm_pre = log.pop("_hwm", None)
                    except Exception as e:
                        s_exc = e
                try:
                    measures_path = f_m.result()
                except Exception as e:
                    m_exc = e
                try:
                    upsert_counts = f_u.result()
                except Exception as e:
                    u_exc = e
            if s_exc is not None:
                raise s_exc
            if m_exc is not None:
                raise m_exc
            if u_exc is not None:
                raise u_exc
            if obs is not None:
                # the summary counters observed on the sink write —
                # same single-pass aggregate summarize() ran, zero
                # extra evaluations of the provider plan
                row = obs.get
                log = {
                    "source": provider,
                    "n_measures": row["n"],
                    "from_ts": row["from_ts"],
                    "to_ts": row["to_ts"],
                }
                hwm_pre = row["hwm"]
            log["n_stations"] = (
                upsert_counts["written"] + upsert_counts["skipped_unchanged"]
            )
            log["measures_path"] = measures_path
            log["stations"] = upsert_counts
            store = CheckpointStore(out_root)
            # the summary pass already computed the checkpoint-format
            # mark over this very frame — advance() skips its own
            # full-plan aggregation (one fewer evaluation per run); an
            # empty batch's mark is None, which keeps the stored mark
            log["checkpoint"] = advance(
                store, provider, measures, "timestamp", hwm=hwm_pre
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
