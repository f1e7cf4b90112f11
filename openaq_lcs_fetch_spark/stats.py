"""ANALYZE-style table statistics: one-pass collection, JSON sidecar
persistence, the Selinger equi-join cardinality estimate built on
them — and the consumer that makes them real: a broadcast-vs-shuffle
join planner (:func:`choose_join_strategy` / :func:`stats_aware_join`,
path-level variant ``storage.stats_aware_path_join``) driven by the
EXACT sidecar statistics, driver-verified by ``stats_join_strategy``
(plans/layout.py).

Companion infrastructure to the CBO-audit *queries*
(``histogram_selectivity_audit`` / ``column_correlation_audit`` /
``join_explosion_audit`` in ``plans/layout.py``): those verify the
estimator MATH against exact answers; this module is the production
side that collects and stores the statistics a planner would actually
consult. The reference has no analogue (its only table-shaped state is
the per-source checkpoint, fetcher/lib/meta.js) — this exists because
a 100 TB deployment plans joins before running them.

Scale shape: ``collect_table_stats`` is exactly ONE aggregation job
over the table — every per-column statistic (count/nulls/NDV/min/max/
avg length) is a column in a single ``agg()``, so the pass is
map-side-combined and reads each row once however many columns are
profiled. NDV uses ``approx_count_distinct`` (HyperLogLog++, default
rsd 0.05) — the same sketch every warehouse ANALYZE uses; exact NDV at
100 TB would itself be a full shuffle per column. The sidecar is a
tiny JSON document next to the data (the checkpoint-store pattern,
atomic tmp+rename), NOT a Spark job.
"""

from __future__ import annotations

import decimal as _decimal
import json
import os
import tempfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: base dtypes whose min/max are JSON-serializable and order-meaningful.
#: EXACT match on the parenthesis-stripped base type — a prefix match
#: would let "int" claim "interval day to second" (whose min/max is a
#: timedelta json.dump cannot serialize).
_ORDERED_TYPES = frozenset(
    {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal", "date", "timestamp", "timestamp_ntz",
    }
)


def _is_ordered(dtype: str) -> bool:
    return dtype.split("(")[0] in _ORDERED_TYPES


#: sidecar document schema version. Version 1 is the first schema that
#: carries the ``partial`` marker for column-subset profiles; documents
#: WITHOUT a version (written before the marker existed) might be
#: unmarked subset profiles whose row-width estimate silently excludes
#: unprofiled columns, so the join planner refuses to broadcast from
#: them (same stance as partial/missing stats).
STATS_VERSION = 1


def collect_table_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    rsd: float = 0.05,
    hot_keys: list[str] | None = None,
) -> dict[str, Any]:
    """One aggregation pass → ``{"n_rows": N, "columns": {col: {...}}}``.

    Per column: ``n_nulls``, ``ndv`` (HLL++ approx, ``rsd`` relative
    error), and for ordered types ``min``/``max`` (ISO strings for
    date/timestamp so the document round-trips through JSON); strings
    add ``avg_len``. NaN counts as a value, not a null (matches both
    engines' COUNT semantics in the audit queries).

    ``hot_keys`` (opt-in, one extra groupBy pass per named column —
    expected join keys only, not every column) adds exact
    ``top_values: [{"value", "count"}, ...]`` (top 3 by frequency) to
    those columns. This is the per-key evidence
    :func:`join_preflight` / :func:`stats_aware_join` use to tell a
    genuinely skewed key (one value owns a large share of the rows —
    salting helps) from a uniformly m:n key (salting just adds a
    shuffle column). The pass is a groupBy-count-limit(3): the shuffle
    carries (key, partial count) pairs — NDV-sized, never rows.
    """
    dtypes = dict(df.dtypes)
    cols = list(columns) if columns is not None else list(df.columns)
    unknown = [c for c in cols if c not in dtypes]
    if unknown:
        raise KeyError(f"collect_table_stats: unknown columns {unknown}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            # coalesce: SUM over an EMPTY table is NULL, and a None
            # null-count TypeErrors the planner's width math downstream
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"__nulls__{c}")
        )
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"__ndv__{c}"))
        if _is_ordered(dtypes[c]):
            if dtypes[c].split("(")[0] in ("timestamp", "timestamp_ntz"):
                # format ENGINE-side under the UTC session tz — a raw
                # collect hands back a host-LOCAL naive datetime whose
                # isoformat shifts with the host TZ (the checkpoint
                # high-water-mark bug class); strip an all-zero
                # fraction to keep the isoformat() round-trip shape
                for agg, key in ((F.min(c), "min"), (F.max(c), "max")):
                    aggs.append(
                        F.regexp_replace(
                            F.date_format(agg, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
                            r"\.000000$",
                            "",
                        ).alias(f"__{key}__{c}")
                    )
            else:
                aggs.append(F.min(c).alias(f"__min__{c}"))
                aggs.append(F.max(c).alias(f"__max__{c}"))
        if dtypes[c] == "string":
            aggs.append(F.avg(F.length(c)).alias(f"__avglen__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    def _jsonable(v):
        # decimal min/max comes back as decimal.Decimal — not JSON-
        # serializable; surface as float (these are planner statistics,
        # not ledger values — float precision is the documented contract)
        if isinstance(v, _decimal.Decimal):
            return float(v)
        return v.isoformat() if hasattr(v, "isoformat") else v

    out: dict[str, Any] = {
        "version": STATS_VERSION,
        "n_rows": row["__n"],
        "columns": {},
    }
    if set(cols) != set(df.columns):
        # a subset profile cannot estimate the ROW width — mark it so
        # the join planner never mistakes "8 bytes of profiled columns"
        # for "8-byte rows" and broadcasts a wide table
        out["partial"] = True
    for c in cols:
        st: dict[str, Any] = {
            "dtype": dtypes[c],
            "n_nulls": row[f"__nulls__{c}"],
            "ndv": row[f"__ndv__{c}"],
        }
        if f"__min__{c}" in row:
            st["min"] = _jsonable(row[f"__min__{c}"])
            st["max"] = _jsonable(row[f"__max__{c}"])
        if f"__avglen__{c}" in row:
            st["avg_len"] = row[f"__avglen__{c}"]
        out["columns"][c] = st
    for c in hot_keys or []:
        if c not in out["columns"]:
            raise KeyError(f"collect_table_stats: hot_keys column {c!r} "
                           "not in the profiled column set")
        top = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .orderBy(F.desc("__cnt"), F.col(c))  # value tiebreak: stable
            .limit(3)
            .collect()
        )
        out["columns"][c]["top_values"] = [
            {"value": _jsonable(r[c]), "count": r["__cnt"]} for r in top
        ]
    return out


def write_stats(stats: dict[str, Any], path: str) -> str:
    """Persist next to the data as ``{path}/_stats.json`` (atomic
    tmp+rename, the checkpoint-store discipline)."""
    os.makedirs(path, exist_ok=True)
    target = os.path.join(path, "_stats.json")
    # prefix must keep the underscore: a crash between mkstemp and
    # os.replace leaves the temp file in the parquet data directory,
    # and Spark's file index only ignores paths starting with "_"/"."
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_stats.", suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(stats, fh, sort_keys=True)
    os.replace(tmp, target)
    return target


def read_stats(path: str) -> dict[str, Any] | None:
    try:
        with open(os.path.join(path, "_stats.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def estimate_equijoin_rows(
    stats_l: dict[str, Any],
    stats_r: dict[str, Any],
    key_l: str,
    key_r: str,
) -> int:
    """Selinger estimate: |L ⋈ R| ≈ nL·nR / max(ndvL, ndvR), under
    uniformity + containment-of-value-sets — the classic System-R
    formula every CBO starts from. NULL keys never join, so each
    side's row count is discounted by its null fraction first.
    ``join_explosion_audit`` (plans/layout.py) is the exact-answer
    audit of how far this assumption drifts on real key skew.
    """
    cl, cr = stats_l["columns"][key_l], stats_r["columns"][key_r]
    nl = stats_l["n_rows"] - cl["n_nulls"]
    nr = stats_r["n_rows"] - cr["n_nulls"]
    ndv = max(cl["ndv"], cr["ndv"], 1)
    return (nl * nr) // ndv


#: in-memory width guesses (bytes) per base dtype, for broadcast
#: sizing — deliberately on the generous side (hash-relation overhead):
#: the cost of a wrong "broadcast" call (executor OOM / driver fetch
#: storm at 1000 executors) dwarfs the cost of a wrong "shuffle" call.
_DTYPE_BYTES = {
    "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "bigint": 8,
    "float": 4, "double": 8, "decimal": 16, "date": 4,
    "timestamp": 8, "timestamp_ntz": 8,
}
_UNKNOWN_DTYPE_BYTES = 48  # arrays/structs/maps: conservative default
_STRING_OVERHEAD_BYTES = 8  # per-value object/offset overhead

#: Spark's own spark.sql.autoBroadcastJoinThreshold default — the
#: published, battle-tested cut line for "ship this to every executor".
BROADCAST_DEFAULT_BYTES = 10 * 1024 * 1024


def estimate_row_bytes(stats: dict[str, Any]) -> float:
    """Estimated in-memory row width from a stats document: fixed dtype
    widths, ``avg_len`` + overhead for strings, a conservative default
    for nested types. Null fractions discount each column's
    contribution (a null costs ~a bit, not a value)."""
    n = max(stats["n_rows"], 1)
    width = 0.0
    for st in stats["columns"].values():
        frac = 1.0 - min(st["n_nulls"], n) / n
        base = st["dtype"].split("(")[0]
        if base == "string":
            # avg_len is None for an all-NULL string column / empty
            # table (F.avg over no rows) — fall back to the default
            # width rather than TypeError-ing the planner
            avg_len = st.get("avg_len")
            w = (avg_len if avg_len is not None else 16.0) + _STRING_OVERHEAD_BYTES
        else:
            w = _DTYPE_BYTES.get(base, _UNKNOWN_DTYPE_BYTES)
        width += frac * w
    return width


def estimate_table_bytes(stats: dict[str, Any]) -> int:
    """``n_rows × estimated row width`` — the number a planner compares
    against the broadcast threshold. Uses only EXACT statistics
    (n_rows, null counts, avg_len), so the decision is deterministic
    for a given table, unlike anything built on the approximate NDV."""
    return int(stats["n_rows"] * estimate_row_bytes(stats))


def choose_join_strategy(
    stats_l: dict[str, Any] | None,
    stats_r: dict[str, Any] | None,
    threshold_bytes: int = BROADCAST_DEFAULT_BYTES,
) -> str:
    """Broadcast-vs-shuffle decision from two stats documents:
    ``broadcast_right`` / ``broadcast_left`` when that side's estimated
    bytes fit under ``threshold_bytes`` (smaller side wins a tie),
    ``shuffle`` otherwise. A side with NO stats (None), a PARTIAL
    document (collected over a column subset, whose row-width estimate
    would silently exclude the unprofiled columns), or an UNVERSIONED
    document (written before the ``partial`` marker existed, so it may
    be an unmarked subset profile) is never broadcast: missing evidence
    never ships an unbounded table to every executor, the same stance
    the vacuum takes on unknown file spans."""

    def _bytes(st):
        if st is None or st.get("partial") or st.get("version", 0) < 1:
            return None
        return estimate_table_bytes(st)

    bl, br = _bytes(stats_l), _bytes(stats_r)
    r_ok = br is not None and br <= threshold_bytes
    l_ok = bl is not None and bl <= threshold_bytes
    if r_ok and (not l_ok or br <= bl):
        return "broadcast_right"
    if l_ok:
        return "broadcast_left"
    return "shuffle"


def stats_aware_join(
    left: DataFrame,
    right: DataFrame,
    on,
    stats_l: dict[str, Any] | None,
    stats_r: dict[str, Any] | None,
    threshold_bytes: int = BROADCAST_DEFAULT_BYTES,
    how: str = "inner",
    mitigate_skew: bool = True,
) -> DataFrame:
    """The consumer that makes the ANALYZE collector real: join with
    the physical strategy :func:`choose_join_strategy` picks from the
    sidecar statistics. Broadcast decisions attach an explicit
    ``F.broadcast`` hint; a shuffle decision pins SHUFFLE_MERGE so an
    optimistic runtime size guess can't ship a table the stats say is
    over the line (the hint is what makes the decision auditable in
    the plan — see ``stats_join_strategy`` / the plan-flip tests).

    When ``on`` is a plain same-named key, :func:`join_preflight` also
    runs on an exploding estimate (> JOIN_BLOWUP_FACTOR × the larger
    input) — the cheapest possible time to learn a join will square,
    before a single task is scheduled. What happens next depends on
    the evidence (``mitigate_skew`` is the escape hatch — False
    restores warn-only):

    * pre-flight fires AND the stats identify a HOT key (the opt-in
      ``collect_table_stats(hot_keys=...)`` top-values pass shows one
      value owning ≥ HOT_KEY_SHARE of the bigger side's rows) AND the
      join is an inner shuffle join AND the dim replication is bounded
      (smaller.n_rows × salt_buckets ≤ bigger.n_rows, so spreading
      costs less than one extra pass over the fact side) → the join is
      ROUTED through :func:`operators.skew.salted_join` — each hot
      key's rows spread over ``salt_buckets`` reducers instead of one
      straggler task. Result-identical to the plain join
      (``salted_join_stats`` proves plan-change-only equivalence);
      column order is normalized back to the plain-join shape.
    * pre-flight fires without that evidence (uniform m:n explosion,
      broadcast strategy, outer join, oversized dim) → WARN as before:
      salting can't fix a uniform blow-up, and a broadcast join has no
      per-key reducer to skew.
    """
    key = on if isinstance(on, str) else (
        on[0] if isinstance(on, (list, tuple)) and len(on) == 1
        and isinstance(on[0], str) else None
    )
    strategy = choose_join_strategy(stats_l, stats_r, threshold_bytes)
    if key is not None:
        pf = join_preflight(stats_l, stats_r, key, key)
        if pf is not None and pf["exploding"]:
            import warnings

            routed = None
            if mitigate_skew and strategy == "shuffle" and how == "inner":
                routed = _salted_route(
                    left, right, key, pf, stats_l, stats_r
                )
            if routed is not None:
                warnings.warn(
                    f"join on {key!r} estimated to emit ~{pf['est_rows']:,} "
                    f"rows ({pf['blowup']:.1f}x the larger input) with a "
                    "hot key — routed through salted_join (set "
                    "mitigate_skew=False to opt out)",
                    stacklevel=2,
                )
                return routed
            warnings.warn(
                f"join on {key!r} estimated to emit ~{pf['est_rows']:,} "
                f"rows ({pf['blowup']:.1f}x the larger input, factor "
                f"{JOIN_BLOWUP_FACTOR}): pre-aggregate, cap the hot "
                "keys, or salt before shipping this at scale",
                stacklevel=2,
            )
    if strategy == "broadcast_right":
        return left.join(F.broadcast(right), on=on, how=how)
    if strategy == "broadcast_left":
        return F.broadcast(left).join(right, on=on, how=how)
    return left.hint("shuffle_merge").join(right, on=on, how=how)


#: share of a table's rows the single most frequent key value must own
#: before stats_aware_join treats an exploding join as SKEWED (salting
#: helps) rather than uniformly m:n (salting just adds a column). At
#: 10% one reducer gets ≥ 10% of the shuffle — 3×+ the average at 32
#: partitions, worse at 1000 — while a uniform explosion never puts
#: 10% of rows on one key past trivial NDV. Documented in
#: docs/ORACLE_NOTES.md with the replication bound.
HOT_KEY_SHARE = 0.10

#: fact-side salt fan-out for the routed salted_join (each hot key
#: spreads over this many reducers; the dim side replicates this many
#: times, which the replication bound keeps below one fact-side pass).
SALT_BUCKETS = 16


def _salted_route(
    left: DataFrame,
    right: DataFrame,
    key: str,
    pf: dict[str, Any],
    stats_l: dict[str, Any],
    stats_r: dict[str, Any],
) -> DataFrame | None:
    """Route an exploding inner shuffle join through salted_join when
    the evidence supports it; None when it doesn't (caller falls back
    to warn-only). See :func:`stats_aware_join` for the decision
    table.

    Two input shapes make the route itself unsafe, and both fall back
    to warn-only rather than raise (the route is an optional execution
    strategy — it must never turn a previously-tolerated join into an
    exception): a pre-existing ``_salt`` column on either side (would
    collide with salted_join's internal column), and left/right
    sharing a NON-key column name (the normalizing ``select(*order)``
    back to plain-join column order would be ambiguous; the plain join
    keeps both copies, which select-by-name cannot reproduce)."""
    from .operators.skew import salted_join

    if "_salt" in left.columns or "_salt" in right.columns:
        return None
    shared = (set(left.columns) & set(right.columns)) - {key}
    if shared:
        return None
    n_l, n_r = stats_l["n_rows"], stats_r["n_rows"]
    fact_is_left = n_l >= n_r
    hot = pf["hot_l"] if fact_is_left else pf["hot_r"]
    if hot is None or hot["share"] < HOT_KEY_SHARE:
        return None
    big_n, small_n = (n_l, n_r) if fact_is_left else (n_r, n_l)
    if small_n * SALT_BUCKETS > big_n:
        return None  # replication would cost more than it saves
    fact, dim = (left, right) if fact_is_left else (right, left)
    # pin the shuffle: the route only fires when choose_join_strategy
    # said SHUFFLE (stats say neither side broadcasts), and the same
    # rule as stats_aware_join's shuffle branch applies — a runtime
    # size guess must not override the planner (it would silently
    # broadcast a table the stats say is over the line, and the salt
    # would be dead weight in a broadcast plan anyway)
    joined = salted_join(
        fact, dim.hint("shuffle_hash"), key, salt_buckets=SALT_BUCKETS
    )
    # normalize to the plain-join column order: key, left cols, right
    # cols (salted_join puts the FACT side first, which may be right)
    order = (
        [key]
        + [c for c in left.columns if c != key]
        + [c for c in right.columns if c != key]
    )
    return joined.select(*order)


#: blow-up factor over the larger input above which :func:`join_preflight`
#: flags a join as exploding. A healthy FK equi-join emits about one row
#: per fact row (blow-up ≈ 1); 4× means the Selinger estimate says the
#: OUTPUT is four times the bigger input — at 100 TB that is a shuffle
#: write amplification no plan choice can absorb, so it should be a
#: deliberate decision (pre-aggregate, df-cap, or skew-salt first), not a
#: surprise at stage 40. Documented in docs/ORACLE_NOTES.md.
JOIN_BLOWUP_FACTOR = 4.0


def join_preflight(
    stats_l: dict[str, Any] | None,
    stats_r: dict[str, Any] | None,
    key_l: str,
    key_r: str,
    blowup_factor: float = JOIN_BLOWUP_FACTOR,
) -> dict[str, Any] | None:
    """The Selinger estimate consulted as a DECISION (the
    ``join_explosion_audit`` math moved from audit to pre-flight):
    estimate the equi-join's output rows from the two stats documents
    and flag when it exceeds ``blowup_factor ×`` the larger input.

    Returns ``{"est_rows", "blowup", "exploding"}`` or None when either
    side lacks usable statistics for the key (missing document, or key
    column not profiled). PARTIAL documents are fine here — the
    estimate needs only the key column's n_nulls/ndv plus n_rows, not
    the row width that makes partial docs broadcast-unsafe.

    The NDVs are HLL++ approximations (rsd 0.05 by default), so treat
    ``exploding`` as reliable only when the blow-up clears the factor
    with margin — which real explosions (self-joins on skewed keys,
    accidental m:n) do by orders of magnitude. ``stats_accuracy_audit``
    pins the NDV error envelope that bounds this.
    """
    if stats_l is None or stats_r is None:
        return None
    if key_l not in stats_l["columns"] or key_r not in stats_r["columns"]:
        return None
    est = estimate_equijoin_rows(stats_l, stats_r, key_l, key_r)
    # denominator convention: RAW n_rows, not null-discounted. The
    # join_preflight_audit oracle uses GREATEST(o.n, l.n) raw, and both
    # sides must agree or a nullable-key table drifts engine-vs-oracle
    # near the factor. Raw is also the conservative choice for the
    # decision this gates: nulls never match, so the raw denominator
    # only UNDER-states blowup — it can delay a warning, never emit a
    # spurious one.
    bigger = max(stats_l["n_rows"], stats_r["n_rows"], 1)
    blowup = est / bigger

    def _hot(stats: dict[str, Any], key: str) -> dict[str, Any] | None:
        # hot-key evidence, present only when the collector profiled
        # top_values (opt-in hot_keys pass): share of the table's rows
        # owned by the single most frequent key value. Raw n_rows
        # denominator — same convention as the blow-up above.
        tv = stats["columns"][key].get("top_values")
        if not tv:
            return None
        share = tv[0]["count"] / max(stats["n_rows"], 1)
        return {"value": tv[0]["value"], "share": share}

    return {
        "est_rows": est,
        "blowup": blowup,
        "exploding": blowup > blowup_factor,
        "hot_l": _hot(stats_l, key_l),
        "hot_r": _hot(stats_r, key_r),
    }
