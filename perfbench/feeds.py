"""Seeded raw feeds in three provider shapes, plus the outputs a correct
engine must derive from them.

Every feed keeps the raw rows it has written, so the expected result of a
``run_source`` over the feed's visible files is recomputed here in plain
Python: the measure count the run log must report (sentinel-flagged rows
included), the non-null measures the sink must land, their micro-unit
sum, the checkpoint high-water mark, and the station registry content
that decides the written/skipped split of the station upsert.

The reference re-implements the provider dataflows row by row. It shares
only data with the package (measurand lookup tables, the supported
parameter list, the sentinel tokens), never dataflow code. It covers the
config knobs of the shipped configs it is used with (cmu, data354,
clarity).
"""

from __future__ import annotations

import copy
import csv
import json
import math
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from openaq_lcs_fetch_spark.measurands import SUPPORTED_PARAMETERS, measurand_rows
from openaq_lcs_fetch_spark.operators.filters import SENTINEL_TOKENS
from openaq_lcs_fetch_spark.providers import enriched, keyed_map, wide_csv

#: every feed counts its hour slots from here; configs pin ``meta.as_of``
AS_OF = "2024-06-03T12:30:00"
DEFAULT_SINCE = "1970-01-01"

_PLAIN = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_GROUPED = re.compile(r"^[+-]?\d{1,3}(,\d{3})+(\.\d*)?$")
_FLAGGED = ("NaN", "n/a", "inv")  # sentinel tokens the generator emits
_JAVA_FMT = {"yyyy-MM-dd HH_mm": "%Y-%m-%d %H_%M"}  # the cmu config's ts_format


def micro(m: float) -> int:
    """Micro-unit integer of a measure; the readback applies the same
    double arithmetic (floor(m * 1e6 + 0.5)) engine-side."""
    return math.floor(m * 1e6 + 0.5)


def _number(raw: str | None) -> float | None:
    """coerce_number: plain or thousands-grouped numerals, else NULL."""
    if raw is None:
        return None
    if _GROUPED.match(raw):
        return float(raw.replace(",", ""))
    if _PLAIN.match(raw):
        return float(raw)
    return None


def _clean(raw: str | None) -> tuple[float | None, bool]:
    """(measure before scaling, sentinel-flagged)."""
    if raw is not None and raw in SENTINEL_TOKENS:
        return None, True
    return _number(raw), False


def _dim(cfg: dict, default) -> dict[str, list[float]]:
    """input_param -> scales of its supported lookup rows."""
    lookup = cfg["meta"].get("lookup") or default
    out: dict[str, list[float]] = {}
    for inp, param, _unit, _nu, scale in measurand_rows(tuple(tuple(r) for r in lookup)):
        if param in SUPPORTED_PARAMETERS:
            out.setdefault(inp, []).append(scale)
    return out


def label(cfg: dict) -> str:
    return cfg.get("meta", {}).get("source_name") or cfg["provider"]


def _slot_time(slot: int) -> datetime:
    return datetime.fromisoformat(AS_OF).replace(minute=0) + timedelta(hours=slot)


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _moved(lon: float) -> float:
    """A relocated entity's longitude: smaller than its old one, so the
    providers' ascending-geometry tiebreak picks the new position."""
    return round(lon - 1.0, 6)


def _hidden(path: str) -> str:
    return os.path.join(os.path.dirname(path), "." + os.path.basename(path))


@dataclass
class Expect:
    """What one ``run_source`` over a feed must produce."""

    n: int = 0  # run-log n_measures (flagged rows included)
    nonnull: int = 0  # rows the measures sink lands
    micro: int = 0  # Σ micro(measure) over the landed rows
    hwm: str | None = None  # checkpoint-format max(timestamp)
    stations: dict = field(default_factory=dict)  # key -> registry content

    def add(self, ts: datetime, m: float | None) -> None:
        self.n += 1
        if m is not None:
            self.nonnull += 1
            self.micro += micro(m)
        h = ts.strftime("%Y-%m-%dT%H:%M:%S.%f")
        if self.hwm is None or h > self.hwm:
            self.hwm = h


class Feed:
    """One source's raw feed directory plus its Python reference.
    ``entities`` maps each station/device key to its (lon, lat)."""

    ext = "json"

    def __init__(self, cfg: dict, data_root: str, rng, n: int):
        self.cfg = copy.deepcopy(cfg)
        self.meta = self.cfg["meta"]
        self.meta["as_of"] = AS_OF
        self.dir = self.meta["path"].replace("{data_root}", data_root)
        os.makedirs(self.dir, exist_ok=True)
        self.rng = rng
        self.rows: list = []
        self.files: list[str] = []
        self.label = label(self.cfg)
        self.entities = {
            self.key(i): (round(-80 + rng.random(), 6), round(40 + rng.random(), 6))
            for i in range(n)
        }

    def key(self, i: int) -> str:
        return f"dev{i:04d}"

    def append(self, slot: int, moved=(), span: int = 1) -> None:
        """Write one more file holding every entity at hour slots
        ``slot .. slot + span - 1``; ``moved`` entities report a new
        position."""
        rows = []
        for s in range(slot, slot + span):
            for k in sorted(self.entities):
                lon, lat = self.entities[k]
                rows += self.make_rows(s, k, _moved(lon) if k in moved else lon, lat)
        path = os.path.join(self.dir, f"part-{len(self.files):05d}.{self.ext}")
        self.write(path, rows)
        self.files.append(path)
        self.rows.extend(rows)

    def snapshot(self) -> int:
        return len(self.files)

    def hold(self, snap: int) -> None:
        """Hide the files written since ``snap`` from scans (a leading
        dot), keeping them for :meth:`release`."""
        self.held_snap = snap
        for p in self.files[snap:]:
            os.rename(p, _hidden(p))

    def release(self) -> None:
        for p in self.files[self.held_snap:]:
            os.rename(_hidden(p), p)

    def value(self) -> str:
        if self.rng.random() < 0.02:
            return self.rng.choice(_FLAGGED)
        return f"{self.rng.randint(0, 9999) / 10:.1f}"


class WideCsvFeed(Feed):
    """Stations × hours, one column per parameter (the CMU shape), with
    local timestamps in the config's format and time zone."""

    ext = "csv"

    def __init__(self, cfg, data_root, rng, n):
        super().__init__(cfg, data_root, rng, n)
        self.params = self.meta["params"].split(",")
        self.fmt = _JAVA_FMT[self.meta["ts_format"]]
        self.tz = ZoneInfo(self.meta["tz"])
        self.sites = {k: f"Site {i % max(1, n // 2)}" for i, k in enumerate(sorted(self.entities))}

    def key(self, i):
        return f"st{i:04d}"

    def make_rows(self, slot, k, lon, lat):
        ts = _slot_time(slot).strftime(self.fmt)
        return [(k, self.sites[k], ts, f"{lat}", f"{lon}", tuple(self.value() for _ in self.params))]

    def write(self, path, rows):
        meta = self.meta
        header = [meta.get("station_col", "Anon_Name"), meta.get("site_col", "Site_Name"),
                  meta.get("timestamp_col", "Timestamp"), meta.get("lat_col", "Lat"),
                  meta.get("lon_col", "Lon")] + self.params
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for st, site, ts, lat, lon, vals in rows:
                w.writerow([st, site, ts, lat, lon, *vals])

    def expect(self, since=None) -> Expect:
        out, dim = Expect(), _dim(self.cfg, wide_csv.LOOKUP)
        shift = timedelta(minutes=int(self.meta["shift_minutes"])
                          + int(self.meta.get("hour_ending_minutes", 0)))
        lo = datetime.fromisoformat(since or DEFAULT_SINCE)
        best: dict[str, tuple] = {}
        for st, site, ts_s, lat, lon, vals in self.rows:
            cand = (site, (float(lon), float(lat)))
            if st not in best or cand < best[st]:
                best[st] = cand
            local = datetime.strptime(ts_s, self.fmt).replace(tzinfo=self.tz)
            ts = local.astimezone(timezone.utc).replace(tzinfo=None) + shift
            if not ts > lo:
                continue
            for p, raw in zip(self.params, vals):
                v, flagged = _clean(raw)
                if v is None and not flagged:
                    continue
                for scale in dim.get(p, ()):
                    out.add(ts, None if v is None else v * scale)
        out.stations = {k: (s, self.label, g, False) for k, (s, g) in best.items()}
        return out


class KeyedMapFeed(Feed):
    """JSON lines ``{device_id, ts, lat, lon, readings{param: value}}``;
    one reading key is not in the lookup and must be dropped."""

    def __init__(self, cfg, data_root, rng, n):
        super().__init__(cfg, data_root, rng, n)
        self.keys = [r[0] for r in self.meta.get("lookup") or keyed_map.LOOKUP] + ["unlisted"]

    def make_rows(self, slot, k, lon, lat):
        return [(k, _iso(_slot_time(slot)), lat, lon, {p: self.value() for p in self.keys})]

    def write(self, path, rows):
        with open(path, "w") as f:
            for d, ts, lat, lon, readings in rows:
                f.write(json.dumps({"device_id": d, "ts": ts, "lat": lat, "lon": lon,
                                    "readings": readings}) + "\n")

    def expect(self, since=None) -> Expect:
        out, dim = Expect(), _dim(self.cfg, keyed_map.LOOKUP)
        lo = datetime.fromisoformat(since or DEFAULT_SINCE)
        best: dict[str, tuple] = {}
        for d, ts_s, lat, lon, readings in self.rows:
            if d not in best or (lon, lat) < best[d]:
                best[d] = (lon, lat)
            ts = datetime.fromisoformat(ts_s.rstrip("Z"))
            if not ts > lo:
                continue
            for p, raw in readings.items():
                v, flagged = _clean(raw)
                if v is None and not flagged:
                    continue
                for scale in dim.get(p, ()):
                    out.add(ts, None if v is None else v * scale)
        out.stations = {k: (self.label, g, False) for k, g in best.items()}
        return out


class EnrichedFeed(Feed):
    """Flat measurement rows keyed by datasource id plus the datasource
    dimension file (the clarity shape); every seventh id misses the
    dimension and one characteristic is not in the lookup."""

    def __init__(self, cfg, data_root, rng, n):
        super().__init__(cfg, data_root, rng, n)
        self.chars = [r[0] for r in self.meta.get("lookup") or enriched.LOOKUP] + ["relHumid"]
        self.names = {k: f"clarity-node-{i % 5}" for i, k in enumerate(sorted(self.entities))
                      if i % 7 != 6}
        dim_dir = self.meta["datasources_path"].replace("{data_root}", data_root)
        os.makedirs(dim_dir, exist_ok=True)
        with open(os.path.join(dim_dir, "datasources.json"), "w") as f:
            for ds, name in sorted(self.names.items()):
                f.write(json.dumps({"datasource_id": ds, "datasource_name": name}) + "\n")

    def key(self, i):
        return f"DS{i:05d}"

    def make_rows(self, slot, k, lon, lat):
        ts = _iso(_slot_time(slot))
        return [(f"m{slot}-{k}-{c}", k, ts, lat, lon, c, self.rng.randint(0, 9999) / 10,
                 self.rng.choice(("", "", "", "QC-1", None))) for c in self.chars]

    def write(self, path, rows):
        keys = ("measurement_id", "datasource_id", "ts", "lat", "lon", "characteristic",
                "value", "qc")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(keys, r))) + "\n")

    def expect(self, since=None) -> Expect:
        out, dim = Expect(), _dim(self.cfg, enriched.LOOKUP)
        lo = datetime.fromisoformat(since or DEFAULT_SINCE)
        for _mid, ds, ts_s, lat, lon, c, v, _qc in self.rows:
            name = self.names.get(ds)
            if name is None:
                continue
            out.stations.setdefault(ds, (name, self.label, (lon, lat), False))
            ts = datetime.fromisoformat(ts_s.rstrip("Z"))
            if ts > lo:
                for scale in dim.get(c, ()):
                    out.add(ts, v * scale)
        return out


FEEDS = {
    "wide_csv": WideCsvFeed,
    "keyed_map": KeyedMapFeed,
    "enriched": EnrichedFeed,
}


class Registry:
    """The station store a correct upsert maintains: a row is written
    when its key is new or its content changed, else skipped."""

    def __init__(self):
        self.rows: dict = {}

    def upsert(self, stations: dict) -> tuple[int, int]:
        written = sum(1 for k, v in stations.items() if self.rows.get(k) != v)
        self.rows.update(stations)
        return written, len(stations) - written
