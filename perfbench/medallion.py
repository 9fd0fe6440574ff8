"""The medallion write workload: seeded synthetic raw JSON batches through
both reference pipelines, raw -> staged -> warehouse -> processed.

Each batch lands, per city, one hourly struct-of-arrays air-quality
document (Open-Meteo air-quality shape, city taken from the file name;
one of them lacks a pollutant key, as real payloads do), plus OpenAQ
measurement-list documents (parameter-name synonyms, an unknown
parameter, duplicate readings) and Open-Meteo weather documents.
The timed operation runs ``air_quality.run_pipeline`` with
``upsert_parquet_partitioned`` into a warehouse keyed ``(city, time)``
and partitioned by city, then ``weather.run_pipeline`` with
``append_parquet``.

Batch ``k`` covers ``WINDOW`` hours starting at hour ``k * STEP`` of a
``HORIZON``-hour cycle, so after set-up preloads the whole horizon every
batch rewrites keys that already exist: a read-modify-write of a table
whose size stays ``len(CITIES) * HORIZON`` rows.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta

from stats import result_digest

CITIES = ("delhi", "mumbai", "kolkata", "chennai")
WINDOW = 48
STEP = 24
HORIZON = 120
AQ_LIST_FILES = 2
WEATHER_FILES = 2
BASE = datetime(2025, 1, 1)

POLLUTANTS = {  # observed ranges (FIXTURES.md)
    "pm10": (10, 170),
    "pm2_5": (5, 160),
    "carbon_monoxide": (200, 1600),
    "nitrogen_dioxide": (2, 50),
    "sulphur_dioxide": (5, 45),
    "ozone": (20, 100),
}
LIST_SYNONYMS = {
    "pm2_5": ("pm25", "pm2.5"),
    "pm10": ("pm10",),
    "carbon_monoxide": ("co",),
    "nitrogen_dioxide": ("no2",),
    "ozone": ("o3",),
}


def window_hours(
    k: int, window: int = WINDOW, step: int = STEP, horizon: int = HORIZON
) -> list[int]:
    """Hours of the horizon cycle that batch ``k`` covers (wrapping)."""
    return [(k * step + i) % horizon for i in range(window)]


def _ts(hour: int) -> str:
    return (BASE + timedelta(hours=hour)).strftime("%Y-%m-%dT%H:%M")


def _write(path: str, doc) -> int:
    with open(path, "w") as f:
        json.dump(doc, f)
    return os.path.getsize(path)


def land_batch(rng: random.Random, hours: list[int], aq_dir: str, wx_dir: str, tag: str) -> dict:
    """Write one batch of raw documents; returns what the pipelines should
    produce from it (rows per city, weather rows) and the raw reading
    count."""
    os.makedirs(aq_dir, exist_ok=True)
    os.makedirs(wx_dir, exist_ok=True)
    times = [_ts(h) for h in hours]
    readings = 0
    # one city's document lacks one pollutant key (FIXTURES.md: the
    # reference pads the missing metric with nulls and keeps the hours)
    gap_city, gap_key = rng.choice(CITIES), rng.choice(sorted(POLLUTANTS))
    for ci, city in enumerate(CITIES):
        keys = [p for p in POLLUTANTS if (city, p) != (gap_city, gap_key)]
        hourly = {"time": times}
        for p in keys:
            lo, hi = POLLUTANTS[p]
            hourly[p] = [round(rng.uniform(lo, hi), 1) for _ in hours]
        readings += len(hours)
        _write(
            os.path.join(aq_dir, f"{city}_raw_{tag}.json"),
            {
                "latitude": 10.0 + ci,
                "longitude": 70.0 + ci,
                "generationtime_ms": 0.5,
                "utc_offset_seconds": 0,
                "timezone": "GMT",
                "timezone_abbreviation": "GMT",
                "elevation": 200.0,
                "hourly_units": {"time": "iso8601", **{p: "ug/m3" for p in keys}},
                "hourly": hourly,
            },
        )
    for i in range(AQ_LIST_FILES):
        results = []
        for city in CITIES[i::AQ_LIST_FILES]:
            params = []
            for h in rng.sample(hours, len(hours) // 4):
                for p, names in LIST_SYNONYMS.items():
                    lo, hi = POLLUTANTS[p]
                    params.append({
                        "parameter": rng.choice(names),
                        "value": round(rng.uniform(lo, hi), 1),
                        "lastUpdated": _ts(h),
                    })
                params.append({"parameter": "bc", "value": 1.0, "lastUpdated": _ts(h)})
            readings += len(params)
            results.append({"city": city, "location": f"{city}-station", "parameters": params})
        _write(os.path.join(aq_dir, f"openaq{i}_raw_{tag}.json"), {"results": results})
    for i in range(WEATHER_FILES):
        _write(
            os.path.join(wx_dir, f"weather_{tag}_{i}.json"),
            {
                "latitude": 28.6,
                "longitude": 77.2,
                "timezone": "Asia/Kolkata",
                "hourly_units": {"time": "iso8601", "temperature_2m": "C"},
                "hourly": {
                    "time": times,
                    "temperature_2m": [round(rng.uniform(5, 45), 1) for _ in hours],
                    "relativehumidity_2m": [rng.randint(10, 100) for _ in hours],
                    "windspeed_10m": [round(rng.uniform(0, 40), 1) for _ in hours],
                },
            },
        )
        readings += len(hours)
    return {
        "rows_per_city": len(set(hours)),
        "weather_rows": WEATHER_FILES * len(hours),
        "readings": readings,
    }


def tree_files(root: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, mtime_ns, inode) of every file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, set[str]]:
    """(bytes of files new or rewritten since ``before``, their top-level
    directories)."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in new), {p.split(os.sep)[0] for p in new if os.sep in p}


def _under(files: dict, top: str) -> dict:
    """The entries of ``files`` below directory ``top``, relative to it."""
    prefix = top + os.sep
    return {p[len(prefix):]: v for p, v in files.items() if p.startswith(prefix)}


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in tree_files(root).values())


def risk_totals(processed_dir: str) -> dict[str, int]:
    """city -> total_hours from the processed risk-distribution CSV."""
    out = {}
    for path in glob.glob(os.path.join(processed_dir, "city_risk_distribution", "part-*.csv")):
        with open(path, newline="") as f:
            for row in csv.DictReader(f):
                out[row["city"]] = int(row["total_hours"])
    return out


def weather_summary_rows(processed_dir: str) -> int:
    for path in glob.glob(os.path.join(processed_dir, "analysis_summary", "part-*.csv")):
        with open(path, newline="") as f:
            for row in csv.DictReader(f):
                return int(row["rows"])
    return -1


class MedallionWorkload:
    def __init__(self, seed: int, work_dir: str):
        self.rng = random.Random(seed)
        self.root = os.path.join(work_dir, "etl")
        self.batch = 0
        self.last_rows = 0
        self.wx_rows = 0

    def _p(self, *parts) -> str:
        return os.path.join(self.root, *parts)

    def setup(self, spark) -> float:
        """Fresh directories, then preload the warehouse to the horizon
        through the air-quality pipeline's upsert (no analysis).  Caches
        nothing, so returns 0.0 cache-build seconds."""
        from advanced_etl_pipelines_spark.pipelines import air_quality
        from advanced_etl_pipelines_spark.sources.sinks import upsert_parquet_partitioned

        shutil.rmtree(self.root, ignore_errors=True)
        raw = self._p("raw", "preload")
        land_batch(self.rng, list(range(HORIZON)), raw, self._p("rawwx", "preload"), "preload")
        air_quality.run_pipeline(
            spark,
            raw,
            self._p("staged", "air_quality"),
            self._p("processed", "aq"),
            skip_analysis=True,
            upsert=lambda df: upsert_parquet_partitioned(
                spark, df, self._p("warehouse", "air_quality"), ["city", "time"], "city"
            ),
        )
        self.wx_rows = 0
        return 0.0

    def teardown(self, spark) -> None:
        pass

    def key(self, k: int) -> str:
        return "batch"

    def one_pass(self) -> list[int]:
        k = self.batch
        self.batch += 1
        return [k]

    def _pipelines(self, spark, aq_raw: str, wx_raw: str, tracer) -> dict:
        from advanced_etl_pipelines_spark.pipelines import air_quality, weather
        from advanced_etl_pipelines_spark.sources.sinks import (
            append_parquet,
            upsert_parquet_partitioned,
        )

        wh_aq, wh_wx = self._p("warehouse", "air_quality"), self._p("warehouse", "weather")

        def upsert(df):
            with tracer.span("sources.sinks.upsert"):
                upsert_parquet_partitioned(spark, df, wh_aq, ["city", "time"], "city")

        def append(df):
            with tracer.span("sources.sinks.append"):
                append_parquet(df, wh_wx)

        with tracer.span("pipelines.air_quality.run"):
            aq = air_quality.run_pipeline(
                spark,
                aq_raw,
                self._p("staged", "air_quality"),
                self._p("processed", "aq"),
                upsert=upsert,
            )
        with tracer.span("pipelines.weather.run"):
            wx = weather.run_pipeline(
                spark,
                sorted(glob.glob(os.path.join(wx_raw, "*.json"))),
                self._p("staged", "weather"),
                self._p("processed", "wx"),
                append=append,
            )
        return {"air_quality": aq, "weather": wx}

    def run(self, spark, k: int, tracer, trace: dict | None):
        """Land batch ``k`` (untimed), run both pipelines (timed), then
        check the warehouse and the processed outputs."""
        tag = f"b{k}"
        aq_raw, wx_raw = self._p("raw", tag), self._p("rawwx", tag)
        exp = land_batch(self.rng, window_hours(k), aq_raw, wx_raw, tag)
        wh = self._p("warehouse")
        before = tree_files(wh) if trace is not None else None
        t0 = time.perf_counter()
        steps = self._pipelines(spark, aq_raw, wx_raw, tracer)
        elapsed = time.perf_counter() - t0
        self.last_rows = exp["readings"]
        self.wx_rows += exp["weather_rows"]
        err = self.check(spark, exp)
        if trace is not None:
            for pipe, tim in steps.items():
                for step in ("transform", "load", "analysis"):
                    trace[f"pipelines.{pipe}.{step}_s"] = tim.get(step, 0.0)
            after = tree_files(wh)
            nbytes, _ = written(before, after)
            _, parts = written(_under(before, "air_quality"), _under(after, "air_quality"))
            staged = tree_bytes(self._p("staged"))
            trace["sources.sinks.bytes_written"] = nbytes
            trace["sources.sinks.partitions_rewritten"] = len(parts)
            trace["sources.sinks.write_amplification"] = nbytes / staged
        shutil.rmtree(aq_raw, ignore_errors=True)
        shutil.rmtree(wx_raw, ignore_errors=True)
        return elapsed, err

    def check(self, spark, exp: dict) -> str | None:
        from pyspark.sql import functions as F

        wh = spark.read.parquet(self._p("warehouse", "air_quality"))
        rows, keys = wh.agg(F.count(F.lit(1)), F.countDistinct("city", "time")).first()
        want = len(CITIES) * HORIZON
        if rows != keys:
            return f"warehouse keys not unique: {rows} rows, {keys} keys"
        if keys != want:
            return f"warehouse holds {keys} keys, horizon is {want}"
        # the batch's window in the warehouse holds what was just staged
        # (every batch draws fresh values, so a lost or stale upsert shows)
        staged = spark.read.parquet(self._p("staged", "air_quality"))
        window = wh.join(staged.select("city", "time"), ["city", "time"], "left_semi")
        cols = sorted(staged.columns)
        if result_digest(window.select(cols).collect(), cols) != result_digest(
            staged.select(cols).collect(), cols
        ):
            return "warehouse rows of the batch window differ from the staged batch"
        totals = risk_totals(self._p("processed", "aq"))
        if totals != {c: exp["rows_per_city"] for c in CITIES}:
            return f"city_risk_distribution.total_hours {totals} != {exp['rows_per_city']} per city"
        got = weather_summary_rows(self._p("processed", "wx"))
        if got != exp["weather_rows"]:
            return f"weather analysis_summary rows {got} != {exp['weather_rows']}"
        return None

    def finish(self, spark) -> dict:
        """Warehouse size, weather append total and readings ingested."""
        wx = spark.read.parquet(self._p("warehouse", "weather")).count()
        if wx != self.wx_rows:
            raise RuntimeError(f"weather warehouse holds {wx} rows, appended {self.wx_rows}")
        live = len(CITIES) * HORIZON
        wh_bytes = tree_bytes(self._p("warehouse", "air_quality"))
        return {"sources.sinks.warehouse_bytes_per_row": wh_bytes / live}

    def install_wrappers(self, tracer) -> None:
        from advanced_etl_pipelines_spark.pipelines import air_quality

        tracer.wrap(air_quality, "write_staged", "pipelines.air_quality.write_staged")
