"""The two registry workloads: one query at a time from a fixed pool,
called exactly as the ``__spark_entry__`` contract calls it
(``__spark_entry__.queries()[name](spark, sf_dir).collect()``), each
answer checked against ``expected.json``.

* ``bi-scan``: core-family queries (``plans/registry.py``) that scan
  parquet through ``read_sf_table`` on every call; no base-table cache,
  and nothing drains the tracked caches (that contract never does).
* ``curation-cached``: a MinHash dedup shuffle, the JPEG-decode
  Arrow/pandas seam and an iterative graph operator, over base tables
  cached once per set-up by ``cache_sf_tables``, with
  ``release_tracked_caches()`` after every query the way sweep drivers
  call it.
"""

from __future__ import annotations

import json
import os
import random
import time

import engine
from stats import result_digest

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# One query per shape of the core family: aggregate, pivot, argmax,
# histogram, feature formulas, star join, window over the
# nanosecond-timestamp events table, and TPC-H.
BI_SCAN = (
    "global_summary",
    "pivot_avg_wide",
    "argmax_group_avg",
    "histogram_40",
    "feature_severity_risk",
    "join_star_dims",
    "lag_gap_seconds",
    "tpch_q3_top_revenue",
)

# Heavy operators: MinHash dedup (shuffle), the JPEG decode Arrow/pandas
# seam, and PageRank (iterative, tracked_persist + lazy checkpoints).
CURATION = (
    "dedup_minhash_pairs",
    "multimodal_decode_jpeg",
    "pagerank_copurchase",
)

# Base tables the curation pool reads.
CURATION_TABLES = ("documents", "lineitem")


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def check_answer(exp: dict, cols, rows) -> str | None:
    """None when the answer matches, else what differs."""
    if len(rows) != exp["rows"]:
        return f"rows {len(rows)} != {exp['rows']}"
    if exp.get("digest") and result_digest(rows, cols) != exp["digest"]:
        return "value digest differs"
    return None


class RegistryWorkload:
    def __init__(self, name: str, seed: int):
        import __spark_entry__

        self.name = name
        self.cached = name == "curation-cached"
        self.pool = CURATION if self.cached else BI_SCAN
        self.queries = __spark_entry__.queries()
        self.expected = load_expected()
        missing = [q for q in self.pool if q not in self.queries or q not in self.expected]
        if missing:
            raise SystemExit(f"unknown or unchecked queries: {missing}")
        self.rng = random.Random(seed)
        self.storage_base = 0

    def setup(self, spark) -> float:
        """Cache the base tables (curation-cached); returns the seconds
        ``cache_sf_tables`` took."""
        from advanced_etl_pipelines_spark.sources.readers import cache_sf_tables

        t0 = time.perf_counter()
        if self.cached:
            cache_sf_tables(spark, DATA_DIR, CURATION_TABLES)
        took = time.perf_counter() - t0
        self.storage_base = engine.storage_bytes(spark)
        return took if self.cached else 0.0

    def teardown(self, spark) -> None:
        from advanced_etl_pipelines_spark.operators.caching import release_tracked_caches
        from advanced_etl_pipelines_spark.sources.readers import uncache_sf_tables

        release_tracked_caches()
        uncache_sf_tables()

    def key(self, name: str) -> str:
        return name

    def one_pass(self) -> list[str]:
        order = list(self.pool)
        self.rng.shuffle(order)
        return order

    def run(self, spark, name: str, tracer, trace: dict | None):
        """Time one query (builder call + collect); returns (seconds,
        error or None).  ``trace`` collects the op's counters when the
        tracer is on."""
        from advanced_etl_pipelines_spark.operators.caching import release_tracked_caches

        fn = self.queries[name]
        t0 = time.perf_counter()
        with tracer.span("plans.build"):
            df = fn(spark, DATA_DIR)
        with tracer.span("exec.collect") as collect:
            rows = df.collect()
        elapsed = time.perf_counter() - t0
        err = check_answer(self.expected[name], df.columns, rows)
        if trace is not None:
            trace["exec.collect_wall"] = collect["end"] - collect["start"]
            trace["exec.result_rows"] = len(rows)
            for k, v in engine.catalyst_phases_ms(df).items():
                trace[f"catalyst.{k}_ms"] = v
            seams, sent, received = engine.plan_python_seams(df)
            trace["arrow.seams"] = seams
            trace["arrow.python_bytes_sent"] = sent
            trace["arrow.python_bytes_received"] = received
            trace["operators.caching.storage_bytes_peak"] = (
                engine.storage_bytes(spark) - self.storage_base
            )
        if self.cached:
            with tracer.span("operators.caching.release") as rel:
                n = release_tracked_caches()
            if trace is not None:
                trace["operators.caching.persisted_frames"] = n
                trace["operators.caching.release_s"] = rel["end"] - rel["start"]
        return elapsed, err

    def finish(self, spark) -> dict:
        """Caches the run left pinned (bi-scan never drains them)."""
        from advanced_etl_pipelines_spark.operators.caching import release_tracked_caches

        return {"operators.caching.pinned_after_run": release_tracked_caches()}

    def install_wrappers(self, tracer) -> None:
        from advanced_etl_pipelines_spark.sources import readers

        tracer.wrap(readers, "read_sf_table", "sources.readers.read")
