"""Same-box benchmark of the engine: registry reads, heavy operators and
the medallion write path, with per-layer counters.

    python3 perfbench/run.py --workload bi-scan --seed 1 --seconds 15 --trace 0

Each run starts a fresh JVM on ``local[<cores>]`` with one closed-loop
client, sets up ``SETUP_ROUNDS`` times (a new SparkContext each time,
plus the workload's set-up) and reports the median as ``setup_s``, runs
``WARMUP_PASSES`` untimed warm-up passes (the first printed as
``cold_pass_s``), then runs whole passes over the workload's seeded operation
order until ``--seconds`` have gone by and ``MIN_PASSES`` ran.  Every
answer is checked.  The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics, taken
from traced passes that alternate with untraced ones so the tracing
overhead is measured in the same run.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

WORKLOADS = ("bi-scan", "curation-cached", "medallion-etl")
SETUP_ROUNDS = 5
# Untimed passes before timing: the JIT is still compiling the engine's
# hot paths for several passes after the first (per-query times kept
# falling for five to six passes in trial runs).
WARMUP_PASSES = 4
# Every operation runs at least this often in the timed part.
MIN_PASSES = 3

# Spark job counters of one operation, from the AppStatusStore.
EXEC = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.executor_deserialize_s",
    "exec.executor_run_s",
    "exec.slot_utilization",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
)
# Per-op counters of the traced run, averaged over traced operations,
# for the registry workloads and for the medallion workload.
PER_OP = {
    "registry": (
        "sources.readers.read_s",
        "sources.readers.jobs",
        "plans.build_s",
        "plans.build_jobs",
        "catalyst.analysis_ms",
        "catalyst.optimization_ms",
        "catalyst.planning_ms",
        "exec.collect_s",
        *EXEC,
        "exec.result_rows",
        "operators.caching.persisted_frames",
        "operators.caching.storage_bytes_peak",
        "operators.caching.release_s",
        "arrow.seams",
        "arrow.python_bytes_sent",
        "arrow.python_bytes_received",
    ),
    "medallion": (
        *EXEC,
        "pipelines.air_quality.transform_s",
        "pipelines.air_quality.load_s",
        "pipelines.air_quality.analysis_s",
        "pipelines.air_quality.transform_jobs",
        "pipelines.weather.transform_s",
        "pipelines.weather.load_s",
        "pipelines.weather.analysis_s",
        "sources.sinks.upsert_s",
        "sources.sinks.append_s",
        "sources.sinks.bytes_written",
        "sources.sinks.partitions_rewritten",
        "sources.sinks.write_amplification",
    ),
}
# Once per run.
PER_RUN = {
    "registry": (
        "session.start_s",
        "session.cold_pass_s",
        "sources.readers.cache_build_s",
        "operators.caching.pinned_after_run",
        "trace.overhead_frac",
    ),
    "medallion": (
        "session.start_s",
        "session.cold_pass_s",
        "sources.sinks.warehouse_bytes_per_row",
        "trace.overhead_frac",
    ),
}
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "B", "_frac": "ratio"}


def unit_of(name: str) -> str:
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("slot_utilization") or name.endswith("write_amplification"):
        return "ratio"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix) or name.endswith(suffix + "_peak"):
            return unit
    if "bytes" in name:
        return "B"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def op_counters(workload: str, op_spans: list[dict], jobs, cores: int, trace: dict) -> None:
    """Fill ``trace`` with one operation's span times and job counters."""
    from stats import self_times

    st = self_times(op_spans)
    by_name: dict[str, list[dict]] = {}
    for s in op_spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, ()))

    def self_t(name):
        return sum(st[s["id"]] for s in by_name.get(name, ()))

    def within(lo, hi):
        return [j for j in jobs if lo <= j.submitted <= hi]

    def in_spans(name):
        return [j for s in by_name.get(name, ()) for j in within(s["start"], s["end"])]

    if workload == "medallion-etl":
        exec_jobs = in_spans("pipelines.air_quality.run") + in_spans("pipelines.weather.run")
        aq = by_name["pipelines.air_quality.run"][0]
        ws = by_name["pipelines.air_quality.write_staged"][0]
        trace["pipelines.air_quality.transform_jobs"] = len(within(aq["start"], ws["end"]))
        trace["sources.sinks.upsert_s"] = dur("sources.sinks.upsert")
        trace["sources.sinks.append_s"] = dur("sources.sinks.append")
        wall = dur("pipelines.air_quality.run") + dur("pipelines.weather.run")
    else:
        read_jobs = in_spans("sources.readers.read")
        trace["sources.readers.read_s"] = dur("sources.readers.read")
        trace["sources.readers.jobs"] = len(read_jobs)
        trace["plans.build_s"] = self_t("plans.build")
        trace["plans.build_jobs"] = len(in_spans("plans.build")) - len(read_jobs)
        exec_jobs = in_spans("exec.collect")
        wall = trace.pop("exec.collect_wall")
        trace["exec.collect_s"] = wall
    stages = [st_ for j in exec_jobs for st_ in j.stages.values()]
    trace["exec.jobs"] = len(exec_jobs)
    trace["exec.stages"] = len(stages)
    for f in ("tasks", "executor_run_s", "executor_deserialize_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        trace[f"exec.{f}"] = sum(s[f] for s in stages)
    trace["exec.slot_utilization"] = trace["exec.executor_run_s"] / (wall * cores)


def run(args) -> int:
    import engine
    from stats import quantile, tail_level
    from tracing import Tracer

    root = engine.package_root()
    work = os.path.join(root, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    eng = engine.Engine(work, cores)
    tracer = Tracer()
    if args.workload == "medallion-etl":
        from medallion import MedallionWorkload

        wl = MedallionWorkload(args.seed, work)
    else:
        from registry_load import RegistryWorkload

        wl = RegistryWorkload(args.workload, args.seed)

    attempted = failed = 0
    errors: list[str] = []

    def do(op, trace=None):
        """Run one operation; returns its seconds, None when it failed."""
        nonlocal attempted, failed
        attempted += 1
        try:
            sec, err = wl.run(eng.spark, op, tracer, trace)
        except Exception:
            err = traceback.format_exc(limit=3)
        if err is not None:
            failed += 1
            errors.append(f"{op}: {err}")
            return None
        return sec

    try:
        # -- set-up, repeated; the first round also launches the JVM
        rounds, cache_build, session_start = [], [], None
        for r in range(SETUP_ROUNDS):
            if r:
                wl.teardown(eng.spark)
            t0 = time.perf_counter()
            spark = eng.restart() if r else eng.start()
            if r == 0:
                session_start = time.perf_counter() - t0
            cache_build.append(wl.setup(spark))
            rounds.append(time.perf_counter() - t0)
        spark = eng.spark

        # -- warm-up passes, out of the timed figures; the first is
        # reported as cold_pass_s
        for w in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            for op in wl.one_pass():
                do(op)
            if w == 0:
                warmup_s = time.perf_counter() - t0

        # -- timed passes
        joblog = None
        if args.trace:
            wl.install_wrappers(tracer)
            joblog = engine.JobLog(spark)
        # seconds per operation key (a query, or "batch")
        walls: dict[str, list[float]] = {}
        traced_walls: dict[str, list[float]] = {}
        traces: list[dict] = []
        rows_done = 0  # raw readings ingested by untraced batches
        untraced_s = 0.0  # wall time of the untraced passes
        passes = 0
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds or passes < MIN_PASSES
               or (args.trace and passes % 4)):
            # traced passes in ABBA blocks (untraced, traced, traced,
            # untraced), so warming during the run biases neither side
            traced = bool(args.trace and passes % 4 in (1, 2))
            tracer.enabled = traced
            p0 = time.perf_counter()
            for op in wl.one_pass():
                trace = {} if traced else None
                if traced:
                    joblog.read()
                    tracer.op = f"{passes}:{op}"
                    first = len(tracer.spans)
                with tracer.span("op"):
                    sec = do(op, trace)
                if sec is None:
                    continue
                (traced_walls if traced else walls).setdefault(wl.key(op), []).append(sec)
                if traced:
                    op_counters(args.workload, tracer.spans[first:], joblog.read(), cores, trace)
                    traces.append(trace)
                else:
                    rows_done += getattr(wl, "last_rows", 0)
            if not traced:
                untraced_s += time.perf_counter() - p0
            passes += 1
        timed_s = time.perf_counter() - t_start
        tracer.enabled = False
        tracer.unwrap_all()
        finish = wl.finish(spark)
        peak_rss = eng.peak_rss_mb()
    finally:
        eng.close()
        shutil.rmtree(work, ignore_errors=True)

    untraced = [v for vs in walls.values() for v in vs]
    n = len(untraced)
    if n == 0:
        print("no operation completed", file=sys.stderr)
        for e in errors[:5]:
            print(f"FAILED {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    setup_s = statistics.median(rounds)
    # throughput: operations that succeeded per second of untraced passes
    # (the client's own checks included)
    ops_per_s = n / untraced_s
    # each operation's median over the timed passes, then their geometric
    # mean: unlike the median of a handful of unlike queries, it does not
    # jump between neighbouring queries' times
    typical = [statistics.median(vs) for vs in walls.values()]
    gmean = statistics.geometric_mean(typical)
    p50 = statistics.median(untraced)
    level = tail_level(n)
    op_word = "batch" if args.workload == "medallion-etl" else "query"

    # human-readable report: every metric under its workload-specific name
    print(f"# {args.workload} seed={args.seed} cores={cores}: {n} timed "
          f"{op_word} samples over {passes} passes")
    print(f"setup_s {setup_s:.4f} s (median of {SETUP_ROUNDS} rounds: "
          + ", ".join(f"{r:.3f}" for r in rounds) + ")")
    print(f"cold_pass_s {warmup_s:.4f} s (first pass in the new session, untimed for the rest)")
    if op_word == "query":
        print(f"queries_per_s {ops_per_s:.4f} 1/s ({n} queries in {untraced_s:.3f} s)")
        print(f"query_s_gmean {gmean:.4f} s "
              f"(geometric mean over {len(typical)} queries of their median)")
        print(f"query_s_p50 {p50:.4f} s (median of all {n} samples)")
    else:
        print(f"batches_per_s {ops_per_s:.4f} 1/s ({n} batches in {untraced_s:.3f} s)")
        print(f"etl_batch_s_p50 {p50:.4f} s (median of {n} batches)")
        print(f"etl_rows_per_s {rows_done / sum(untraced):.1f} rows/s")
        bpr = finish["sources.sinks.warehouse_bytes_per_row"]
        print(f"warehouse_bytes_per_row {bpr:.2f} B/row")
    if level is None:
        print(f"{op_word}_s_p90 n/a s ({n} samples: "
              "no percentile above the median has 10 beyond it)")
    else:
        print(f"{op_word}_s_p90 {quantile(untraced, level):.4f} s "
              f"(p{round(level * 100)} of all {n} samples)")
    print(f"peak_rss_mb {peak_rss:.1f} MB")
    print("# seconds per operation: " + " ".join(
        f"{k}=" + "/".join(f"{v:.3f}" for v in vs) for k, vs in walls.items()))
    print(f"# timed passes {timed_s:.3f} s")
    print(f"failed_ops_frac {failed / max(attempted, 1):.4f} ratio ({failed}/{attempted})")
    for e in errors[:10]:
        print(f"FAILED {e}", file=sys.stderr)

    if args.trace:
        family = "medallion" if args.workload == "medallion-etl" else "registry"
        per_layer = dict.fromkeys(PER_OP[family] + PER_RUN[family], 0.0)
        for k in PER_OP[family]:
            vals = [t[k] for t in traces if k in t]
            per_layer[k] = statistics.mean(vals) if vals else 0.0
        per_layer["session.start_s"] = session_start
        per_layer["session.cold_pass_s"] = warmup_s
        if family == "registry":
            per_layer["sources.readers.cache_build_s"] = statistics.median(cache_build)
        per_layer.update(finish)
        if args.workload == "bi-scan":
            per_layer["operators.caching.persisted_frames"] = (
                finish["operators.caching.pinned_after_run"] / attempted
            )
        if traced_walls:
            # same statistic on both sides: each operation's median
            per_layer["trace.overhead_frac"] = (
                sum(statistics.median(v) for v in traced_walls.values()) / sum(typical) - 1
            )
        out_dir = os.path.join(root, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        print("# per-layer self time (s, all traced spans): " + json.dumps(
            {k: round(v, 4) for k, v in sorted(tracer.layer_self_time().items())}))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": ops_per_s, "unit": "1/s"},
            "op_s_gmean": {"value": gmean, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    try:
        import __spark_entry__  # noqa: F401
        import advanced_etl_pipelines_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
