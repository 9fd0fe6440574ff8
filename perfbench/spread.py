"""Run-to-run spread of the end-to-end metrics, and the bounds check.

    python3 perfbench/spread.py run --workload bi-scan --seeds 1-10 --out a.json
    python3 perfbench/spread.py compare a.json b.json
    python3 perfbench/spread.py pairs --workload bi-scan --seeds 1-10 \\
        --base ../parent --new . --out p.json

``run`` calls ``run.py`` once per seed (one at a time, never in parallel)
and records every run's metrics and wall time; for each end-to-end metric
it prints the median and the distance between the first and third
quartile as a share of the median.  ``compare`` applies
``BENCHMARK.json``'s bounds to two such files of the same workload: each
spread (except set-up time) within its bound, and the second median no
worse than the first by more than the bound.  ``pairs`` runs two
checkouts (two commits, or the same one twice) seed by seed, alternating
which runs first, so a box that drifts in speed moves both sides alike,
then applies the same bounds with ``--base`` as the first set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from stats import bound_violations, spread  # noqa: E402


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(root: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced run of ``root``'s benchmark; its JSON line plus wall time."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{root} seed {seed}: rc={proc.returncode}\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res.update(seed=seed, wall_s=wall, report=lines[:-1])
    print(f"{root} seed {seed}: {wall:.1f} s " + " ".join(
        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return res


def summarize(runs: list[dict]) -> dict[str, list[float]]:
    names = runs[0]["metrics"].keys()
    return {n: [r["metrics"][n]["value"] for r in runs] for n in names}


def print_spreads(label: str, runs: list[dict], cfg: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    for name, v in summarize(runs).items():
        print(f"{label} {name}: median {statistics.median(v):.4g} spread {spread(v):.4f}"
              f" (bound {bounds.get(name)}, a third is {bounds.get(name, 0) / 3:.4f})")
    walls = [r["wall_s"] for r in runs]
    print(f"{label} wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")


def check(workload: str, first: list[dict], second: list[dict], cfg: dict) -> int:
    bad = bound_violations(summarize(first), summarize(second), cfg["end_to_end"])
    for b in bad:
        print(b)
    print(f"{workload}: {'within bounds' if not bad else f'{len(bad)} violations'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    p = sub.add_parser("pairs")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--base", default=ROOT)
    p.add_argument("--new", default=ROOT)
    p.add_argument("--out", required=True)
    args = ap.parse_args()
    cfg = bench_config()
    secs = cfg["run_seconds"]
    if args.cmd == "run":
        runs = [run_once(ROOT, args.workload, s, secs) for s in seeds_of(args.seeds)]
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs}, f, indent=1)
        print_spreads("", runs, cfg)
        return 0
    if args.cmd == "pairs":
        sides: dict[str, list[dict]] = {"base": [], "new": []}
        for i, seed in enumerate(seeds_of(args.seeds)):
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            for side in order:
                sides[side].append(run_once(getattr(args, side), args.workload, seed, secs))
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, **sides}, f, indent=1)
        for side, runs in sides.items():
            print_spreads(side, runs, cfg)
        return check(args.workload, sides["base"], sides["new"], cfg)
    sets = []
    for path in (args.first, args.second):
        with open(path) as f:
            sets.append(json.load(f))
    if sets[0]["workload"] != sets[1]["workload"]:
        raise SystemExit("the two files hold different workloads")
    return check(sets[0]["workload"], sets[0]["runs"], sets[1]["runs"], cfg)


if __name__ == "__main__":
    sys.exit(main())
