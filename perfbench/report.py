#!/usr/bin/env python3
"""Run the benchmark over several seeds and print every metric with its
name, unit, sample count, median and spread.

    python3 perfbench/report.py                       # both workloads, seeds 1-5, untraced
    python3 perfbench/report.py --seeds 1-10 --trace 1
    python3 perfbench/report.py --workloads rag-session --seeds 3,4
    python3 perfbench/report.py --seeds 1-10 --record   # also record fixtures tuples

Each run is `perfbench/run.py` in its own process, one after another.
The spread is (Q3 - Q1) / median over the runs, from Python's
`statistics.quantiles(n=4)`.  Raw results go to
.perfbench/report-<trace>.json.
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
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402
from stats import quartile_spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: int, trace: int, record: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if record:
        cmd.append("--record")
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}", "process_s": wall}
    return {**json.loads(lines[-1]), "process_s": wall}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(WORKLOADS))
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="store each fixtures seed's tuples in expected.json")
    args = p.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]

    results: dict[str, list[dict]] = {}
    for wl in args.workloads.split(","):
        for seed in parse_seeds(args.seeds):
            res = run_once(wl, seed, seconds, args.trace,
                           args.record and wl == "fixtures-sf0.1")
            res["seed"] = seed
            results.setdefault(wl, []).append(res)
            print(f"# {wl} seed {seed}: "
                  + ("ERROR " + res["error"] if "error" in res else
                     f"correct={res['correct']} attempted={res['attempted']} "
                     f"failed={res['failed']}")
                  + f" in {res['process_s']:.1f} s", file=sys.stderr, flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"report-{args.trace}.json"), "w") as fh:
        json.dump(results, fh, indent=1)

    print(f"{'workload':15s} {'metric':38s} {'unit':6s} {'n':>3s} "
          f"{'median':>14s} {'spread':>8s}")
    for wl, runs in results.items():
        ok = [r for r in runs if "metrics" in r]
        attempted = sum(r["attempted"] for r in ok)
        failed = sum(r["failed"] for r in ok)
        rate = failed / attempted if attempted else float("nan")
        print(f"{wl:15s} {'op_error_rate':38s} {'ratio':6s} {len(ok):3d} "
              f"{rate:14.6g} {'':>8s}  ({failed}/{attempted}, "
              f"{len(runs) - len(ok)} runs without a result)")
        names = list(ok[0]["metrics"]) if ok else []
        for name in names:
            vals = [r["metrics"][name]["value"] for r in ok]
            unit = ok[0]["metrics"][name]["unit"]
            print(f"{wl:15s} {name:38s} {unit:6s} {len(vals):3d} "
                  f"{statistics.median(vals):14.6g} {quartile_spread(vals):8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
