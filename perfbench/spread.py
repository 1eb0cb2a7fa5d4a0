#!/usr/bin/env python
"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1 over the median, as
``statistics.quantiles(values, n=4)`` gives them), plus each run's wall
time. This is how the bounds in ``BENCHMARK.json`` were checked.

    python3 perfbench/spread.py --workload etl_rw --seeds 1-10

Runs are sequential, from the repo root, each a fresh process.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from stats import quartile_spread

REPO = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--jsonl", help="append each run's result line to this file")
    args = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or str(spec["run_seconds"])
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
            cwd=REPO, capture_output=True, text=True, timeout=180,
        )
        walls.append(time.perf_counter() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(last)
        if args.jsonl:
            with open(args.jsonl, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "wall_s": walls[-1], "log": proc.stderr[-4000:],
                                     **res}) + "\n")
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and statistics.median(vs) else 0.0
        bound = bounds.get(k)
        flag = "" if bound is None else f" bound {bound} ({spread / bound:.2f} of it)"
        print(f"{k:32s} median {statistics.median(vs):.6g} spread {spread:.4f}{flag}")
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
