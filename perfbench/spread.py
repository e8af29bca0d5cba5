#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, for each end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median beside the
metric's bound in BENCHMARK.json, plus each run's wall time.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--out FILE]

Run it from the repository root. With --out, every run's record and result
are appended to FILE as JSON lines.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            sys.exit(1)
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(lines[-2] + "\n" + lines[-1] + "\n")
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']}, "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name, vs in sorted(values.items()):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else ("  OK" if spread < bound / 3 else
                                         ("  within bound" if spread <= bound else "  OVER"))
        print(f"{name:36s} median {med:14.4f}  spread {spread:7.4f}"
              + (f"  bound {bound}" if bound is not None else "") + flag)
        print("    " + " ".join(f"{v:.6g}" for v in vs))


if __name__ == "__main__":
    main()
