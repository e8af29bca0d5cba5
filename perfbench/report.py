#!/usr/bin/env python3
"""Runs each workload untraced and then traced on one seed and writes the
per-layer tables: perfbench/results/<workload>.json (both runs' records and
results, with the span trace) and perfbench/results/LAYERS.md.

    python3 perfbench/report.py [--seed N] [--workloads a,b,c]

Run it from the repository root. Tracing overhead is the traced run's mean
op time minus the untraced run's, per op kind; the traced run also replays
the chunking, embedding, query-embedding and fingerprint layers inside its
ops, so its overhead includes those replays.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
RESULTS = BENCH_DIR / "results"


def run(workload, seed, trace, seconds):
    proc = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    record = json.loads(lines[-2])["record"]
    result = json.loads(lines[-1])
    trace_doc = None
    if "trace_file" in record:
        trace_doc = json.loads((ROOT / record.pop("trace_file")).read_text())["trace"]
    return record, result, trace_doc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads", default="ingest,serve_mixed")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    RESULTS.mkdir(exist_ok=True)
    md = ["# Per-layer tables of one traced run per workload", "",
          f"Seed {args.seed}, `--seconds {seconds}`, written by `perfbench/report.py`.", ""]
    for w in args.workloads.split(","):
        plain_rec, plain_res, _ = run(w, args.seed, 0, seconds)
        traced_rec, traced_res, trace = run(w, args.seed, 1, seconds)
        overhead = {k: traced_rec["loop_ms_per_op"][k] - v
                    for k, v in plain_rec["loop_ms_per_op"].items() if k in traced_rec["loop_ms_per_op"]}
        (RESULTS / f"{w}.json").write_text(json.dumps({
            "untraced": {"record": plain_rec, "result": plain_res},
            "traced": {"record": traced_rec, "result": traced_res},
            "tracing_overhead_ms_per_op": overhead,
            "trace": trace}))
        rows = traced_rec["self_time"]
        md += [f"## {w}", "",
               f"Dominant layer by self time: **{rows[0]['layer']}** "
               f"({rows[0]['share'] * 100:.1f}% of loop op time).", "",
               "| layer | self ms per op | share |", "|---|---:|---:|"]
        md += [f"| {r['layer']} | {r['self_ms_per_op']:.1f} | {r['share'] * 100:.1f}% |" for r in rows]
        md += ["", "| op kind | untraced ms per op | traced ms per op | tracing overhead ms |",
               "|---|---:|---:|---:|"]
        md += [f"| {k} | {plain_rec['loop_ms_per_op'][k]:.1f} | {traced_rec['loop_ms_per_op'][k]:.1f} "
               f"| {v:.1f} |" for k, v in sorted(overhead.items())]
        md += ["", "| per-layer metric | value | unit |", "|---|---:|---|"]
        md += [f"| {k} | {m['value']:.4g} | {m['unit']} |" for k, m in sorted(traced_res["metrics"].items())]
        md += ["", "| end-to-end metric (untraced) | value | unit |", "|---|---:|---|"]
        md += [f"| {k} | {m['value']:.4g} | {m['unit']} |" for k, m in sorted(plain_res["metrics"].items())]
        md.append("")
        print(f"{w}: done", flush=True)
    (RESULTS / "LAYERS.md").write_text("\n".join(md))


if __name__ == "__main__":
    main()
