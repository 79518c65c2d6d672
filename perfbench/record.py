#!/usr/bin/env python3
"""Write the committed layer records into perfbench/records/.

For each workload: untraced and traced runs on the same seeds; the last
traced run's record and spans are kept as `<workload>-trace.json` and
`<workload>-trace-spans.json`, and `overhead.json` gives, per end-to-end
metric, the traced median against the untraced one.

    python3 perfbench/record.py [--seeds 101-103] [--workloads ...]
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "records"
RECORDS = ROOT / ".bench_build" / "records"


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}", file=sys.stderr)
    if p.returncode != 0:
        sys.exit(p.stdout[-3000:] + p.stderr[-3000:])
    return json.loads((RECORDS / f"{workload}-s{seed}-t{trace}.json").read_text())


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]] + ["catalog_mix"])
    ap.add_argument("--seeds", default="101-103")
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    OUT.mkdir(exist_ok=True)
    overhead = {}
    for w in args.workloads:
        plain = [run(w, s, spec["run_seconds"], 0)["metrics"] for s in seeds]
        traced = [run(w, s, spec["run_seconds"], 1) for s in seeds]
        overhead[w] = {}
        for m in spec["end_to_end"]:
            a = statistics.median(r[m["name"]] for r in plain)
            b = statistics.median(r["metrics"][m["name"]] for r in traced)
            overhead[w][m["name"]] = {"untraced_median": a, "traced_median": b,
                                      "traced_over_untraced": b / a - 1}
        last = seeds[-1]
        shutil.copy(RECORDS / f"{w}-s{last}-t1.json", OUT / f"{w}-trace.json")
        shutil.copy(RECORDS / f"{w}-s{last}-t1-spans.json", OUT / f"{w}-trace-spans.json")
    (OUT / "overhead.json").write_text(json.dumps(
        {"seeds": list(seeds), "workloads": overhead}, indent=1))


if __name__ == "__main__":
    main()
