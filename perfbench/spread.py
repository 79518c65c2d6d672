#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median and spread (distance between first and third quartile, as a share
of the median; quartiles as `statistics.quantiles(values, n=4)` gives them)
next to its bound.

    python3 perfbench/spread.py --workloads catalog_mix event_stream --seeds 1-10 \\
        --out perfbench/records/spread.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w, "--seed",
                                str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True, cwd=ROOT)
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            record = ROOT / ".bench_build" / "records" / f"{w}-s{s}-t0.json"
            runs.append({"seed": s, "rc": p.returncode, "wall_s": time.time() - t0,
                         "metrics": last and {k: v["value"] for k, v in last["metrics"].items()},
                         "env": last and json.loads(record.read_text())["env"]})
            print(f"{w} seed {s}: rc={p.returncode} {time.time() - t0:.1f}s", file=sys.stderr)
        ok = [r["metrics"] for r in runs if r["metrics"]]
        table = {}
        for name, bound in bounds.items():
            vals = [m[name] for m in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            table[name] = {"median": med, "spread": (q3 - q1) / med, "bound": bound,
                           "values": vals}
            print(f"{w:16s} {name:16s} median {med:12.4f} spread {(q3 - q1) / med:6.3f} "
                  f"bound {bound:5.2f}{'' if (q3 - q1) / med < bound / 3 else '  <-- over a third'}")
        report[w] = {"runs": runs, "metrics": table}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
