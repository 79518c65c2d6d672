#!/usr/bin/env python3
"""Paired parent/change benchmark: run `perfbench/run.py` over the same
seeds in two source trees, alternating which tree runs first, and print
one JSON line comparing the medians.

    python3 tools/paired.py --parent HEAD --seeds 1-3 --scratch /tmp/graft-paired
    python3 tools/paired.py --parent HEAD --seeds 2 --workloads index_lifecycle --trace

The parent tree is `git archive <rev>` unpacked under `--scratch` (kept,
so its compiled classes are reused by the next call). The change tree is
this checkout's working tree. Run length is BENCHMARK.json's
`run_seconds` on both sides.
Seed i runs parent-then-change when i is even and change-then-parent when
it is odd, so a drift in machine load spreads over both sides.

For every workload and every end-to-end metric of BENCHMARK.json the line
holds the parent median, the change median, their ratio (change/parent),
the parent's quartile spread ((q3 - q1) / median) and the metric's bound;
`worse` marks a metric whose median moved the wrong way by more than its
bound. With `--trace` the runs are traced and the line holds the
per-layer medians instead (no bounds: per-layer metrics have none).
"""
import argparse
import json
import statistics
import subprocess
import sys
import tarfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def rev_sha(rev):
    return subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                          check=True, capture_output=True, text=True).stdout.strip()


def archive(sha, scratch):
    """Unpack `git archive <sha>` once under scratch; return the tree."""
    tree = scratch / f"tree-{sha[:12]}"
    if (tree / ".paired_ok").exists():
        return tree
    tree.mkdir(parents=True, exist_ok=True)
    tar = scratch / f"tree-{sha[:12]}.tar"
    subprocess.run(["git", "archive", "--format=tar", "-o", str(tar), sha], cwd=ROOT, check=True)
    with tarfile.open(tar) as t:
        t.extractall(tree)
    tar.unlink()
    (tree / ".paired_ok").write_text(sha + "\n")
    return tree


def run_once(tree, workload, seed, seconds, trace):
    """One `perfbench/run.py` run; returns (exit code, metric values or None)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1" if trace else "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        summary = json.loads(lines[-1])
        values = {k: v["value"] for k, v in summary["metrics"].items()}
    except (IndexError, ValueError, KeyError):
        values = None
    print(f"paired: {tree.name} {workload} seed {seed}: rc={p.returncode} "
          f"{time.time() - t0:.0f}s", file=sys.stderr)
    if p.returncode != 0:
        print(p.stdout[-2000:] + p.stderr[-2000:], file=sys.stderr)
    return p.returncode, values


def spread(vals):
    if len(vals) < 2:
        return None
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / med if med else None


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent tree")
    ap.add_argument("--seeds", default="1-3", help="seed range, e.g. 1-3")
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true", help="compare per-layer medians")
    ap.add_argument("--scratch", required=True, help="directory for the archived trees")
    args = ap.parse_args()

    scratch = Path(args.scratch).resolve()
    parent_sha = rev_sha(args.parent)
    trees = {"parent": archive(parent_sha, scratch), "change": ROOT}
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]

    report = {}
    for w in args.workloads:
        vals = {"parent": [], "change": []}
        failed = {"parent": 0, "change": 0}
        for s in seeds(args.seeds):
            order = ("parent", "change") if s % 2 == 0 else ("change", "parent")
            for side in order:
                rc, v = run_once(trees[side], w, s, spec["run_seconds"], args.trace)
                failed[side] += rc != 0
                if rc == 0 and v is not None:  # medians describe correct runs only
                    vals[side].append(v)
        table = {}
        for m in metrics:
            name = m["name"]
            par = [v[name] for v in vals["parent"] if v.get(name) is not None]
            chg = [v[name] for v in vals["change"] if v.get(name) is not None]
            if not par or not chg:
                continue
            pm, cm = statistics.median(par), statistics.median(chg)
            row = {"parent": pm, "change": cm, "ratio": cm / pm if pm else None}
            if not args.trace:
                sign = 1 if m["better"] == "lower" else -1
                row["parent_spread"] = spread(par)
                row["bound"] = m["bound"]
                row["worse"] = bool(pm) and sign * (cm - pm) / pm > m["bound"]
            table[name] = row
        report[w] = {"runs": {k: len(v) for k, v in vals.items()}, "failed": failed,
                     "metrics": table}

    print(json.dumps({"parent": parent_sha, "seeds": args.seeds, "seconds": spec["run_seconds"],
                      "trace": args.trace, "workloads": report}))


if __name__ == "__main__":
    main()
