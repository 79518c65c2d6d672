#!/usr/bin/env python3
"""Self-test of the output checks: run each workload with a planted fault
and require that its check fails the run.

  catalog_mix      one value of one query's result is changed
  event_stream     one row of the open-loop phase's final top-N is changed
  index_lifecycle  the first forgotten document and vector are kept in
                   both indexes (the delete is skipped, the id still
                   counted as forgotten)

    python3 perfbench/selftest.py [--out perfbench/records/selftest.json]
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    report, caught = {}, True
    for w in ("catalog_mix", "event_stream", "index_lifecycle"):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w, "--seed",
                            str(args.seed), "--seconds", "5", "--trace", "0", "--plant"],
                           capture_output=True, text=True, cwd=HERE.parent)
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        failures = [ln[len("FAILED "):] for ln in lines if ln.startswith("FAILED ")]
        ok = p.returncode != 0 and last.get("correct") is False and bool(failures)
        caught &= ok
        report[w] = {"exit_code": p.returncode, "correct": last.get("correct"),
                     "failed": last.get("failed"), "failures": failures, "caught": ok}
        print(f"{w:16s} {'caught' if ok else 'NOT CAUGHT'}: {failures[:2]}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    sys.exit(0 if caught else 1)


if __name__ == "__main__":
    main()
