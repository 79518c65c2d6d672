#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from the checkout's sources (once; later
runs reuse the classes), generates the seeded inputs, runs the workload in
one JVM, checks its outputs, and prints the record. The last line of
standard output is the JSON summary: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). The full record, with per-op layer
numbers, environment and (traced) spans, is written under
`.bench_build/records/`. Exits 1 when an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("catalog_mix", "event_stream", "index_lifecycle")
JVM_TIMEOUT_S = 170  # a run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def stop_on_signal(proc):
    """If this process is told to stop, stop the JVM (its own process
    group) first and wait for it, so no run outlives the benchmark."""
    def handler(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, handler)


def load_avg():
    return os.getloadavg()[0]


def run_jvm(classes, jars, work, args, cores, data, timeout):
    # Class-data sharing: a workload's first run in a checkout records the
    # classes it loads into an archive, and its later runs map them from
    # there, which takes several seconds off every JVM start. Only start-up
    # changes; the archive is rebuilt whenever the classes change.
    jsa = classes / f"{args.workload}.jsa"
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if jsa.exists()
           else [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
    # C1 only: C2's profile-guided code differs from JVM to JVM and keeps
    # improving for minutes, so short runs timed under it scatter by 20-30%;
    # C1 code is ready within the first pass and the same in every JVM.
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:TieredStopAtLevel=1", *cds, *ADD_OPENS,
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{classes / 'perfbench.jar'}:{jars}/*",
           "perfbench.Main",
           "--workload", args.workload, "--inputs", str(work / "inputs"), "--work", str(work),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--plant", "1" if args.plant else "0", "--cores", str(cores),
           "--sf", data]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        stop_on_signal(p)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    if Path(f"{jsa}.tmp").exists() and p.returncode == 0:
        os.replace(f"{jsa}.tmp", jsa)
    result = work / "result.json"
    return json.loads(result.read_text()) if result.exists() else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one result before checking it (check self-test)")
    args = ap.parse_args()
    t_start = time.time()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import build
    import checks
    import gen

    out_root = ROOT / ".bench_build"
    classes, built = build.build(ROOT, out_root)
    jars = build.spark_jars()
    load_start = load_avg()

    work = out_root / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = gen.workload_inputs(args.workload, args.seed, args.seconds, str(out_root / "data"),
                               str(work / "inputs"))
    cores = len(os.sched_getaffinity(0))
    # 180 s per run, except that a run which compiled may take 900 s
    budget = (880 if built else JVM_TIMEOUT_S) - (time.time() - t_start)
    res = run_jvm(classes, jars, work, args, cores, data, budget)
    if res is None:
        log = (work / "jvm.log").read_text()[-4000:] if (work / "jvm.log").exists() else ""
        sys.exit(f"perfbench: the workload JVM produced no result\n{log}")

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if args.workload in ("catalog_mix", "event_stream"):
        found = (checks.catalog(str(work / "check"), data, args.plant)
                 if args.workload == "catalog_mix"
                 else checks.stream(str(work / "check"), str(work / "inputs"), args.plant))
        attempted += len(found)
        bad = [f"{n}: {why}" for n, ok, why in found if not ok]
        failed += len(bad)
        failures += bad

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["metrics"]
    # a layer the workload never enters reports 0 (no work done there)
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0) if args.trace else
                           source.get(m["name"]), "unit": m["unit"]} for m in wanted}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    failures += [f"metric {k} not measured" for k in missing]
    correct = failed == 0 and not missing and attempted > 0

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "plant": args.plant, "correct": correct,
        "attempted": attempted, "failed": failed, "failures": failures,
        "metrics": res["metrics"], "workload_metrics": res["workload_metrics"],
        "layers": res["layers"], "per_op": res["per_op"],
        "env": {**res["env"], "nproc": os.cpu_count(), "spark_cores": cores,
                "load_avg_1m_start": load_start, "load_avg_1m_end": load_avg()},
    }
    records = out_root / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}{'-plant' if args.plant else ''}"
    (records / f"{name}.json").write_text(json.dumps(record, indent=1))
    if args.trace and (work / "spans.json").exists():
        shutil.copy(work / "spans.json", records / f"{name}-spans.json")
    if correct:  # a failed run's work directory stays for inspection
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"workload_metrics": res["workload_metrics"], "env": record["env"]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
