#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources with sbt when
they are missing or older than the sources, runs the harness JVM in a fresh
run directory under .bench_build/ (its tmpdir, Spark local dir, warehouse
and data all live there), deletes that directory afterwards and keeps the
run's full record in .bench_build/results/. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1 (see perfbench/README.md).
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
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import metrics  # noqa: E402

ROOT = HERE.parent
LAUNCH = HERE / "target" / "launch.txt"
WORKLOADS = ("password_probe", "store_lifecycle", "query_mix")
HEAP = ["-Xmx3g"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_to_end(cmd, cwd, out, timeout):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Returns the exit code, or "timeout"."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def sources():
    for base, pattern in ((ROOT / "src" / "main", "*.scala"), (HERE / "src" / "main", "*.scala")):
        yield from base.rglob(pattern)
    for f in (ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"):
        if f.exists():
            yield f
    yield from (ROOT / "project").glob("*.sbt")


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources at {ROOT}: run from the root of a checkout")
    newest = max(f.stat().st_mtime for f in sources())
    if LAUNCH.exists() and LAUNCH.stat().st_mtime >= newest:
        return
    log = ROOT / ".bench_build" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = run_to_end(["sbt", "--batch", "-Dsbt.server.autostart=false", "launchSpec"],
                        HERE, out, BUILD_TIMEOUT_S)
    if rc != 0 or not LAUNCH.exists():
        fail(f"build failed (exit {rc}); see {log}")


def run_harness(args, work, record_path):
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True)
    cmd = (["java"] + jvm_opts + HEAP + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
                                  "perfbench.Harness",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--work", str(work), "--pins", str(HERE / "pins.tsv"),
                                  "--out", str(record_path)])
    with open(work / "harness.log", "w") as out:
        rc = run_to_end(cmd, work, out, RUN_TIMEOUT_S)
    if rc != 0 or not record_path.exists():
        tail = (work / "harness.log").read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {rc}")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = p.parse_args(argv)

    build()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    work = ROOT / ".bench_build" / "runs" / tag
    results = ROOT / ".bench_build" / "results"
    results.mkdir(parents=True, exist_ok=True)
    record_path = work / "record.json"
    try:
        run_harness(args, work, record_path)
        record = json.loads(record_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["load_avg_runner"] = list(os.getloadavg())
    summary = metrics.summarize(record)
    (results / f"{tag}.json").write_text(json.dumps({**summary, "record": record}))
    line = {k: summary[k] for k in ("correct", "attempted", "failed")}
    line["metrics"] = summary["per_layer" if args.trace else "end_to_end"]
    print(json.dumps(line))


if __name__ == "__main__":
    main()
