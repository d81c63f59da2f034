#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload fleet --seed 42 --seconds 10 --trace 0

Builds the library and the benchmark if needed (perfbench/build.py),
runs the workload in one JVM with the settings of perfbench/session.json,
and prints a human-readable summary followed, as the last line, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, and the run's spans are written to
.bench_build/results/. Every run's full result, including its
deterministic counters, is kept in .bench_build/results/ for
perfbench/compare.py.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def run_jvm(cmd: list, work: Path, timeout: float):
    """Run the JVM in its own process group; return (code, stdout lines)."""
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, []
    return proc.returncode, out.splitlines()


def log_tail(work: Path, n: int = 30) -> str:
    try:
        return "\n".join((work / "jvm.log").read_text().splitlines()[-n:])
    except OSError:
        return ""


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail(f"missing {bench_file}")
    bench = json.loads(bench_file.read_text())
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    try:
        build.ensure_built()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = build.fresh_dir(build.OUT / "work" / f"{a.workload}-s{a.seed}-t{a.trace}")
    t0 = time.time()
    cmd = build.java_command(work, [
        "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--expected", str(build.HERE / "expected.json")])
    code, lines = run_jvm(cmd, work, JVM_TIMEOUT_S)
    if code is None:
        fail(f"workload {a.workload} timed out after {JVM_TIMEOUT_S} s\n{log_tail(work)}")
    result = next((json.loads(l[len("RESULT "):]) for l in reversed(lines)
                   if l.startswith("RESULT ")), None)
    if code != 0 or result is None:
        fail(f"workload {a.workload} failed (exit {code})\n{log_tail(work)}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        fail(f"run did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    out = {"correct": result["failed"] == 0, "attempted": result["attempted"],
           "failed": result["failed"], "metrics": metrics}

    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    keep = dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                seconds=a.seconds, wall_s=time.time() - t0,
                summary=[l for l in lines if l.startswith("#")])
    (results / f"{stem}.json").write_text(json.dumps(keep, indent=1) + "\n")
    shutil.copy(work / "jvm.log", results / f"{stem}.log")
    if a.trace and (work / "spans.json").is_file():
        shutil.move(str(work / "spans.json"), results / f"{stem}.spans.json")
    shutil.rmtree(work, ignore_errors=True)

    for l in lines:
        if l.startswith("#"):
            print(l)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
