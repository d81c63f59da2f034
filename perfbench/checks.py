#!/usr/bin/env python3
"""Correctness checks of the benchmark itself.

    python3 perfbench/checks.py selftest [--seed N]
        The timed (checksum) form of every BerlinMOD query must keep every
        mobility call (MobCall) of the query's own optimized plan, which a
        bare count() does not.
    python3 perfbench/checks.py oracle [--seed N]
        Runs every corpus op that has a DuckDB oracle
        (SparkEntry.oracleSqlFor) on the seed's generated inputs, checks
        the results with tools/check.py, and compares each result's
        (rows, checksum) with perfbench/expected.json.
    python3 perfbench/checks.py pin --workload W [--seed N]
        Runs W once and records the (rows, checksum) of its ops for the
        seed in perfbench/expected.json. For fleet no independent oracle
        exists (DuckDB has no mobility types), so these values are
        self-pinned, like the berlinmod_e2e gate entry.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

EXPECTED = build.HERE / "expected.json"


def jvm(mode: str, args: list, name: str) -> tuple:
    """Run graftbench.Main in a fresh scratch directory; (exit code, stdout lines)."""
    work = build.fresh_dir(build.OUT / "work" / name)
    cmd = build.java_command(work, [mode] + args)
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    return r.returncode, r.stdout.splitlines()


def selftest(a) -> int:
    code, lines = jvm("selftest", ["--seed", str(a.seed)], "selftest")
    print("\n".join(l for l in lines if l.startswith("#")))
    return code


def oracle(a) -> int:
    out = build.OUT / "work" / "oracle" / "out"  # emptied by jvm()
    code, lines = jvm("oracle", ["--seed", str(a.seed), "--out", str(out)], "oracle")
    if code != 0:
        print(f"oracle dump failed (exit {code})")
        return 1
    data = next(l.split(" ", 1)[1] for l in lines if l.startswith("DATA "))
    print(f"== corpus seed {a.seed}: DuckDB oracle check (tools/check.py)", flush=True)
    bad = subprocess.run([sys.executable, str(build.ROOT / "tools" / "check.py"), data,
                          str(out)]).returncode != 0
    pinned = json.loads(EXPECTED.read_text()).get("corpus", {}).get(str(a.seed), {})
    for l in lines:
        if l.startswith("NO-ORACLE "):
            print(f"{l.split()[1]}: no DuckDB oracle")
        if l.startswith("CHECKSUM "):
            _, op, n, c = l.split()
            want = pinned.get(op)
            verdict = "not recorded" if want is None else \
                "matches expected.json" if want == [int(n), int(c)] else \
                f"DIFFERS from expected.json {want}"
            bad += verdict.startswith("DIFFERS")
            print(f"{op}: rows={n} checksum={c} {verdict}")
    return 1 if bad else 0


def pin(a) -> int:
    r = subprocess.run([sys.executable, str(build.HERE / "run.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", "0", "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        return r.returncode
    res = build.OUT / "results"
    latest = max(res.glob(f"{a.workload}-s{a.seed}-t0-*.json"), key=lambda p: p.stat().st_mtime)
    counters = json.loads(latest.read_text())["counters"]
    ops = {k[len("rows."):]: [v, counters["checksum." + k[len("rows."):]]]
           for k, v in counters.items() if k.startswith("rows.")}
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    expected.setdefault(a.workload, {})[str(a.seed)] = dict(sorted(ops.items()))
    EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"pinned {len(ops)} ops of {a.workload} seed {a.seed} from {latest.name}")
    return 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("check", choices=("selftest", "oracle", "pin"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--workload", default="fleet")
    a = ap.parse_args()
    try:
        build.ensure_built()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit({"selftest": selftest, "oracle": oracle, "pin": pin}[a.check](a))


if __name__ == "__main__":
    main()
