#!/usr/bin/env python3
"""Build file of the benchmark.

    python3 perfbench/build.py          # build if sources changed

Compiles the library (src/main/scala) and the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory, and packs the classes into .bench_build/graft.jar.

The build is skipped when a stamp of every source file, of
perfbench/session.json and of the Spark jars listing matches the last
successful build.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
JAR = OUT / "graft.jar"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else the one the sbt
    build compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise BuildError("SPARK_HOME is unset and build.sbt names no Spark jars")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    return jars


def sources(root: Path):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not lib:
        raise BuildError(f"no library sources under {root / 'src/main/scala'}")
    if not own:
        raise BuildError(f"no benchmark sources under {root / 'perfbench/src'}")
    return lib + own


def java_command(work: Path, args: list) -> list:
    """The benchmark JVM: settings from perfbench/session.json, run in
    `work` (its scratch directory), with `args` for graftbench.Main."""
    session = json.loads((HERE / "session.json").read_text())
    subst = {"${nproc}": str(os.cpu_count() or 1), "${work}": str(work)}

    def fill(v: str) -> str:
        for k, x in subst.items():
            v = v.replace(k, x)
        return v

    conf = []
    for k, v in session["spark"].items():
        conf += ["--conf", f"{k}={fill(v)}"]
    return (["java"] + [fill(o) for o in session["jvm"]]
            + [f"-Djava.io.tmpdir={work / 'tmp'}",
               "-cp", f"{JAR}{os.pathsep}{spark_jars()}/*", "graftbench.Main"]
            + args + ["--work", str(work)] + conf)


def fresh_dir(p: Path) -> Path:
    """Empty `p` and give it the `tmp` subdirectory a benchmark JVM uses."""
    shutil.rmtree(p, ignore_errors=True)
    (p / "tmp").mkdir(parents=True)
    return p


def ensure_built(root: Path = ROOT, log=sys.stderr) -> None:
    """Compile and pack if any input changed."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [HERE / "session.json"]:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    stamp_file = OUT / "build.stamp"
    if JAR.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    stamp_file.unlink(missing_ok=True)
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    res = root / "src" / "main" / "resources"
    if res.is_dir():
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
