#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload knn_point --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt into `.bench_build/` (about a minute); later
runs reuse the build while no source file changed. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. `--workload all` runs every workload
in turn (untraced) and prints each one's named figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("knn_point", "knn_batch")
BUILD_TIMEOUT_S = 840
# a traced run times the loop for twice --seconds, then its probes
RUN_TIMEOUT_S_BASE = 140
# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = []
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += [p for p in base.rglob("*") if p.is_file()]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not (HERE / "build.sbt").is_file():
        die("perfbench/build.sbt is missing")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp, stamp_file, cp_file = h.hexdigest(), BUILD / "stamp.txt", BUILD / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    # sbt's own state and scratch files stay in the checkout too
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Dsbt.ipcsocket.tmpdir={tmp}",
           f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    sys.stderr.write(r.stdout[-20000:] + r.stderr[-20000:])
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (sbt exit {r.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Run the harness once; return its result object."""
    timeout = RUN_TIMEOUT_S_BASE + 3 * seconds
    run_dir = BUILD / "runs" / workload
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    result = run_dir / "result.json"
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *OPENS,
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.local.dir={run_dir / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--dir", str(run_dir / "index"), "--result", str(result)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: point both here
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    try:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{workload} did not finish within {timeout} s", 3)
    if r.returncode != 0 or not result.is_file():
        die(f"{workload} failed (exit {r.returncode})", 4)
    out = json.loads(result.read_text())
    if set(out) != {"correct", "attempted", "failed", "metrics"} or out["attempted"] < 1:
        die(f"{workload} wrote a malformed result", 4)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    cp = build()
    if a.workload != "all":
        print(json.dumps(run_one(cp, a.workload, a.seed, a.seconds, a.trace)), flush=True)
        return
    results = {w: run_one(cp, w, a.seed, a.seconds, 0) for w in WORKLOADS}
    print(json.dumps({"workloads": results}), flush=True)


if __name__ == "__main__":
    main()
