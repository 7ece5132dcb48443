#!/usr/bin/env python3
"""Benchmark runner: builds the program and the benchmark from source, then
runs one workload and prints the result object as its last stdout line.

    python3 qbench/run.py --workload qbo_etl --seed 1 --seconds 10 --trace 0

Workloads: qbo_etl, corpus_dedup, declared_mix (see qbench/NOTES.md).
The build runs sbt offline with the build file in this directory; it is
redone only when a source file changes. Everything a run writes lives under
.bench_build/ at the checkout root, and the run's scratch dir is removed
when it ends. declared_mix reads the read-only sf0.1 test data
(QBENCH_SF_DIR overrides its location).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
# the read-only sf0.1 test data (TESTDATA.md)
SF_DIR = os.environ.get("QBENCH_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[qbench] {msg}", file=sys.stderr, flush=True)


def stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (PROGRAM_SRC.parent, HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; returns the classpath and
    the build stamp."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "classpath.stamp"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip(), want
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building (sbt, offline)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    return cp, want


def stage_sf(dst, seed):
    """Copy every sf table with its rows in an order drawn from the seed.
    Arrow keeps each column's physical and logical type as it was."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    dst.mkdir(parents=True, exist_ok=True)
    for t in SF_TABLES:
        table = pq.read_table(Path(SF_DIR) / f"{t}.parquet")
        pq.write_table(table.take(rng.permutation(table.num_rows)), dst / f"{t}.parquet")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["qbo_etl", "corpus_dedup", "declared_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (PROGRAM_SRC / "graft").is_dir():
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    if args.workload == "declared_mix" and not Path(SF_DIR).is_dir():
        raise SystemExit(f"test data not found at {SF_DIR}")
    cp, build_stamp = build()
    # set-up time runs from here (staging, JVM start, session, inputs,
    # server) to the end of the warm pass
    launched = time.time()

    run_dir = BUILD / f"run-{os.getpid()}"
    scratch = run_dir / "scratch"
    tmp = run_dir / "tmp"
    scratch.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    sf_dir = SF_DIR
    if args.workload == "declared_mix":
        sf_dir = run_dir / "sf"
        stage_sf(sf_dir, args.seed)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = str(scratch)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "qbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--bench-dir", str(HERE), "--sf-dir", str(sf_dir),
              # results a later run of the same build compares with
              "--state-dir", str(BUILD / "state" / build_stamp[:16]),
              "--launch-epoch-s", repr(launched),
              "--trace-file", str(BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl")])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"benchmark exited with {proc.returncode}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
