#!/usr/bin/env python3
"""graft benchmark: build the library and the harness from source, run
one workload in one JVM, check its outputs, print its metrics.

    python3 perfbench/run.py --workload cwl --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics": {name:
{"value", "unit"}}}. With --trace 0 the metrics are the end-to-end ones
of BENCHMARK.json, with --trace 1 the per-layer ones (and the run also
writes a trace file, see layer_diff.py). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORKLOADS = ("cwl", "catalog")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"


def fail(msg, log=None):
    print(f"[graftbench] error: {msg}", file=sys.stderr)
    if log and Path(log).exists():
        tail = Path(log).read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
    sys.exit(1)


def build_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def newest_source_mtime():
    newest = 0.0
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        for p in base.rglob("*.scala"):
            newest = max(newest, p.stat().st_mtime)
    for p in (ROOT / "build.sbt", HERE / "build.sbt"):
        newest = max(newest, p.stat().st_mtime)
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    return env


def ensure_built(build):
    """Compile graft (through the root build) and the harness; write the
    launch file (classpath + JVM options). Skipped when up to date."""
    launch = build / "launch.txt"
    if launch.exists() and launch.stat().st_mtime >= newest_source_mtime():
        return launch
    log = build / "logs" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    tmp = build / "launch.txt.tmp"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeLaunch {tmp}"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", log)
    if r.returncode != 0 or not tmp.exists():
        fail(f"build failed (exit {r.returncode})", log)
    tmp.replace(launch)
    return launch


def sf_dir():
    """The sf0.1 test tables the catalog rows read."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.1")


def run_jvm(build, jvm_args, log_name):
    """Run graftbench.Main; returns its result dict. Output goes to a log;
    the harness's own [graftbench] lines are echoed."""
    launch = ensure_built(build)
    cp, opts = "", []
    for line in launch.read_text().splitlines():
        key, _, val = line.partition("=")
        if key == "classpath":
            cp = val
        elif key == "jvmopt":
            opts.append(val)
    run_dir = build / "run"
    tmp = build / "tmp"
    for d in (run_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    out = build / "results" / f"{log_name}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    if out.exists():
        out.unlink()
    log = build / "logs" / f"{log_name}.log"
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    # fixed heap: with the heap left to grow, peak RSS followed G1's
    # sizing decisions and spread 0.29 over ten catalog runs; the live
    # heap is reported per layer instead. No perf-data file in the
    # system temp directory.
    cmd = ["java", *opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main", *jvm_args, "--out", str(out)]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", log)
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith("[graftbench]"):
            print(line)
    if rc != 0 or not out.exists():
        fail(f"benchmark JVM exited with {rc}", log)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no graft sources (run from the repository root)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    build = build_dir()
    work = build / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    res = run_jvm(build, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--sf", sf_dir(),
        "--pins", str(HERE / "digests.tsv")], f"{a.workload}-seed{a.seed}-trace{a.trace}")

    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"run reported no value for {missing}")
    if a.trace:
        trace = work / "traces" / f"{a.workload}-seed{a.seed}.json"
        keep = build / "traces" / trace.name
        keep.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(trace, keep)
        print(f"[graftbench] trace kept at {keep}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
