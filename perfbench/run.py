#!/usr/bin/env python3
"""Benchmark of the graft ingest pipelines and of a query mix.

Usage (from the repository root):
    python3 perfbench/run.py --workload <ingest|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness with sbt when any source is newer
than the last build, runs one workload in a fresh JVM, and prints as
its last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The line before it holds run
details: samples, the tail percentile used, the first problems found.
With `--trace 1` the metrics are per layer and every span and job of
the run is written to perfbench/.work/<workload>-<seed>.trace.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, ".build", "launch")
WORKLOADS = ("ingest", "query_mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: left to size itself, the heap grew
# on GC timing, and peak RSS differed by up to half between runs of one input.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    return max(os.path.getmtime(p) for p in paths if os.path.isfile(p))


def build():
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt writeLaunch)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"build failed (exit {r.returncode})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("the program's sources are not next to the benchmark; nothing to build")
    build()

    name = f"{a.workload}-{a.seed}"
    work = os.path.join(BENCH, ".work", name)
    out = work + ".result.json"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(LAUNCH) as f:
        launch = f.read().split("\n")
    cmd = ([shutil.which("java") or "java"] + [x for x in launch if x]
           + HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", ROOT, "--bench", BENCH, "--work", work, "--out", out])
    # graft otherwise puts query scratch tables on /dev/shm; keep them in the work dir
    env = dict(os.environ, SPARK_GRAFT_NO_SHM="1")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.exit(f"run failed (exit {code})")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    print(json.dumps({"workload": a.workload, "seed": a.seed, **res.pop("detail")}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
