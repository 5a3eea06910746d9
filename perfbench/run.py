#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest_parquet --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the product and the
harness with sbt (offline) into perfbench/target; later runs reuse the build
until a source or build file changes. Each run works in its own scratch
directory under .bench_scratch/ and removes it at the end; the full record
(environment stamp, per-key and per-job detail, spans) is kept under
.bench_out/.

Options beyond the four required ones:
  --sf X          ingest scale factor (lineitem has 6,000,000 x X rows)
  --ops-sf X      ops_mix table scale, a directory under perfbench/data
  --expected FILE   check ops_mix digests against FILE instead
  --write-expected  record this run's ops_mix digests as the expected ones
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_parquet", "ingest_jdbc", "ops_mix")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed 2 GB heap with a fixed 512 MB young generation, so that
# peak_rss_mb follows what the program keeps live. Without -Xmn, G1 sizes
# the young generation from its pause-time predictions and ends up touching
# nearly all of a fixed heap: the peak then reads the heap setting and does
# not move when the program caches more. Without -Xms, G1 grows the heap by
# its GC-time ratio and the peak differs by up to a third between runs.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles with sbt unless the launch file is newer than every source."""
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) > newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})", 3)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def wait(proc, timeout):
    """Waits for a process group; kills the whole group on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def sweep_stale(scratch_root):
    """Removes scratch directories left by runs whose process is gone."""
    if not os.path.isdir(scratch_root):
        return
    for name in os.listdir(scratch_root):
        if name.isdigit() and not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(scratch_root, name), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--ops-sf", default="0.01")
    ap.add_argument("--expected", help="ops_mix digests to check against "
                    "(default: perfbench/expected/ops_sf<ops-sf>.tsv)")
    ap.add_argument("--write-expected", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no product sources next to {BENCH} (need build.sbt and src/main/scala)")
    data = os.path.join(BENCH, "data", f"sf{a.ops_sf}")
    if not os.path.isdir(data):
        fail(f"no ops_mix tables at {data}")
    expected = os.path.abspath(a.expected) if a.expected else \
        os.path.join(BENCH, "expected", f"ops_sf{a.ops_sf}.tsv")

    build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    scratch_root = os.path.join(ROOT, ".bench_scratch")
    sweep_stale(scratch_root)
    work = os.path.join(scratch_root, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(work, "result.json")
    record = os.path.join(ROOT, ".bench_out", f"{tag}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP, "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}/derby",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", work, "--data", data, "--expected", expected,
           "--sf", a.sf, "--result", result, "--record", record]
    if a.write_expected:
        cmd.append("--write-expected")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = wait(proc, RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # the product keeps its own per-process scratch (operator fixtures)
        # under the system temp directory, keyed by the JVM's pid
        shutil.rmtree(f"/tmp/graft_run_{proc.pid}", ignore_errors=True)
        out = None
        if os.path.exists(result):
            with open(result) as f:
                out = json.loads(f.read())
        shutil.rmtree(work, ignore_errors=True)

    if code is None:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    if out is None:
        fail(f"{a.workload} ended (exit {code}) without a result", 5)
    print(f"perfbench: record {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if code == 0 and out["correct"] else 1)


if __name__ == "__main__":
    main()
