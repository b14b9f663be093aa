#!/usr/bin/env python3
"""Run one workload of the gdxpyspark benchmark.

    python3 perfbench/run.py --workload gdx_io --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
launch spec under .perfbench/, keyed by a hash of every source and
build file; later runs reuse it until a source changes. Each run then
starts one JVM (local[4]) with a fresh java.io.tmpdir and Spark local
dir, so no fixture cache survives from an earlier run, and removes them
when the JVM has ended.

The last stdout line is the result JSON. Extra arguments after the four
above (for example --tiny, --sf DIR) pass through to graft.perfbench.Main.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 700  # with one run, inside the 900 s a first run may take
RUN_TIMEOUT_S = 170
HEAP = "-Xmx4g"


def fail(msg):
    print(f"[run.py] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or
    exit, so no child outlives the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def launch_spec():
    """(classpath, jvm options) of the current sources, building if needed."""
    spec = os.path.join(STATE, "build", f"launch-{fingerprint()}.txt")
    if not os.path.exists(spec):
        print("[run.py] building program and benchmark with sbt", file=sys.stderr)
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "launchSpec"],
            BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True)
        if code != 0:
            sys.stderr.write(out[-4000:])
            fail("build failed")
        os.makedirs(os.path.dirname(spec), exist_ok=True)
        shutil.copyfile(os.path.join(BENCH, "target", "launch.txt"), spec)
    with open(spec) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are missing")

    classpath, jvm_opts = launch_spec()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + jvm_opts + [HEAP, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(run_dir, "work"), "--out", os.path.join(STATE, "out"),
            "--bench-dir", BENCH] + extra)
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
