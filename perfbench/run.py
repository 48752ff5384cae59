#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the harness
and the library with sbt (offline); later runs reuse the build until a source
file changes. The first run of a query workload also generates its input
tables, in a JVM of its own (graft.perfbench.Inputs). The harness
(graft.perfbench.Main) then runs the workload in a fresh JVM and this script
prints its one-line JSON result as the last line of standard output.
Everything else goes to standard error. Run records, spans and per-operation
tables land in perfbench/work/out/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "launch.stamp")

# limits for one run: building may take long once; a measured run may not
BUILD_TIMEOUT_S = 700
INPUTS_TIMEOUT_S = 180
RUN_TIMEOUT_S = 170
HEAP = "4g"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: both build definitions and both source
    trees (main and test)."""
    roots = [os.path.join(ROOT, "src"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def revision(digest):
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-sha256:" + digest[:16]


def run_group(cmd, cwd, env, timeout, stdout):
    """Runs `cmd` in its own process group; on timeout the whole group is
    killed and waited for. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        p.wait(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def ensure_build(digest):
    cp = os.path.join(TARGET, "launch.classpath")
    if os.path.isfile(STAMP) and os.path.isfile(cp):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx3g")
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "launchFiles"], HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0:
        log(f"build failed (exit {rc})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def ensure_inputs(java, workload):
    """Generates the workload's input tables once per checkout, in a JVM of
    its own, so that no measured JVM starts warmed by the generation."""
    mark = os.path.join(WORK, f"inputs-{workload}.ready")
    if os.path.isfile(mark):
        return
    log(f"preparing inputs of {workload}")
    rc = run_group(java + ["graft.perfbench.Inputs", "--workload", workload,
                           "--work", WORK],
                   ROOT, dict(os.environ), INPUTS_TIMEOUT_S, sys.stderr)
    if rc != 0:
        log(f"input preparation failed (exit {rc})")
        sys.exit(6)
    open(mark, "w").close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {ROOT}: run from a full checkout")
        sys.exit(2)

    digest = source_digest()
    ensure_build(digest)
    with open(os.path.join(TARGET, "launch.classpath")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(TARGET, "launch.jvmopts")) as fh:
        jvmopts = [l for l in fh.read().split("\n") if l]

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = (["java", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={tmp}"] + jvmopts + ["-cp", classpath])
    ensure_inputs(java, a.workload)
    cmd = java + ["graft.perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace,
                  "--work", WORK, "--expected", os.path.join(HERE, "expected.tsv"),
                  "--revision", revision(digest)]
    out_path = os.path.join(tmp, f"stdout-{os.getpid()}.txt")
    with open(out_path, "w+") as out:
        rc = run_group(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, out)
        out.seek(0)
        lines = out.read().splitlines()
    os.remove(out_path)
    if rc is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        sys.exit(4)
    if rc != 0:
        log(f"harness exited with {rc}")
        sys.exit(rc)
    result = None
    for line in lines:
        print(line, file=sys.stderr)
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            result = line
    if result is None:
        log("harness printed no result line")
        sys.exit(5)
    print(result, flush=True)


if __name__ == "__main__":
    main()
