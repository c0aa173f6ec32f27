#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload extract|ingest|train_eval \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together with
the harness (sbt, offline) into .bench_build/; later runs reuse that build
until a source file changes. The harness runs in one JVM; its metric lines
are printed, and the last line of standard output is the result as JSON.
A run that fails, or that does not finish within the time limit, prints no
result and exits non-zero. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout or
    when this script is terminated. Returns (exit code, stdout or None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        fail("terminated")

    old = signal.signal(signal.SIGTERM, kill)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("%s did not finish within %d s" % (cmd[0], timeout))
    finally:
        signal.signal(signal.SIGTERM, old)
    return proc.returncode, out


def source_stamp():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def launch_args():
    """Builds if the sources changed since the last build; returns the JVM
    flags and classpath the build wrote."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(BUILD, "launch.txt")
    built = os.path.exists(launch) and os.path.exists(stamp_file)
    if not built or open(stamp_file).read() != stamp:
        os.makedirs(BUILD, exist_ok=True)
        # sbt's own writable state (boot, global base, ivy home) is kept
        # inside the checkout; the coursier cache is only read (offline)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.boot.directory=" + os.path.join(BUILD, "sbt-boot"),
               "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
               "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy"), "writeLaunch"]
        code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if code != 0:
            fail("build failed (sbt exit %d)" % code)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["extract", "ingest", "train_eval"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under %s; run from the repository root" % ENGINE_SRC)

    run_root = os.path.join(BUILD, "run")
    # the JVM's temp dir (native libraries Spark unpacks) is per run
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + HEAP + ["-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp] + launch_args() + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--root", run_root]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [line for line in out.splitlines() if line.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        fail("harness exited %d without a result" % code)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace == "1" else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        sys.stderr.write(out)
        fail("metrics differ from BENCHMARK.json: %s" % sorted(set(got.items()) ^ set(want.items())))
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
