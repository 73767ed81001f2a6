#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload etl_full_100k --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Builds the package first when its
sources changed (see build.py), then runs the workload in one JVM. The
JVM's own output goes to standard error; the last line of standard
output is the result object (`correct`, `attempted`, `failed`,
`metrics`). The exit code is 0 only when every output check passed.

    --tiny       run the workload at a smoke-test size
    --selftest   run the negative checks (SelfTest.scala)
    --write-pins rewrite perfbench/pins/ from the current code (Pins.scala)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# A run that outlives this is killed: the contract is 180 s per run.
RUN_TIMEOUT_S = 175
HEAP = "4g"


def jvm(main, args):
    out = build.OUT
    tmp = os.path.join(out, "tmp")
    cp = build.ensure_built()
    return ["java", *build.java_opens(), "-Xms" + HEAP, "-Xmx" + HEAP,
            "-Xss8m", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
            "-Dderby.stream.error.file=" + os.path.join(out, "derby.log"),
            "-cp", cp, main, *args]


def run(cmd):
    """Runs the JVM with its stdout echoed to stderr; returns the exit
    code and the last line it printed."""
    last = ""
    tmp = os.path.join(build.OUT, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # Spark prefers these over spark.local.dir; the run keeps its
    # scratch space inside the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True, env=env)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            sys.stderr.write(line)
            if line.strip():
                last = line.strip()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, last


def main():
    # a terminated runner still stops its JVM (run()'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--pins")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()
    try:
        for flag, main_class in ((a.selftest, "SelfTest"),
                                 (a.write_pins, "Pins")):
            if flag:
                rc, _ = run(jvm("graft.perfbench." + main_class, []))
                sys.exit(rc)
        if not a.workload:
            ap.error("--workload is required")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.tiny:
            args.append("--tiny")
        if a.pins:
            args += ["--pins", a.pins]
        rc, last = run(jvm("graft.perfbench.PerfBench", args))
    except build.BuildError as e:
        print("[perfbench] build: %s" % e, file=sys.stderr)
        sys.exit(2)
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("[perfbench] no result line (exit %d)" % rc, file=sys.stderr)
        sys.exit(rc or 3)
    print(json.dumps(result))
    sys.exit(rc)


if __name__ == "__main__":
    main()
