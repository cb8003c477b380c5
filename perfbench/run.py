#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt, offline) into .bench_build/ and
records the classpath; later runs reuse the build while the sources are
unchanged. The workload then runs in one JVM, which renders its inputs from
the seed under .bench_build/work/, measures for --seconds, checks the
outputs, writes an artifact under .bench_build/results/ and prints one JSON
result as the last line of standard output.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("etl_full", "table_refresh")
BUILD_DIR = ".bench_build"
# the whole run must end within 180 s; the first run also builds
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xms3g", "-Xmx3g",
    # the JVM, and so the session (local[2], 2 shuffle partitions) and its
    # JIT and GC threads, sees 2 of the box's CPUs: see README, "Noise"
    "-XX:ActiveProcessorCount=2",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]
SBT_FLAGS = [
    "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
    "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, and of where the checkout is (the
    recorded classpath is absolute), so a changed source or a moved checkout
    rebuilds."""
    h = hashlib.sha256(os.getcwd().encode())
    roots = ["src/main", "perfbench/src/main", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "classpath.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = list(SBT_FLAGS)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags.append(f"-Dsbt.repository.config={repos}")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", *flags, "compile", "export Runtime/fullClasspath"],
                           cwd="perfbench", env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    # a SIGTERM unwinds like Ctrl-C, so no child outlives this script
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a checkout "
                 "that holds the engine's sources")

    cp = build()
    started = time.monotonic()
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", args.workload))
    results = os.path.abspath(os.path.join(BUILD_DIR, "results"))
    cmd = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + os.path.join(work, "..", "tmp"),
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", results]
    os.makedirs(os.path.join(work, "..", "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        # interrupted or terminated: the JVM's session goes too
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines[:-1] if result else lines:
        print(l)
    if proc.returncode != 0 or result is None:
        fail(f"workload exited {proc.returncode} without a result")
    print(f"# wall {time.monotonic() - started:.1f} s", file=sys.stderr)
    print(result, flush=True)


if __name__ == "__main__":
    main()
