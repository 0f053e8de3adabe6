#!/usr/bin/env python3
"""Run one workload of the Lance benchmark.

    python3 lancebench/run.py --workload scan|serve|pipeline --seed N \
        --seconds S --trace 0|1 [--cores C]
    python3 lancebench/run.py --selftest

Builds the engine and the harness from source with sbt (once per source
state; output under $CARGO_TARGET_DIR or .bench_build), then runs the
workload in a fresh JVM on a fresh scratch directory that is deleted at
exit. The last stdout line is the result JSON. Exits non-zero, without
a result, when the engine sources are missing or the build or run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan", "serve", "pipeline")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lancebench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description="Lance benchmark: scan, serve and pipeline workloads")
    p.add_argument("--selftest", action="store_true", help="check the seeded generator and exit")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    nproc = os.cpu_count() or 1
    p.add_argument("--cores", type=int, default=min(nproc, 4),
                   help=f"Spark local cores, 1..{nproc} (default: min(nproc, 4))")
    a = p.parse_args(argv)
    if not 1 <= a.cores <= nproc:
        p.error(f"--cores must be between 1 and nproc ({nproc})")
    if not a.selftest:
        for k in ("workload", "seed", "seconds"):
            if getattr(a, k) is None:
                p.error(f"--{k} is required")
        if not -2**63 <= a.seed < 2**63:
            p.error("--seed must fit in a signed 64-bit integer")
        if not 1 <= a.seconds <= 600:
            p.error("--seconds must be between 1 and 600")
    return a


def spark_home_from_path():
    """The first PATH entry holding spark-submit beside a jars directory."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or "META-INF" in d:
                    yield os.path.join(d, f)


def build(build_dir):
    """Compiles engine + harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(build_dir, "lancebench.stamp")
    classes = os.path.join(build_dir, "lancebench", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile", "Compile/copyResources"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S, env=dict(os.environ, CARGO_TARGET_DIR=build_dir))
        except subprocess.TimeoutExpired:
            fail(f"build timed out (log: {log})", 3)
    if r.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"build failed (log: {log})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def main(argv):
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to lancebench/", 3)
    if shutil.which("java") is None:
        fail("java not found on PATH", 3)
    spark_home = os.environ.get("SPARK_HOME") or spark_home_from_path()
    spark_jars = os.path.join(spark_home or "", "jars")
    if not spark_home or not os.path.isdir(spark_jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH", 3)
    os.environ["SPARK_HOME"] = spark_home
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{spark_jars}/*", "lancebench.Main"]
    if a.selftest:
        cmd += ["--selftest", "--cores", str(a.cores), "--work", work]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores), "--work", work]
    err_path = os.path.join(build_dir, f"run-{os.getpid()}.err")
    last = ""
    proc = None
    watchdog = None
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            watchdog = threading.Timer(RUN_LIMIT_S, kill)
            watchdog.daemon = True  # an interrupted run does not wait for it
            watchdog.start()
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line  # held back: printed only after a clean exit
                else:
                    print(line, flush=True)
            proc.wait()
    except (KeyboardInterrupt, SystemExit):
        fail("interrupted", 4)
    finally:
        if watchdog is not None:
            watchdog.cancel()
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S}s", 4)
    if proc.returncode != 0 or not last:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed with exit code {proc.returncode}", 1)
    os.remove(err_path)
    print(last, flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
