#!/usr/bin/env python3
"""Run one workload of the end-to-end benchmark.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine and
the benchmark from source with sbt (into the checkout's sbt targets) and
records the runtime classpath under .bench_build/; later runs start the JVM
directly. Every figure is printed by name and unit; the last line of
standard output is the JSON result. Exits non-zero, printing no result, when
the checkout holds no engine source or the run fails.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


ENGINE_SOURCES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(ROOT, "src", "main")]
BENCH_SOURCES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
                 os.path.join(HERE, "src", "main")]


def source_stamp(roots):
    """Hash of the files under `roots`, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return its exit code; on a
    timeout or an interrupt, kill the whole group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return f"timeout after {timeout} s"
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath():
    stamp = source_stamp(ENGINE_SOURCES + BENCH_SOURCES)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an interrupt, so the JVM's group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine source under {ROOT}: run from the root of a source checkout")
    cp = classpath()
    # data an earlier build wrote is stale
    engine = source_stamp(ENGINE_SOURCES + BENCH_SOURCES)[:16]
    cache = os.path.join(BUILD, "cache")
    os.makedirs(cache, exist_ok=True)
    for d in os.listdir(cache):
        if d != engine:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--cache", os.path.join(cache, engine), "--corpus", os.path.join(HERE, "corpus")]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out, open(os.path.join(work, "stderr.txt"), "w") as err:
            code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        with open(out_path) as f:
            lines = f.read().splitlines()
        with open(os.path.join(work, "stderr.txt")) as f:
            err_text = f.read()
        if code != 0 or not lines:
            sys.stderr.write(err_text[-6000:])
            fail(f"workload {a.workload} failed (exit {code})")
        sys.stderr.write("".join(l + "\n" for l in err_text.splitlines() if l.startswith("[perfbench")))
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        if a.trace:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace-"):
                    shutil.copy(os.path.join(work, f),
                                os.path.join(traces, f"{a.workload}-seed{a.seed}-{f}"))
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
