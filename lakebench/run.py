#!/usr/bin/env python3
"""Benchmark entry point: lakehouse ETL, corpus curation and lake serving.

    python3 lakebench/run.py --workload lakehouse_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run compiles
the engine and the benchmark into .bench_build/ (see build.py). Each run
works in a fresh temporary directory under .bench_build/work/ and removes
it at the end. The last line of standard output is the result object; the
line before it holds the run's context (disk window, sample counts, the
other set of metrics) and is not gated.

    python3 lakebench/run.py --selfcheck    # generator and output-check checks
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def disk_probe_mbps(dirpath, mib=16):
    """Buffered write of `mib` MiB plus fsync; returns MB/s."""
    path = os.path.join(dirpath, ".disk_probe")
    block = os.urandom(1 << 20)
    t = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(mib):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t
    os.remove(path)
    return round(mib * 1.048576 / dt, 1)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def java_cmd(classes, work, args):
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + build.classpath(),
        "lakebench.Main"] + args)


def run_jvm(classes, work, args, log_path, expect_result=True, quiet=False):
    """Runs the benchmark JVM; returns (result, context) parsed from its
    output, or raises on failure or timeout. `quiet` keeps the JVM log of
    an incorrect run off stderr."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classes, work, args), cwd=work,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    result = context = None
    for line in out.splitlines():
        if line.startswith("LAKEBENCH_RESULT "):
            result = json.loads(line[len("LAKEBENCH_RESULT "):])
        elif line.startswith("LAKEBENCH_CONTEXT "):
            context = json.loads(line[len("LAKEBENCH_CONTEXT "):])
    broken = proc.returncode != 0 or (expect_result and result is None)
    if broken or (result is not None and not result["correct"] and not quiet):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
    if broken:
        raise RuntimeError("benchmark JVM failed (exit %d)" % proc.returncode)
    return result, context


def work_dir():
    base = os.path.join(build.BUILD, "work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=base)


def bench(a):
    spec = declared()
    classes = build.build()
    work = work_dir()
    try:
        disk_before = disk_probe_mbps(work)
        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work]
        if a.corrupt:
            args += ["--corrupt", a.corrupt]
        result, context = run_jvm(classes, work, args, os.path.join(work, "jvm.log"))
        disk_after = disk_probe_mbps(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in want if m["name"] not in result["metrics"]]
    if missing:
        raise SystemExit("metrics missing from the run: %s" % missing)
    result["metrics"] = {m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
                         for m in want}
    context = dict(context or {})
    context["disk_mbps_before"] = disk_before
    context["disk_mbps_after"] = disk_after
    print("context " + json.dumps(context, sort_keys=True))
    print(json.dumps(result))


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", default="", help=argparse.SUPPRESS)
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args()
    if a.selfcheck:
        import selfcheck
        sys.exit(selfcheck.main())
    if not a.workload:
        p.error("--workload is required")
    bench(a)


if __name__ == "__main__":
    main()
