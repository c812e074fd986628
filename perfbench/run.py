#!/usr/bin/env python3
"""Reference-pipeline benchmark of graft (see perfbench/README.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--size full|smoke]

Builds the program from source on first use (perfbench/build.py), runs one
workload in a fresh JVM sized to the host, and prints as its last line
{"correct", "attempted", "failed", "metrics"}; the line before it holds the
run's inputs, environment, named checks and workload-specific figures.
With --trace 1 the spans are written to .bench_build/traces/."""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_pdf", "serve_exact", "serve_ivf_append", "dedup_near")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """A tenth of MemTotal, between 1 and 2 GiB: the host is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 1024 // 10))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft missing)")
    cp = build.build(root)

    bdir = os.path.join(root, build.BUILD_DIR)
    run_dir = os.path.join(bdir, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.json")
    log = os.path.join(bdir, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    heap = heap_mb()
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--dir", run_dir,
              "--trace-out", trace_out])
    try:
        with open(log, "w") as err:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log in {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not (isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: the run failed (exit code {p.returncode}); log in {log}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
