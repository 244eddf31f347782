#!/usr/bin/env python3
"""Repo benchmark: the 6-step pipeline at two input sizes and a seeded
catalog mix, timed from one JVM through the engine's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all      # every workload, untraced and traced

Builds the engine and the benchmark from source on first use (plain
scalac against the Spark jars the sbt build uses), runs one workload in a
fresh JVM, checks its outputs, and prints as the last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer metrics of a separate traced pass. The full record (host,
per-op walls, spans) is printed on the line before it and kept under
<build dir>/results/.

Other modes:
    --record <file> [--tiny]   record catalog results on the generated tables
    --tiny                     run at the self-test size (see selftest.py)
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_small", "catalog_mix", "pipeline_sf0.1")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit; the list build.sbt passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jar directory the sbt build compiles against (`unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory: build.sbt has no usable unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile engine + benchmark into <build dir>/classes unless the
    sources are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-cp", cp, "-nowarn"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def run_jvm(classes, jars, args, work, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed, pre-touched heap: the collector never resizes it, and no op
    # pays the page faults of heap regions first used during it. The
    # collector cycles its regions through the whole heap within a run
    # anyway, so pre-touching adds little resident memory by the end.
    # No perf-data file: the JVM would otherwise write one outside the checkout.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--work", work, "--expected", HERE] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"benchmark JVM exceeded {timeout} s")
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed seconds per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--record")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    if a.workload == "all":
        return run_all(spec, a)
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(build_dir(), f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.record:
            out = run_jvm(classes, jars, ["--record", os.path.abspath(a.record)] + (["--tiny"] if a.tiny else []),
                          work, timeout=None)
            print(out, end="")
            return
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)] + (["--tiny"] if a.tiny else [])
        out = run_jvm(classes, jars, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        fail("benchmark JVM printed no result")
    rec = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    results = os.path.join(build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}{'-tiny' if a.tiny else ''}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    if a.trace:
        have, names = rec["trace"]["per_layer"], [m["name"] for m in spec["per_layer"]]
    else:
        have, names = rec["end_to_end"], [m["name"] for m in spec["end_to_end"]]
    missing = [n for n in names if n not in have]
    if missing:
        fail(f"metrics missing from the record: {missing}")
    attempted, failed = rec["attempted"], len(rec["failures"])
    print(json.dumps(rec))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: have[n] for n in names}}))


def run_all(spec, a):
    """Each workload of BENCHMARK.json, untraced then traced, one table row
    per metric: name, unit, value."""
    status = 0
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(trace)] + (["--tiny"] if a.tiny else []),
                               stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{w} trace={trace}: FAILED (exit {r.returncode})")
                status = 1
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            print(f"{w} trace={trace}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"  {name:36s} {m['unit']:6s} {m['value']:.6g}")
    sys.exit(status)


if __name__ == "__main__":
    main()
