#!/usr/bin/env python3
"""CDI daily-run benchmark for graft.

Run from the root of a checkout:

    python3 cdibench/run.py --workload cdi_daily --seed 1 --seconds 1 --trace 0

It builds graft and the benchmark from source with the Scala compiler among
the Spark jars graft builds against (build.sbt's unmanagedBase, else
$SPARK_HOME/jars), cached under $CARGO_TARGET_DIR (default .bench_build), generates the workload's inputs
from the seed in a separate process, runs the workload in a fresh JVM and
prints one JSON result line as the last line of standard output. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics (and a span trace is written under
.bench_traces/).

Other modes:
    --selftest               run every output check on a small real run,
                             then on outputs with one record dropped or
                             altered; exit 0 when each behaves
    --generate DIR           only write the workload's inputs to DIR
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.basename(HERE)

# Input sizes per workload. Generator keys: see gen/CdiGen.java.
WORKLOADS = {
    "cdi_daily": ("cdi", {"dates": 1, "records": 6000, "parts": 16}),
    "cdi_catchup": ("cdi", {"dates": 1, "records": 240, "parts": 16,
                            "prior": 24000, "update": 0.6, "delete": 0.3}),
    "corpus_dedup": ("corpus", {"docs": 16000}),
}
# Small inputs for the layers a workload does not exercise (traced runs
# only) and for the self-test.
PROBES = {
    "probe_cdi": ("cdi", {"dates": 1, "records": 2000, "parts": 8}),
    "probe_corpus": ("corpus", {"docs": 3000}),
}
SELFTEST = {
    "probe_cdi": ("cdi", {"dates": 2, "records": 400, "parts": 4}),
    "probe_corpus": ("corpus", {"docs": 1500}),
}

RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 880        # the first run in a checkout also builds
# the heap cap graft's own run configuration uses (build.sbt); no -Xms, so
# the resident set follows what the program uses
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# no hsperfdata files: a JVM would otherwise write them outside the checkout
NO_PERF = "-XX:-UsePerfData"
NO_PERF_J = "-J" + NO_PERF

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdibench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars graft builds against: the unmanagedBase directory
    build.sbt names, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at '{jars}'; set SPARK_HOME")
    return jars


def sources(root, sub, ext):
    out = []
    for d, _, files in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def build(root, build_dir):
    """Compile the generator, graft and the benchmark; skip when the
    sources hash to the stamp of the last build."""
    main_src = sources(root, "src/main/scala", ".scala") + sources(root, "src/main/java", ".java")
    bench_src = sources(root, os.path.join(BENCH_DIR, "src"), ".scala")
    gen_src = sources(root, os.path.join(BENCH_DIR, "gen"), ".java")
    if not main_src or not bench_src or not gen_src:
        fail("graft or benchmark sources are missing; run from the root of a graft checkout", 2)
    h = hashlib.sha256()
    for f in main_src + bench_src + gen_src:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return False
    log("building graft and the benchmark from source")
    t0 = time.time()
    shutil.rmtree(build_dir, ignore_errors=True)
    gen_out = os.path.join(build_dir, "gen")
    cls_out = os.path.join(build_dir, "classes")
    os.makedirs(gen_out)
    os.makedirs(cls_out)
    subprocess.run(["javac", NO_PERF_J, "-d", gen_out] + gen_src, check=True, stdout=sys.stderr)
    cp = os.path.join(spark_jars(root), "*")
    scala_src = [f for f in main_src + bench_src if f.endswith(".scala")]
    java_src = [f for f in main_src if f.endswith(".java")]
    subprocess.run(["java", NO_PERF, "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", cls_out, "-classpath", cp] + scala_src + java_src,
                   check=True, stdout=sys.stderr)
    if java_src:
        subprocess.run(["javac", NO_PERF_J, "-nowarn", "-d", cls_out, "-cp", cls_out + os.pathsep + cp] + java_src,
                       check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return True


def generate(build_dir, kind, params, seed, out):
    args = ["java", NO_PERF, "-Xmx1g", "-cp", os.path.join(build_dir, "gen"), "CdiGen", kind, str(seed), out]
    args += [f"{k}={v}" for k, v in params.items()]
    subprocess.run(args, check=True, stdout=sys.stderr)


def start_jvm(root, build_dir, work, main_args):
    cp = os.path.join(build_dir, "classes") + os.pathsep + os.path.join(spark_jars(root), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["java", NO_PERF, f"-Xmx{JVM_HEAP}", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += ["-cp", cp, "cdibench.Main"] + main_args
    return subprocess.Popen(args, stdout=sys.stderr, cwd=root)


def run_jvm(root, build_dir, work, main_args, gen_jobs, deadline):
    """Start the benchmark JVM, generate its inputs while its session
    starts, signal the JVM that they are ready, and wait for it."""
    ready = os.path.join(work, "inputs.ready")
    proc = start_jvm(root, build_dir, work, main_args + ["--inputs-ready", ready])
    try:
        for job in gen_jobs:
            generate(build_dir, *job)
        open(ready, "w").close()
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the benchmark JVM ran out of time")
    except subprocess.CalledProcessError as e:
        fail(f"input generation failed with code {e.returncode}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--generate", metavar="DIR")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    t_start = time.time()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a graft checkout", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    build_dir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    try:
        built = build(root, build_dir)
    except subprocess.CalledProcessError as e:
        fail(f"build failed: {e.cmd[0]} exited with {e.returncode}")
    deadline = t_start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    if a.generate:
        kind, params = WORKLOADS[a.workload]
        generate(build_dir, kind, params, a.seed, os.path.abspath(a.generate))
        return

    work = os.path.join(root, ".bench_work", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        args = ["--work", os.path.join(work, "run"), "--cores", str(len(os.sched_getaffinity(0))),
                "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        gen_jobs = []
        if a.selftest or a.trace == 1:
            for name, (kind, params) in (SELFTEST if a.selftest else PROBES).items():
                gen_jobs.append((kind, params, a.seed, os.path.join(inputs, name)))
                args += ["--" + name.replace("_", "-"), os.path.join(inputs, name)]
        if a.selftest:
            sys.exit(run_jvm(root, build_dir, work, args + ["--selftest"], gen_jobs, deadline))

        kind, params = WORKLOADS[a.workload]
        gen_jobs.insert(0, (kind, params, a.seed, os.path.join(inputs, a.workload)))
        result = os.path.join(work, "result.json")
        args += ["--workload", a.workload, "--inputs", os.path.join(inputs, a.workload),
                 "--result", result]
        if a.trace == 1:
            args += ["--trace-file", os.path.join(root, ".bench_traces",
                                                  f"{a.workload}-seed{a.seed}-{int(t_start)}.json")]
        code = run_jvm(root, build_dir, work, args, gen_jobs, deadline)
        if code != 0 or not os.path.exists(result):
            fail(f"the benchmark JVM exited with code {code}")
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == 1 else spec["end_to_end"]
    got = res["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(got) != sorted(names):
        fail(f"metric names differ from BENCHMARK.json: extra {sorted(set(got) - set(names))}, "
             f"missing {sorted(set(names) - set(got))}")
    bad = [n for n, v in got.items() if not isinstance(v, (int, float))]
    if bad:
        fail(f"metrics without a value: {bad}")
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
