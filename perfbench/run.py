#!/usr/bin/env python3
"""Statement -> report benchmark: build, generate inputs, run, check, report.

    python3 perfbench/run.py --workload monthly_close --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The engine is compiled from
`src/main/scala` with the Scala compiler that ships in the Spark jar
directory (no sbt), the harness in `perfbench/src` against it, into
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`). Inputs,
Spark scratch space and report outputs live under `.bench_work/` and are
removed when the run ends.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). See perfbench/README.md for what each means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("monthly_close", "statement_archive")
HEAP = "3g"
JVM_TIMEOUT_S = 170          # a run must end within 180 s

# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jar directory at {jars}")
    return jars


def build(root):
    """Compile engine + harness once per source tree; returns the classpath."""
    engine_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    engine_files, bench_files = scala_sources(engine_src), scala_sources(bench_src)
    if not engine_files or not bench_files:
        fail("no engine sources under src/main/scala; run from the root of a source checkout")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in engine_files + bench_files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    target = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                          "perfbench")
    out = os.path.join(target, key)
    cp = [os.path.join(out, "bench"), os.path.join(out, "engine"), os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, "ok")):
        return cp, key
    if os.path.isdir(target):
        shutil.rmtree(target)
    compiler = ":".join(os.path.join(jars, f"scala-{p}-2.13.17.jar")
                        for p in ("compiler", "library", "reflect"))
    for name, files, classpath in (("engine", engine_files, os.path.join(jars, "*")),
                                   ("bench", bench_files,
                                    os.path.join(out, "engine") + ":" + os.path.join(jars, "*"))):
        os.makedirs(os.path.join(out, name))
        t0 = time.time()
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                            "-nowarn", "-d", os.path.join(out, name), "-classpath", classpath]
                           + files, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout + r.stderr)
            fail(f"compiling {name} failed")
        print(f"built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    open(os.path.join(out, "ok"), "w").close()
    return cp, key


def java_cmd(cp, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss8m"] + opens +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", ":".join(cp), "perfbench.PipeBench"])


def jvm(cmd, work):
    """Run the harness JVM; returns its RESULT object, or None."""
    log = os.path.join(work, "run.log")
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM did not finish within {JVM_TIMEOUT_S} s")
    with open(log) as f:
        lines = f.readlines()
    if r.returncode != 0:
        sys.stderr.write("".join(lines[-40:]))
        fail(f"harness JVM exited with {r.returncode}")
    # the harness's own notes: which report failed its check, and why
    sys.stderr.write("".join(l for l in lines if l.startswith("[perfbench]")))
    results = [l[len("RESULT "):] for l in r.stdout.splitlines() if l.startswith("RESULT ")]
    return json.loads(results[-1]) if results else None


def source_commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    cp, key = build(root)

    ok, txns, sha = gen.self_check()
    if not ok:
        fail(f"generator self-check failed: {txns} rows, first statement sha256 {sha}")
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        gen.generate(a.workload, a.seed, inputs)
        cmd = java_cmd(cp, work)
        res = jvm(cmd + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--input", inputs, "--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail("harness printed no result")

    attempted, failed = res["attempted"], res["failed"]
    # a run where every report threw has no timings; report them as null
    raw = {k: (v if v is not None and math.isfinite(v) else None) for k, v in res["metrics"].items()}
    # the metrics and units BENCHMARK.json declares for this kind of run
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in raw]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": raw[m["name"]], "unit": m["unit"]} for m in declared}
    provenance = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "nproc": os.cpu_count(), "cores_used": res["cores"],
                  "heap": HEAP, "spark.sql.shuffle.partitions": res["shuffle_partitions"],
                  "git_commit": source_commit(root), "source_hash": key,
                  "report_times_s": res["report_times_s"], "warmup_s": res["warmup_s"]}
    print("provenance " + json.dumps(provenance, sort_keys=True))
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value'] if m['value'] is None else round(m['value'], 4):>14} {m['unit']}")
    print(f"  {'failed_frac':34s} {failed / attempted:14.4f} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
