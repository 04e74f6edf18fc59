#!/usr/bin/env python3
"""graft benchmark: one run of one workload, or a repeated set of runs.

One run (run from the root of a checkout):

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 8 --trace 0

builds the benchmark from the checkout's sources on first use, generates the
seeded inputs (cached per workload, seed and size under .bench_cache/),
runs the workload in a fresh JVM, checks its outputs, prints every metric it
measured as a table, and prints as its last line one JSON object:

    {"correct": true, "attempted": N, "failed": N, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. A failed output check prints correct=false
and exits 1.

Repeat mode runs each workload (or the one --workload names) k times with
seeds seed..seed+k-1 and prints
the median and quartiles of every end-to-end metric; --save writes the run
set, and --compare A B compares two saved run sets against the bounds:

    python3 perfbench/run.py --repeat 10 --seed 100 --save a.json
    python3 perfbench/run.py --compare a.json b.json
"""

import argparse
import fnmatch
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# Per-layer metrics of layers a workload does not exercise: a traced run
# reports them as 0. Any other per-layer metric that comes back missing is an
# error, on every workload.
IDLE_LAYERS = {
    "serve_ingest": ["pipeline.*", "jvm.gc_ms", "spark.exec.shuffle_mb", "spark.exec.spill_mb"],
    "pipeline": ["engine.*", "spark.catalyst.*", "spark.exec.*_per_read",
                 "spark.exec.rows_read_per_row_returned", "operators.*", "streaming.*",
                 "sources.*", "ann.*"],
}
ARCHIVE_SEED = 0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in SOURCES + [os.path.join(HERE, "build.sbt")]:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def archive_of(workload):
    return os.path.join(HERE, "target", f"cds-{workload}.jsa")


def build():
    """Compile graft plus the harness with sbt once per checkout; later runs
    reuse the recorded classpath until a source file changes. The build also
    records, per workload, the classes a throwaway set-up loads into a
    class-data archive, so that every measured run maps the same archive
    instead of loading and verifying every Spark class again."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to the benchmark (src/main/scala/graft)")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    print("perfbench: building the benchmark with sbt", file=sys.stderr)
    for archive in glob.glob(os.path.join(HERE, "target", "*.jsa")):
        os.remove(archive)  # class-data archives of the previous build
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    for workload in gen.SIZES:
        print(f"perfbench: recording the class-data archive of {workload}", file=sys.stderr)
        inputs = gen.ensure(CACHE, workload, ARCHIVE_SEED)
        with scratch(workload) as work:
            jvm(cp, workload, inputs, work, 1, 0, os.devnull, RUN_TIMEOUT_S,
                f"-XX:ArchiveClassesAtExit={archive_of(workload)}", ["--setup-only", "1"])
        if not os.path.exists(archive_of(workload)):
            fail(f"class-data archive of {workload} was not written")
    # written last: its presence marks a complete build
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


class scratch:
    """A per-run scratch directory under .bench_work/, deleted afterwards."""
    def __init__(self, workload):
        self.path = os.path.join(WORK, f"run-{os.getpid()}-{workload}")

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def jvm(cp, workload, inputs, work, seconds, trace, spans, timeout, archive_flag, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        archive_flag,
        "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Run",
        "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--spans", spans, *extra,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload {workload} did not finish within {timeout:.0f} s")
    result = None
    for line in stdout.splitlines():
        if line.startswith("BENCH_RESULT "):
            result = json.loads(line[len("BENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        fail(f"workload {workload} exited with code {proc.returncode} and no result")
    return result


def unit_of(name, bench):
    for m in bench["end_to_end"] + bench["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    for suffix, unit in (("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                         ("ratio", "ratio"), ("share", "ratio"), ("per_user_byte", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def print_table(bench, workload, seed, trace, result):
    print(f"# graft benchmark: workload={workload} seed={seed} trace={trace}")
    for name in sorted(result["metrics"]):
        v = result["metrics"][name]
        shown = f"{v:.6g}"
        print(f"{name:44s} {shown:>14s} {unit_of(name, bench)}")
    for err in result["errors"]:
        print(f"CHECK FAILED: {err}")


def one_run(bench, workload, seed, seconds, trace, started):
    names = {m["name"]: m for m in (bench["per_layer"] if trace else bench["end_to_end"])}
    t0 = time.time()
    cp = build()
    started += time.time() - t0  # a first-use build does not count against the run
    inputs = gen.ensure(CACHE, workload, seed)
    spans = os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    with scratch(workload) as work:
        timeout = max(30.0, RUN_TIMEOUT_S - (time.time() - started))
        result = jvm(cp, workload, inputs, work, seconds, trace, spans, timeout,
                     f"-XX:SharedArchiveFile={archive_of(workload)}")
    measured = {**result["metrics"], **workload_metrics(workload, result["metrics"])}
    idle = IDLE_LAYERS[workload] if trace else []
    metrics, errors = {}, list(result["errors"])
    for name, spec in names.items():
        v = measured.get(name)
        if any(fnmatch.fnmatchcase(name, pat) for pat in idle):
            v = 0.0 if v is None or math.isnan(v) else v
        if v is None or math.isnan(v):
            errors.append(f"metric {name} was not measured")
        elif math.isinf(v):
            errors.append(f"metric {name} is infinite: an operation failed and missed every limit")
        else:
            metrics[name] = {"value": v, "unit": spec["unit"]}
    result["errors"] = errors
    return {"correct": result["correct"] and not errors,
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": metrics}, result


def workload_metrics(workload, m):
    """The gated end-to-end metrics are defined for every workload; each
    reads the workload's own client operation (see README.md)."""
    if workload == "serve_ingest":
        return {"op_ms": m.get("read_geomean_ms"), "items_per_s": m.get("read_ops_per_s")}
    return {"op_ms": m.get("pipeline.pass_p50_ms"), "items_per_s": m.get("pipeline_rows_per_s")}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def repeat(bench, workloads, seed, k, seconds, save):
    runs = {}
    for w in workloads:
        runs[w] = []
        for i in range(k):
            out, raw = one_run(bench, w, seed + i, seconds, 0, time.time())
            if not out["correct"]:
                fail(f"{w} seed {seed + i}: output check failed", 1)
            runs[w].append({n: v["value"] for n, v in out["metrics"].items()})
            print(f"{w} seed {seed + i}: " + json.dumps(raw["metrics"]), file=sys.stderr)
    summarize(bench, runs)
    if save:
        with open(save, "w") as f:
            json.dump(runs, f, indent=1)


def summarize(bench, runs):
    print(f"{'workload':14s} {'metric':22s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}")
    for w, rs in runs.items():
        for m in bench["end_to_end"]:
            xs = [r[m["name"]] for r in rs]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"{w:14s} {m['name']:22s} {q1:12.5g} {med:12.5g} {q3:12.5g} "
                  f"{spread:8.3f} {m['bound']:6.2f}")


def compare(bench, a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    worse = 0
    print(f"{'workload':14s} {'metric':22s} {'median A':>12s} {'median B':>12s} "
          f"{'change':>8s} {'bound':>6s}")
    for w in a:
        for m in bench["end_to_end"]:
            ma = statistics.median(r[m["name"]] for r in a[w])
            mb = statistics.median(r[m["name"]] for r in b[w])
            change = (mb - ma) / ma
            regress = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse += regress
            print(f"{w:14s} {m['name']:22s} {ma:12.5g} {mb:12.5g} {change:+8.3f} "
                  f"{m['bound']:6.2f}{'  WORSE' if regress else ''}")
    return worse


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int)
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    if args.compare:
        sys.exit(1 if compare(bench, *args.compare) else 0)
    if args.repeat:
        workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
        repeat(bench, workloads, args.seed, args.repeat, seconds, args.save)
        return
    if args.workload not in gen.SIZES:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(gen.SIZES)}")
    out, raw = one_run(bench, args.workload, args.seed, seconds, args.trace, started)
    print_table(bench, args.workload, args.seed, args.trace, raw)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
