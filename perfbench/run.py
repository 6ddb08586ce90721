#!/usr/bin/env python3
"""graft's benchmark of record.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload typecast --seed 1 --seconds 10 --trace 0

Builds `src/main/scala` plus the harness in `perfbench/scala` into
`.bench_build/` when any source is newer than the last build, runs one
JVM for the workload and prints, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`).

`--self-test` checks the benchmark's own arithmetic and selection logic.
See perfbench/README.md for the workloads and how they are measured.
"""

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.relpath(os.path.abspath(__file__)))
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("typecast", "graph", "sweep")
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# typecast phases by the layer whose code they reach
PHASES = {
    "functions": ["to_integer", "to_integer_radix", "to_float", "to_boolean", "to_datetime",
                  "to_decimal", "to_string", "round_float", "round_decimal", "round_div",
                  "snap", "downcast"],
    "expressions": ["timedelta_parse", "complex_parse", "detect_class", "py_arith"],
    "types": ["typecheck"],
}
N_PHASES = sum(len(v) for v in PHASES.values())
GRAPH = ["q77_graph_profile", "q59_pagerank", "q52_bfs_reach", "d6_dup_clusters"]
FAMILIES = ["q", "t", "x", "d", "e", "m", "p", "s"]

# per-op layer fields summed per pass -> per-layer metric name and unit
LAYER_SUMS = [
    ("build_s", "registry.build_s", "s"), ("build_jobs", "registry.build_jobs", "count"),
    ("plan_s", "plans.plan_s", "s"), ("write_s", "exec.write_s", "s"),
    ("jobs", "exec.jobs", "count"), ("stages", "exec.stages", "count"),
    ("tasks", "exec.tasks", "count"), ("task_s", "exec.task_s", "s"),
    ("cpu_s", "exec.cpu_s", "s"), ("gc_s", "exec.gc_s", "s"),
    ("input_mb", "exec.input_mb", "MB"), ("shuffle_read_mb", "exec.shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "exec.shuffle_write_mb", "MB"), ("spill_mb", "exec.spill_mb", "MB"),
    ("nojob_s", "driver.nojob_s", "s"), ("leaked_rdds", "cache.leaked_rdds", "count"),
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- arithmetic

def tail(samples):
    """The highest whole percentile with at least ten samples beyond it,
    by nearest rank: (percentile, value). With ten samples or fewer no
    percentile has ten beyond it; the maximum is reported as p100."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return 100, s[-1]
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1]


def rows_per_s(rows, phases, wall_s):
    return rows * phases / wall_s


def op_metrics(res):
    """Per-operation latency and memory of a run: op_p50_s, op_tail_s
    and peak_rss_mb, plus the tail's percentile and sample count."""
    ops = [o["wall_s"] for o in res["ops"]]
    p, t = tail(ops)
    return {
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (t, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"tail_percentile": p, "op_samples": len(ops)}


def end_to_end(res):
    """End-to-end metrics of an untraced run, in CPU seconds of the JVM:
    on a shared host, wall time also counts the time the host gives to
    other tenants, and swung by a third between runs of the same code.
    Both are the first measured pass's, as later passes are warmer and
    how many fit in a run varies. Wall times go to the summary line."""
    first = res["passes"][0]
    setup_cpu = res["session_cpu_s"] + statistics.median(res["gen_cpu_s"]) + res["check_cpu_s"]
    return {"cpu_s": (first["cpu_s"], "s"), "setup_s": (setup_cpu, "s")}


def wall_times(res):
    """The wall-time twins of the end-to-end metrics."""
    setup = res["session_s"] + statistics.median(res["gen_s"]) + res["check_s"]
    return {"wall_s": (res["passes"][0]["wall_s"], "s"), "setup_wall_s": (setup, "s")}


def per_layer(res):
    """Per-layer metrics of a traced run: sums per traced pass, rates
    from the median over traced passes, and the tracing overhead."""
    traced = [o for o in res["ops"] if o["traced"]]
    npass = len({o["pass"] for o in traced})
    m = {}
    for field, name, unit in LAYER_SUMS:
        m[name] = (sum(o[field] for o in traced) / npass, unit)
    wall = sum(o["wall_s"] for o in traced)
    m["exec.util"] = (sum(o["task_s"] for o in traced) / (res["cores"] * wall), "ratio")
    m["driver.build_plan_share"] = (
        sum(o["build_s"] + o["plan_s"] for o in traced) / wall, "ratio")

    def med_wall(name):
        ws = [o["wall_s"] for o in traced if o["name"] == name]
        return statistics.median(ws) if ws else 0.0

    for layer, names in PHASES.items():
        for ph in names:
            w = med_wall(ph)
            m[f"{layer}.{ph}.rows_per_s"] = (res["rows"] / w if w else 0.0, "rows/s")
    m["types.resolve_per_s"] = (res["resolve_per_s"], "1/s")
    for q in GRAPH:
        jobs = [o["jobs"] for o in traced if o["name"] == q]
        m[f"graph.{q}.wall_s"] = (med_wall(q) if res["workload"] == "graph" else 0.0, "s")
        m[f"graph.{q}.jobs"] = (
            statistics.median(jobs) if jobs and res["workload"] == "graph" else 0, "count")
    if res["workload"] == "sweep":
        for f in FAMILIES:
            m[f"sweep.{f}.wall_s"] = (
                sum(o["wall_s"] for o in traced if o["group"] == f) / npass, "s")
    tw = [p["wall_s"] for p in res["passes"] if p["traced"]]
    # pass 0 of a traced run is its untraced warm-up
    uw = [p["wall_s"] for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    m["trace.overhead_s"] = (statistics.median(tw) - statistics.median(uw), "s")
    m["trace.unattributed_jobs"] = (res["unattributed_jobs"], "count")
    m.update(op_metrics(res)[0])
    m["typecast.rows_per_s"] = (
        rows_per_s(res["rows"], N_PHASES, statistics.median(uw))
        if res["workload"] == "typecast" else 0.0, "rows/s")
    return m


def outcome(res):
    """(correct, attempted, failed): every op of the check pass and of
    the measured passes counts, a throw or a digest mismatch as failed."""
    results = [c["ok"] for c in res["checks"]] + [o["ok"] for o in res["ops"]]
    failed = results.count(False)
    return failed == 0, len(results), failed


# ---------------------------------------------------------------- build & run

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise BenchError("no src/main/scala here: run from the root of a graft checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))


def stale(srcs):
    """Sources newer than the compiled classes."""
    if not os.path.exists(STAMP):
        return srcs
    built = os.path.getmtime(STAMP)
    return [s for s in srcs if os.path.getmtime(s) > built]


def build(jars):
    """Compiles the library and the harness when any source is newer
    than the last build; refuses to go on if classes are still stale."""
    srcs = sources()
    if stale(srcs):
        os.makedirs(BUILD, exist_ok=True)
        started = time.time()
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", os.path.join(jars, "*"), "@" + argfile]
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
        if rc != 0:
            raise BenchError(f"compile failed, see {log}")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(STAMP, "w") as f:
            f.write("built\n")
        # stamp the build with its start: a source edited during the
        # compile stays newer than the classes
        os.utime(STAMP, (started, started))
    left = stale(srcs)
    if left:
        raise BenchError(f"refusing to measure stale classes: {left[0]} is newer than the build")


def jvm(jars, mode, extra, log_name, timeout=JVM_TIMEOUT_S):
    work = os.path.abspath(os.path.join(BUILD, f"work-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, log_name)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.abspath(CLASSES), os.path.join(jars, "*")]),
              "graftperf.Perf", "--mode", mode, "--work", work] + extra)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{mode} timed out after {timeout} s, see {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(f"{mode} exited with {rc}, see {log}")
    return work, log


def run(args):
    jars = spark_jars()
    build(jars)
    out = os.path.abspath(os.path.join(BUILD, f"result-{args.workload}-{args.seed}.json"))
    if os.path.exists(out):
        os.remove(out)
    work, _ = jvm(jars, "run", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", os.path.abspath(DATA),
        "--expected", os.path.abspath(EXPECTED), "--out", out,
    ], f"{args.workload}-{args.seed}-t{args.trace}.log")
    with open(out) as f:
        res = json.load(f)
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(res["spans_file"], os.path.join(traces, os.path.basename(res["spans_file"])))
    shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed = outcome(res)
    for c in res["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['op']}: {c['detail']}", file=sys.stderr)
    for o in res["ops"]:
        if not o["ok"]:
            print(f"op failed: {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    ops, info = op_metrics(res)
    metrics = per_layer(res) if args.trace else end_to_end(res)
    summary = dict(metrics)
    if not args.trace:
        summary.update(wall_times(res))
        summary.update(ops)
        if res["workload"] == "typecast":
            summary["rows_per_s"] = (
                rows_per_s(res["rows"], N_PHASES, summary["wall_s"][0]), "rows/s")
    summary["failed_frac"] = (failed / attempted, "ratio")
    print(f"{args.workload} seed={args.seed} cores={res['cores']}: " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in summary.items()) +
        f" (op_tail_s is p{info['tail_percentile']} of {info['op_samples']} op samples; "
        f"{len(res['passes'])} passes)")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def record(args):
    """Re-records perfbench/expected.json from the current code."""
    jars = spark_jars()
    build(jars)
    out = os.path.abspath(args.record)
    jvm(jars, "record", ["--data", os.path.abspath(DATA), "--expected", os.path.abspath(EXPECTED),
                         "--out", out], "record.log",
        timeout=3600)
    print(f"recorded {out}")


def self_test():
    jars = spark_jars()
    build(jars)
    test = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_run"],
                          cwd=HERE or ".")
    if test.returncode != 0:
        raise BenchError("python self-test failed")
    _, log = jvm(jars, "selftest", [], "selftest.log")
    with open(log) as f:
        print([l for l in f.read().splitlines() if l.startswith("selftest")][-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", metavar="OUT", help="record expected digests to OUT")
    args = ap.parse_args()
    try:
        if args.self_test:
            self_test()
        elif args.record:
            record(args)
        elif args.workload:
            run(args)
        else:
            ap.error("--workload is required")
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
