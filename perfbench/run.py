#!/usr/bin/env python3
"""The repository's performance benchmark.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (again whenever their
sources change), makes the workload's inputs from the seed, measures set-up
time in two fresh JVMs, then runs the workload in a closed loop (one client
thread, local[cores]) for ``--seconds`` seconds after two untimed warm-up
passes, timing a fixed reference job after every pass. Every execution's output is checked. With
``--trace 0`` it prints the end-to-end metrics, with ``--trace 1`` the
per-layer census; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Full records go to
``.bench_build/perfbench/``; perfbench/README.md explains the metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
EXPECTED = os.path.join(HERE, "expected_checksums.json")
TABLE_SCALE = 0.01
DATA_VARIANTS = 8
# Set-up is sampled in a set-up-only JVM and in the measuring JVM. A third
# JVM would add 5-11 s to every run on a busy 4-core host; two keep a run
# near a minute.
SETUP_SAMPLES = 2
JVM_TIMEOUT_S = 170
# -Xms as well as -Xmx: a heap that starts small grows at a different pace
# in every JVM, and runs that grew late spent twice the GC time and read
# 20-40% slower.
HEAP = "3g"

# name -> engine queries in one pass; None is the flagship report pipeline.
WORKLOADS = {
    "citation_report": None,
    "graph_mix": ["citation_kcore", "citation_triangles"],
}


CHILDREN = []


def stop_children(signum, _frame):
    """Stop the harness JVM when the benchmark itself is stopped."""
    for proc in CHILDREN:
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_key():
    """SHA-256 over the sources and build definitions the harness's classes
    are compiled from, the engine's and the harness's own."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Compile the engine and the harness with sbt, which writes the
    harness's JVM options and classpath to LAUNCH. The build is redone, by
    sbt's incremental compiler, whenever the inputs' key differs from the
    one stored with LAUNCH, so an edited or checked-out engine is never
    measured through stale classes."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of the repository: no engine sources here")
    key = build_key()
    key_file = LAUNCH + ".key"
    if os.path.isfile(LAUNCH) and os.path.isfile(key_file):
        with open(key_file) as f:
            if f.read() == key:
                return
    for stale in (LAUNCH, key_file):
        if os.path.isfile(stale):
            os.remove(stale)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "perfbench/launchFile"], cwd=HERE, env=env,
                              stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if done.returncode != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(key_file, "w") as f:
        f.write(key)


def jvm(args, log_name):
    """Run the harness; returns the seconds from launch to its `ready`
    line (None for modes that print none)."""
    with open(LAUNCH) as f:
        launch = f.read().split("\n")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}", f"-Xms{HEAP}"] + [a for a in launch if a]
           + ["graft.perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(WORK, log_name), "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        CHILDREN.append(proc)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out, see {log_name}")
        finally:
            CHILDREN.remove(proc)
    if proc.returncode != 0:
        fail(f"harness exited {proc.returncode}, see {os.path.join(WORK, log_name)}")
    ready = [line for line in out.split("\n") if line.startswith("ready ")]
    return int(ready[0].split()[1]) / 1000.0 - t0 if ready else None


def make_inputs(workload, seed):
    """Inputs depend on the seed only. The report workload gets its own edge
    list; the query workloads share one of DATA_VARIANTS lineitem tables,
    whose expected checksums were recorded from the engine (EXPECTED)."""
    if WORKLOADS[workload] is None:
        d = os.path.join(WORK, "data", f"snap-{seed}")
        if not os.path.isfile(os.path.join(d, "expected_report.txt")):
            gen.write_snap(seed, d)
        with open(os.path.join(d, "edges.txt"), "rb") as f:
            edges = sum(1 for _ in f)
        return d, edges
    variant = seed % DATA_VARIANTS
    d = os.path.join(WORK, "data", f"lineitem-{variant}")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        gen.write_lineitem(variant, TABLE_SCALE, d + ".tmp")
        os.replace(d + ".tmp", d)
    return d, int(6_000_000 * TABLE_SCALE)


def expected_results(workload, seed, data_dir):
    """Name -> predicate on an execution's result string."""
    if WORKLOADS[workload] is None:
        with open(os.path.join(data_dir, "expected_report.txt"), "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        return {"citation_report": lambda r: r == digest}
    with open(EXPECTED) as f:
        recorded = json.load(f)
    table = recorded["variants"][str(seed % DATA_VARIANTS)]
    checks = {}
    for q in WORKLOADS[workload]:
        want = table[q]
        if q in recorded["rows_only"]:
            checks[q] = lambda r, w=want: r.split(":")[1] == w.split(":")[1]
        else:
            checks[q] = lambda r, w=want: r == w
    return checks


def run_workload(workload, seed, seconds, trace):
    ensure_build()
    os.makedirs(WORK, exist_ok=True)
    data_dir, edge_rows = make_inputs(workload, seed)
    tag = f"{workload}-seed{seed}-trace{trace}"
    # set-up is an end-to-end metric; the traced census does not need it
    setups = [jvm(["setup"], f"{tag}.setup{i}.log")
              for i in range(0 if trace else SETUP_SAMPLES - 1)]
    out_json = os.path.join(WORK, f"{tag}.json")
    trace_json = os.path.join(WORK, f"{tag}.spans.json")
    queries = WORKLOADS[workload]
    if queries is None:
        args = ["report", os.path.join(data_dir, "edges.txt"), gen.REPORT_TIMESTAMP]
    else:
        args = ["queries", data_dir, ",".join(queries)]
    args = ["run", args[0], args[1], str(seconds), str(trace), str(seed), args[2],
            out_json, trace_json]
    setups.append(jvm(args, f"{tag}.log"))
    with open(out_json) as f:
        run = json.load(f)
    checks = expected_results(workload, seed, data_dir)
    execs = run["execs"]
    for e in execs:
        e["correct"] = e["ok"] and checks[e["name"]](e["result"])
    failed = sum(not e["correct"] for e in execs)
    timed = [e for e in execs if e["correct"] and e["pass"] > 0]
    untraced = [e for e in timed if not e["traced"]]
    traced = [e for e in timed if e["traced"]]
    per_pass = len(queries or [None])

    summary = {"attempted": len(execs), "failed": failed,
               "setup_samples_s": setups, "edge_rows": edge_rows,
               "cores": run["cores"]}
    metrics, raw = {}, {}
    if untraced and trace:
        metrics = layer_metrics(run, traced or untraced, untraced)
        metrics["run.failed_ratio"] = (failed / len(execs), "fraction")
    elif untraced:
        metrics, raw = end_to_end(run, untraced, per_pass, edge_rows, setups)
        raw["failed_ratio"] = (failed / len(execs), "fraction")
    report = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "summary": summary,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "raw": {k: {"value": v, "unit": u} for k, (v, u) in raw.items()},
              "latency": latency(untraced), "run": run}
    with open(os.path.join(WORK, f"{tag}.result.json"), "w") as f:
        json.dump(report, f, indent=1)
    return report


def per_query_median(execs, value):
    by = {}
    for e in execs:
        by.setdefault(e["name"], []).append(value(e))
    return {q: statistics.median(v) for q, v in by.items()}


def pass_reference(run):
    """Pass -> the mean of the two reference timings that bracket it, the
    one after the pass before and the one after the pass itself. One
    timing is noisier than a pass; two, taken on either side of it, follow
    the host's speed during the pass more closely."""
    ref = dict(run["reference_s"])
    return {p: (ref[p - 1] + ref[p]) / 2 for p in ref if p - 1 in ref}


def end_to_end(run, execs, per_pass, edge_rows, setups):
    """One pass, each execution at its median over the run's passes, in
    units of the reference job timed around that pass (`*_ref`), and in
    seconds (`*_s`, reported but not bounded: on a shared host they drift
    with its speed). Dividing pass by pass also cancels the JIT warm-up
    that the engine and the reference still share in the first timed
    passes."""
    ref = dict(run["reference_s"])
    around = pass_reference(run)
    wall = per_query_median(execs, lambda e: e["wall_ns"] / 1e9)
    rel = per_query_median(execs, lambda e: e["wall_ns"] / 1e9 / around[e["pass"]])
    cpu = per_query_median(execs, lambda e: e["cpu_ns"] / 1e9)
    return {
        "wall_ref": (sum(rel.values()), "ref"),
        "query_geomean_ref": (stats.geomean(rel.values()), "ref"),
        "edges_per_ref": (edge_rows * per_pass / sum(rel.values()), "edges/ref"),
        "setup_s": (statistics.median(setups), "s"),
    }, {
        "wall_s": (sum(wall.values()), "s"),
        "query_geomean_s": (stats.geomean(wall.values()), "s"),
        "edges_per_s": (edge_rows * per_pass / sum(wall.values()), "edges/s"),
        "cpu_s": (sum(cpu.values()), "s"),
        "reference_s": (statistics.median(ref[p] for p in {e["pass"] for e in execs}), "s"),
    }


def latency(execs):
    """Per-query median and highest supported percentile of execution time."""
    out = {}
    for q in sorted({e["name"] for e in execs}):
        xs = [e["wall_ns"] / 1e9 for e in execs if e["name"] == q]
        t = stats.tail(xs)
        out[q] = {"n": len(xs), "p50_s": statistics.median(xs),
                  "tail": None if t is None else {"p": t[0], "s": t[1]}}
    return out


def top30_ms(e):
    """The report's time up to the end of its last Spark job, the top-30
    collect; the rest of the execution formats and writes the report."""
    if e["name"] != "citation_report" or not e["job_spans_epoch_ms"]:
        return 0.0
    last = max(f for _, f in e["job_spans_epoch_ms"])
    return min(max(last - e["start_epoch_ms"], 0.0), e["wall_ns"] / 1e6)


def layer_metrics(run, traced, untraced):
    """Per-pass totals over the traced passes (median across passes), plus
    ratios measured where the work happens."""
    passes = sorted({e["pass"] for e in traced})
    around = pass_reference(run)

    def per_pass(fn):
        return statistics.median(sum(fn(e) for e in traced if e["pass"] == p)
                                 for p in passes)

    def pass_refs(execs):
        """Median pass time in units of the reference job around it."""
        return statistics.median(
            sum(e["wall_ns"] for e in execs if e["pass"] == p) / 1e9 / around[p]
            for p in sorted({e["pass"] for e in execs}))

    def report_ms(e):
        return e["wall_ns"] / 1e6 if e["name"] == "citation_report" else 0.0

    mb = 1e6
    stages = [n for e in traced for n in e["tasks_per_stage"]]
    run_ms = sum(e["executor_run_ms"] for e in traced)
    wall_ms = sum(e["wall_ns"] for e in traced) / 1e6
    m = {
        "sources.input_mb": (per_pass(lambda e: e["scan_file_bytes"]) / mb, "MB"),
        "sources.input_rows": (per_pass(lambda e: e["scan_rows"]), "count"),
        "sources.scan_task_ms": (per_pass(lambda e: e["scan_task_ms"]), "ms"),
        "operators.build_s": (per_pass(lambda e: e["build_ns"]) / 1e9, "s"),
        "operators.action_s": (per_pass(lambda e: e["action_ns"]) / 1e9, "s"),
        "blocks.checkpoint_rdds": (per_pass(lambda e: e["checkpoint_rdds"]), "count"),
        "blocks.peak_storage_mb": (max(e["peak_storage_bytes"] for e in traced) / mb, "MB"),
        "blocks.sweep_s": (per_pass(lambda e: e["sweep_ns"]) / 1e9, "s"),
        "plans.sql_executions": (per_pass(lambda e: sum(e["sql_actions"].values())), "count"),
        "plans.planning_ms": (per_pass(lambda e: e["planning_ms"]), "ms"),
        "exec.jobs": (per_pass(lambda e: e["jobs"]), "count"),
        "exec.stages": (per_pass(lambda e: e["stages"]), "count"),
        "exec.tasks": (per_pass(lambda e: e["tasks"]), "count"),
        "exec.tasks_per_stage_p50": (statistics.median(stages) if stages else 0, "count"),
        "exec.executor_run_ms": (per_pass(lambda e: e["executor_run_ms"]), "ms"),
        "exec.executor_cpu_ms": (per_pass(lambda e: e["executor_cpu_ms"]), "ms"),
        "exec.shuffle_read_mb": (per_pass(lambda e: e["shuffle_read_bytes"]) / mb, "MB"),
        "exec.shuffle_write_mb": (per_pass(lambda e: e["shuffle_write_bytes"]) / mb, "MB"),
        "exec.spill_mb": (per_pass(lambda e: e["spill_bytes"]) / mb, "MB"),
        "exec.gc_ms": (per_pass(lambda e: e["gc_ms"]), "ms"),
        "exec.effective_parallelism": (
            stats.effective_parallelism(run_ms, wall_ms, run["cores"]), "ratio"),
        "exec.driver_gap_ms": (per_pass(lambda e: stats.uncovered_ms(
            e["start_epoch_ms"], e["start_epoch_ms"] + e["wall_ns"] / 1e6,
            e["job_spans_epoch_ms"])), "ms"),
        "jvm.heap_after_gc_mb": (max(e["heap_after_sweep_bytes"] for e in traced) / mb, "MB"),
        "report.top30_s": (per_pass(top30_ms) / 1e3, "s"),
        "report.format_write_s": (per_pass(lambda e: report_ms(e) - top30_ms(e)) / 1e3, "s"),
        "calib.effective_cores": (run["calib_cpu_ms"] / run["calib_wall_ms"], "cores"),
        "host.reference_s": (statistics.median(t for p, t in run["reference_s"] if p > 0), "s"),
        "host.loadavg_1m": (statistics.median(e["loadavg"] for e in traced), "load"),
        "setup.warmup_pass_s": (run["warmup_passes_s"][0], "s"),
        "trace.overhead_ratio": (pass_refs(traced) / pass_refs(untraced) - 1, "fraction"),
    }
    return m


def show(report):
    w = report["workload"]
    s = report["summary"]
    print(f"# {w} seed={report['seed']} trace={report['trace']} cores={s['cores']} "
          f"attempted={s['attempted']} failed={s['failed']}")
    for k, v in {**report["metrics"], **report["raw"]}.items():
        print(f"{w:16s} {k:28s} {v['value']:14.6g} {v['unit']}")
    if not report["trace"]:
        for q, l in report["latency"].items():
            t = l["tail"]
            tail = f"p{t['p']:g}={t['s']:.4f}s" if t else "no tail (n<20)"
            print(f"{w:16s} latency {q:28s} n={l['n']:3d} p50={l['p50_s']:.4f}s {tail}")


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    reports = [run_workload(w, a.seed, a.seconds, a.trace) for w in names]
    for r in reports:
        show(r)
    attempted = sum(r["summary"]["attempted"] for r in reports)
    failed = sum(r["summary"]["failed"] for r in reports)
    metrics = {(k if len(reports) == 1 else f"{r['workload']}/{k}"): v
               for r in reports for k, v in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
