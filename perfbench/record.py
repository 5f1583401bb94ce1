#!/usr/bin/env python3
"""Records the expected query checksums the benchmark checks against.

    python3 perfbench/record.py

For every table variant it runs each query workload's queries twice in one
JVM (two orders) at the machine's core count and twice more at two cores,
and writes ``perfbench/expected_checksums.json``. A query whose checksum is
not the same in all four executions of every variant (for example a
floating-point sum whose order follows the partitioning) is listed under
``rows_only`` and is checked by its row count alone.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def results(data_dir, queries, cores, tag):
    out = os.path.join(run.WORK, f"record-{tag}.json")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    run.jvm(["run", "queries", data_dir, "0", "0", "1", ",".join(queries), out,
             out + ".spans"], f"record-{tag}.log")
    with open(out) as f:
        execs = json.load(f)["execs"]
    bad = [e for e in execs if not e["ok"]]
    if bad:
        run.fail(f"{bad[0]['name']} failed: {bad[0]['error']}")
    return [(e["name"], e["result"]) for e in execs]


def main():
    run.ensure_build()
    queries = sorted({q for qs in run.WORKLOADS.values() if qs for q in qs})
    variants, unstable = {}, set()
    for v in range(run.DATA_VARIANTS):
        data_dir, _ = run.make_inputs("graph_mix", v)
        seen = {}
        for cores in (os.cpu_count(), 2):
            for name, result in results(data_dir, queries, cores, f"{v}-{cores}"):
                seen.setdefault(name, set()).add(result)
        variants[str(v)] = {q: min(rs) for q, rs in seen.items()}
        unstable |= {q for q, rs in seen.items()
                     if len({r.split(":")[1] for r in rs}) == 1 and len(rs) > 1}
        if any(len({r.split(":")[1] for r in rs}) > 1 for rs in seen.values()):
            run.fail(f"row counts differ between runs on variant {v}: {seen}")
        print(f"variant {v}: {variants[str(v)]}", flush=True)
    doc = {"queries": queries, "table_scale": run.TABLE_SCALE,
           "rows_only": sorted(unstable), "variants": variants}
    with open(run.EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
