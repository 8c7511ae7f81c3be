#!/usr/bin/env python3
"""Isolated per-query timing + plan capture for the optimization
rounds (guide §1: measure first, label jobs, keep before/after
evidence).

Usage:
  python tools/qtime.py [--reps N] [--sf DIR] [--explain-dir DIR]
                        [--suffix _before] [--noop] query [query ...]

For each query name: run ``reps`` timed repetitions (same timed
action as bench.py — ``.count()`` — so numbers are comparable with
BENCH_DETAIL.json; ``--noop`` additionally times a
``write.format("noop")`` pass per guide §1.4, which computes every
column) and print min/median.  With --explain-dir, write
``<dir>/<query><suffix>.txt`` containing ``explain("formatted")``.

Prints one JSON line per query and a final summary line. Each query's
line also carries ``cpu_median_s``: the median over reps of the CPU
seconds the process tree spent in the timed region, split into the
driver (this process), the JVM (the gateway and any launcher shell)
and the Python workers (the worker daemon and the workers it forked),
read from ``/proc`` for this process and its descendants only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_split() -> dict[str, float]:
    """CPU seconds used so far by this process and its descendants,
    per role. Each process counts its own and its reaped children's
    time, so workers the daemon already reaped stay counted."""
    parent, comm, ticks = {}, {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we scanned
            continue
        pid, close = int(entry), stat.rindex(")")
        fields = stat[close + 2 :].split()
        parent[pid] = int(fields[1])
        comm[pid] = stat[stat.index("(") + 1 : close]
        ticks[pid] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    out = {"driver": ticks.get(me, 0), "jvm": 0, "python_workers": 0}
    tree, frontier = {me}, [me]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        for p in kids:
            role = "python_workers" if comm[p].startswith("python") else "jvm"
            out[role] += ticks[p]
        tree.update(kids)
        frontier = kids
    return {k: v / _CLOCK_TICKS for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    from bench import warm_up
    from car_insurance_data_pipeline_spark_spark.plans.catalog import (
        all_queries,
    )
    from car_insurance_data_pipeline_spark_spark.session import (
        get_session,
        release_all,
    )

    spark = get_session(app_name="qtime")
    qs = all_queries()
    warm_up(spark, qs)

    results = {}
    for name in args.queries:
        samples, noop_samples, cpu = [], [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            c0 = tree_cpu_split()
            t0 = time.perf_counter()
            qs[name](spark, args.sf).count()
            samples.append(time.perf_counter() - t0)
            c1 = tree_cpu_split()
            cpu.append({k: c1[k] - c0[k] for k in c1})
            release_all(spark)
            if args.noop:
                t0 = time.perf_counter()
                qs[name](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                noop_samples.append(time.perf_counter() - t0)
                release_all(spark)
            spark.sparkContext.setJobDescription(None)
        row = {
            "query": name,
            "min": round(min(samples), 3),
            "median": round(statistics.median(samples), 3),
            "reps": args.reps,
            "sf": args.sf,
            "cpu_median_s": {
                k: round(statistics.median(c[k] for c in cpu), 3)
                for k in cpu[0]
            },
        }
        if noop_samples:
            row["noop_min"] = round(min(noop_samples), 3)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(
                args.explain_dir, f"{name}{args.suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(txt)
            row["explain"] = path
            release_all(spark)
        print(json.dumps(row), flush=True)
        results[name] = row["min"]
    print(json.dumps({"metric": "qtime_total_min_sec",
                      "value": round(sum(results.values()), 3),
                      "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
