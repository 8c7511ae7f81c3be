#!/usr/bin/env python3
"""Physical-plan audit of the driver window: for every query in the
50-slot window (plus any names passed as arguments), count the plan
features that decide 100 TB behavior — exchanges, broadcast vs
sort-merge joins, Python eval nodes, TakeOrdered, cartesian
products — and flag the anti-patterns (row-at-a-time Python in a
non-decode query, a cartesian product that isn't a 1-row broadcast
anchor, a global Sort where a TakeOrdered should be).

Driver-recurrence queries (bounded-contract ``.collect()`` /
``.count()`` / ``.first()`` during plan CONSTRUCTION, e.g. q355's
duel matrix or q278's month series) are audited through an action
intercept: every DataFrame action invoked while the query builder
runs has its executed plan captured and merged into the query's
counts, so the real distributed work is visible — previously those
rows showed the all-zero plan of the final ``createDataFrame`` and
a forced broadcast in the pre-collect stage could hide (round-8
verdict #3/#4). The ``action_plans`` column counts the captured
pre-action plans (0 = fully lazy query).

Usage: python tools/plan_audit.py [query ...]
Writes PLAN_AUDIT.md and prints one JSON summary line.
``--all`` audits the ENTIRE catalog instead of the 50-query window
and writes PLAN_AUDIT_FULL.md (the window file stays the driver
contract).

This complements tests/test_scale_plans.py (targeted assertions)
with a whole-window inventory the round reviewer can diff.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

MARKERS = {
    "scans": "Scan parquet",
    "exchanges": "Exchange hashpartitioning",
    "broadcasts": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "bnl": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "take_ordered": "TakeOrderedAndProject",
    "global_sort": "Sort [",
    "py_eval": "EvalPython",
    "map_in_pandas": "MapInPandas",
}

ACTIONS = ("collect", "count", "first", "take", "head", "toPandas")


@contextlib.contextmanager
def capture_action_plans(captured: list):
    """Patch DataFrame actions so each invocation first records the
    executed-plan string of the frame being acted on. The action
    still runs (driver recurrences need their inputs), so this is
    an observe-only wrapper.

    Re-entrancy guard (round-11): the patched actions CALL each
    other — ``first()`` → ``head()`` → ``take()`` → ``collect()`` —
    so without suppression one logical action recorded the same
    plan up to five times, inflating every merged count (q274's
    single count_wedges job read as 5 action plans). Only the
    OUTERMOST patched call records; genuinely separate actions
    (the recompute pattern this audit exists to catch) still record
    once each."""
    # Patch the CONCRETE runtime class: in PySpark 4 the public
    # pyspark.sql.DataFrame is an abstract facade whose methods the
    # classic DataFrame overrides, so patching the facade intercepts
    # nothing.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older PySpark
        from pyspark.sql import DataFrame

    originals = {a: getattr(DataFrame, a) for a in ACTIONS}
    depth = {"n": 0}

    def wrap(name, orig):
        def wrapped(self, *args, **kwargs):
            if depth["n"] == 0:
                try:
                    captured.append(
                        self._jdf.queryExecution().executedPlan().toString()
                    )
                except Exception:
                    pass
            depth["n"] += 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth["n"] -= 1

        return wrapped

    for a, orig in originals.items():
        setattr(DataFrame, a, wrap(a, orig))
    try:
        yield
    finally:
        for a, orig in originals.items():
            setattr(DataFrame, a, orig)


def main() -> None:
    from car_insurance_data_pipeline_spark_spark.plans.catalog import (
        all_queries,
    )
    from car_insurance_data_pipeline_spark_spark.session import get_session

    spark = get_session(app_name="plan-audit")
    qs = all_queries()
    full = "--all" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if a != "--all"]
    names = args or (list(qs) if full else list(qs)[:50])
    # explicit names audit a SUBSET: never clobber the window or
    # whole-catalog artifacts with a partial table
    partial = bool(args)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    rows = []
    for name in names:
        pre: list[str] = []
        try:
            with capture_action_plans(pre):
                final = (
                    qs[name](spark, sf)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
            plans = pre + [final]
            counts = {
                k: sum(p.count(v) for p in plans)
                for k, v in MARKERS.items()
            }
            counts["action_plans"] = len(pre)
            counts["name"] = name
            rows.append(counts)
        except Exception as ex:  # streaming queries execute eagerly etc.
            rows.append({"name": name, "error": str(ex)[:120]})
    title = (
        "# PLAN_AUDIT_PARTIAL — ad-hoc query subset"
        if partial
        else "# PLAN_AUDIT_FULL — whole-catalog physical plans"
        if full
        else "# PLAN_AUDIT — driver-window physical plans"
    )
    out = [title,
           "",
           f"sf_dir: {sf}. Counts of plan nodes per query; `py_eval`",
           "is expected ONLY on the mapInPandas decode/Pandas queries,",
           "`cartesian`/`bnl` only as bounded broadcast anchors —",
           "since round 10 this is MEASURED, not asserted: every",
           "nested-loop build side is row-counted at two SFs by",
           "tools/scale_audit.py (BNL_AUDIT.md, guarded by",
           "tests/test_bnl_guard.py). `global_sort` on the statistics queries is",
           "the HISTOGRAM-SUBSTRATE window sort: it orders the",
           "aggregated distinct-value histogram (value-domain-bound,",
           "never the corpus — see statsops.py module docstring), not",
           "per-row data. `action_plans` counts the pre-action",
           "distributed plans captured for driver-recurrence queries",
           "(their node counts are MERGED into the row), so bounded",
           "`.collect()` work is audited, not hidden behind the final",
           "`createDataFrame`.",
           "",
           "| query | scans | exchanges | bcast | smj | bnl |"
           " cartesian | take_ordered | global_sort | py_eval |"
           " mapInPandas | action_plans |",
           "|---|---|---|---|---|---|---|---|---|---|---|---|"]
    for r in rows:
        if "error" in r:
            out.append(f"| {r['name']} | (eager/streaming: not"
                       f" plan-auditable statically) |||||||||||")
            continue
        out.append(
            "| {name} | {scans} | {exchanges} | {broadcasts} | {smj} |"
            " {bnl} | {cartesian} | {take_ordered} | {global_sort} |"
            " {py_eval} | {map_in_pandas} | {action_plans} |".format(**r)
        )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fname = (
        "PLAN_AUDIT_PARTIAL.md"
        if partial
        else "PLAN_AUDIT_FULL.md"
        if full
        else "PLAN_AUDIT.md"
    )
    with open(os.path.join(repo, fname), "w") as f:
        f.write("\n".join(out) + "\n")
    audited = [r for r in rows if "error" not in r]
    summary = {
        "metric": "plan_audit",
        "n_queries": len(rows),
        "n_audited": len(audited),
        "total_exchanges": sum(r["exchanges"] for r in audited),
        "queries_with_py_eval": [
            r["name"] for r in audited if r["py_eval"] > 0
        ],
        "queries_with_map_in_pandas": [
            r["name"] for r in audited if r["map_in_pandas"] > 0
        ],
        "queries_with_cartesian": [
            r["name"] for r in audited if r["cartesian"] > 0
        ],
        "queries_with_action_plans": [
            r["name"] for r in audited if r["action_plans"] > 0
        ],
        "detail": fname,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
