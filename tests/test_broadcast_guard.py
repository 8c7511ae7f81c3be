"""Broadcast-size invariant (round-8 verdict #3): no F.broadcast()
input anywhere in the engine may grow with corpus rows. A forced
broadcast of a corpus-row-sized frame is a guaranteed 100 TB OOM —
the class hit twice in round 8 (q355's part hint, removed; q317's
doc_id→lang map, removed in round 9).

The guard is DYNAMIC, in the spirit of
test_dedup_candidates_have_no_posting_arrays: tools/scale_audit.py
intercepts every ``F.broadcast(...)`` call while building queries at
sf0.01 AND sf0.1 (most fixture tables grow 10× between the two;
embeddings grows 4× — which sets the tool's growth limit), counts
each hinted frame at both scales, and fails any site whose row
count tracks the corpus growth. Dimension frames
stay flat; model/vocabulary frames grow sublinearly (Heaps law);
only a corpus-scaling frame rides the full 10×.

Scope: the 50-slot driver window plus the historical-hazard queries
pinned explicitly, swept once by the ``window_sweep`` fixture in
tests/conftest.py (tests/test_bnl_guard.py reads the same sweep).
This file also holds the broadcast-specific self-test and the
spelling gate the intercept relies on. The exhaustive whole-catalog
sweep is tools/scale_audit.py → BROADCAST_AUDIT.md, regenerated each
round.
"""

from __future__ import annotations

import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_audit_tool():
    spec = importlib.util.spec_from_file_location(
        "scale_audit", os.path.join(_REPO, "tools", "scale_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_window_has_no_corpus_scaling_broadcasts(window_sweep):
    sa = _load_audit_tool()
    # Every window query must BUILD at both SFs — a query that errors
    # out of the sweep contributes zero sites and would otherwise be
    # silently unaudited (every catalog query builds cleanly in the
    # full sweep, so any error here is a regression).
    assert not window_sweep.errors, (
        f"window queries failed to build in the sweep: {window_sweep.errors}"
    )
    # The sweep must actually observe hinted frames (q317 alone has
    # five sites); an empty capture means the intercept broke, not
    # that the repo is clean.
    sites = window_sweep.broadcast
    assert len(sites) >= 5, f"broadcast intercept captured too little: {sites}"
    bad = sa.violations_of(sites, "broadcast")
    detail = {k: sites[k]["rows"] for k in bad}
    assert not bad, (
        "corpus-scaling F.broadcast() inputs (rows track the 10x "
        f"fixture growth — 100 TB OOM hazard): {detail}"
    )


def test_guard_catches_a_forced_corpus_broadcast(spark):
    """Mutation self-test: re-introduce the exact q317 bug shape —
    F.broadcast of a one-row-per-document frame — and prove the
    sweep flags it. Guards the guard: if the intercept or the
    violation rule regresses, this fails first."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    sa = _load_audit_tool()

    def bad_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
        return docs.join(F.broadcast(docs.select("doc_id")), "doc_id")

    sweep = sa.run_sweep(spark, names=["bad"], queries={"bad": bad_query})
    assert not sweep.errors
    assert sa.violations_of(sweep.broadcast, "broadcast"), (
        f"guard failed to flag a per-document broadcast: {sweep.broadcast}"
    )


def test_all_broadcast_sites_go_through_the_module_attribute():
    """The dynamic intercept patches pyspark.sql.functions.broadcast,
    which only sees calls spelled F.broadcast(...). Fail if anyone
    introduces a broadcast spelling that dodges the sweep: a direct
    `from pyspark.sql.functions import broadcast` (binds the original
    function before the patch) or a `.hint("broadcast")` string hint
    (never touches the function at all). Matched structurally on
    import lines / hint-call text, not bare substrings, so comments
    quoting the API and non-broadcast hints don't false-positive;
    exotic dodges (getattr(F, "broadcast"), aliasing the module) are
    out of scope — the dynamic window sweep still measures their
    frames whenever they resolve to the module attribute."""
    import re

    pkg = os.path.join(_REPO, "car_insurance_data_pipeline_spark_spark")
    import_re = re.compile(
        r"^\s*from\s+pyspark\.sql\.functions\s+import\s+.*\bbroadcast\b",
        re.MULTILINE,
    )
    hint_re = re.compile(r"\.hint\(\s*[\"\']broadcast[\"\']")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path, encoding="utf-8").read()
            if import_re.search(src) or hint_re.search(src):
                offenders.append(path)
    assert not offenders, (
        "broadcast usage that dodges the dynamic guard (use "
        f"F.broadcast(...) only): {offenders}"
    )
