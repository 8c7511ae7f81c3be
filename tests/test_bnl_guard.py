"""Nested-loop-join build-side invariant (round-9 verdict #3): the
PLAN_AUDIT contract "cartesian/bnl only as 1-row broadcast anchors"
was comment-adjudicated — 73 catalog queries showed ``bnl > 0`` with
nothing measuring their build sides. This guard is the broadcast
guard's sibling: it intercepts every ``crossJoin`` / condition-less
/ non-equi ``join`` while building the driver-window queries at
sf0.01 AND sf0.1, row-counts the build-eligible side at both
scales, and fails any site whose build side tracks corpus growth (a
BNL materializes its whole build side on every executor — the same
100 TB OOM class as a forced corpus broadcast). A plan-level
coverage cross-check flags any BNL node the API intercept did not
see (UNATTRIBUTED), so a join shape outside the detector can't
silently skip measurement.

The measuring is done by tools/scale_audit.py. Scope: the 50-slot
driver window plus the densest-BNL queries pinned explicitly, swept
once by the ``window_sweep`` fixture in tests/conftest.py
(tests/test_broadcast_guard.py reads the same sweep). This file also
holds the BNL-specific self-tests and negative controls, the
whitelist logic, and the checks of the live whitelists against the
committed artifacts. The exhaustive whole-catalog sweep is
tools/scale_audit.py → BNL_AUDIT.md, regenerated each round.
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


def test_driver_window_has_no_corpus_scaling_bnl_builds(window_sweep):
    sa = _load_audit_tool()
    assert not window_sweep.errors, (
        f"window queries failed to build in the sweep: {window_sweep.errors}"
    )
    # The intercept must actually observe builds — the round-10
    # window's own anchors (q368's 1-row total, q369's rater-count
    # grid chain) plus the pinned dense-BNL set (q281 records three
    # sites alone) guarantee well over four; an empty-ish capture
    # means the intercept broke, not that the repo is clean.
    sites = window_sweep.bnl
    assert len(sites) >= 4, f"bnl intercept captured too little: {sites}"
    bad = sa.violations_of(sites, "bnl", window_sweep.broadcast)
    detail = {k: sites[k]["rows"] or "unattributed" for k in bad}
    assert not bad, (
        "nested-loop build sides that track the 10x fixture growth "
        f"(100 TB OOM hazard) or unattributed BNL nodes: {detail}"
    )


def test_guard_catches_a_corpus_sized_cross_build(spark):
    """Mutation self-test: crossJoin a corpus-scaling frame onto a
    corpus-scaling frame (the exact shape the contract forbids) and
    prove the sweep flags it. Guards the guard: if the crossJoin
    intercept, the side-count logic, or the violation rule
    regresses, this fails first."""
    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def bad_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id")
        return docs.crossJoin(docs.selectExpr("doc_id AS other_id"))

    sweep = ba.run_sweep(
        spark, names=["bad"], queries={"bad": bad_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    assert ba.violations_of(sites, "bnl"), (
        f"guard failed to flag a corpus x corpus cross build: {sites}"
    )


def test_guard_catches_a_growing_non_equi_build(spark):
    """Second mutation: the ``!=``-join shape (q38's live BNL form)
    with a corpus-scaling right side under a left join, where the
    build side is mandatory-right. Proves the non-equi detector and
    the join-type build-side rule both participate in the flag."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def bad_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id")
        other = docs.selectExpr("doc_id AS other_id")
        return docs.join(
            other, F.col("doc_id") != F.col("other_id"), "left"
        )

    sweep = ba.run_sweep(
        spark, names=["bad"], queries={"bad": bad_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    assert ba.violations_of(sites, "bnl"), (
        f"guard failed to flag a corpus-sized != build side: {sites}"
    )


def test_guard_passes_a_bounded_anchor(spark):
    """Negative control: the legitimate 1-row-anchor idiom must stay
    clean — a guard that flags everything is as useless as one that
    flags nothing."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def good_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents")
        total = docs.agg(F.count("*").alias("n_total"))
        return docs.crossJoin(total).select("doc_id", "n_total")

    sweep = ba.run_sweep(
        spark, names=["good"], queries={"good": good_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    assert len(sites) == 1
    assert ba.violations_of(sites, "bnl") == []


def test_not_wrapped_condition_is_measured_not_unattributed(spark):
    """q339's live shape: a dominance join whose only equalities sit
    under a NOT (``range & ~(diagonal)``) is non-equi — the detector
    must strip the NOT group, record the join, and MEASURE its build
    side (here bounded, so clean) instead of reporting it through
    the coarser unattributed path."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def dominance_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id").limit(20)
        other = docs.selectExpr("doc_id AS other_id")
        cond = (F.col("other_id") <= F.col("doc_id")) & ~(
            (F.col("doc_id") == F.col("other_id"))
            & (F.col("doc_id") > F.lit(0))
        )
        return docs.join(other, cond, "left")

    sweep = ba.run_sweep(
        spark, names=["dom"], queries={"dom": dominance_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    measured = [
        k for k, e in sites.items() if not e.get("unattributed")
    ]
    assert measured, f"NOT-wrapped non-equi join was not recorded: {sites}"
    assert ba.violations_of(sites, "bnl") == []


def test_unattributed_bnl_is_flagged(spark):
    """Coverage cross-check self-test: a BNL produced by a join
    shape the API detector deliberately misses (equality under OR —
    not hash-joinable, but the text heuristic sees a plain ``=(``)
    must surface as an UNATTRIBUTED violation instead of silently
    skipping measurement."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def sneaky_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id").limit(20)
        other = docs.selectExpr("doc_id AS other_id")
        cond = (F.col("doc_id") == F.col("other_id")) | (
            F.col("doc_id") > F.col("other_id")
        )
        return docs.join(other, cond)

    sweep = ba.run_sweep(
        spark, names=["sneaky"], queries={"sneaky": sneaky_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    bad = ba.violations_of(sites, "bnl")
    assert any("unattributed" in k for k in bad), (
        f"OR-equality BNL was neither measured nor flagged: {sites}"
    )


def test_right_outer_build_side_is_left(spark):
    """For a right-outer BNL only BuildLeft is legal — a bounded
    RIGHT side must not excuse a corpus-scaling LEFT build (the
    mirror image of the left-join rule)."""
    import pyspark.sql.functions as F

    from car_insurance_data_pipeline_spark_spark.plans.catalog import table

    ba = _load_audit_tool()

    def bad_query(spark, sf_dir):
        docs = table(spark, sf_dir, "documents").select("doc_id")
        tiny = docs.limit(3).selectExpr("doc_id AS other_id")
        return docs.join(
            tiny, F.col("doc_id") != F.col("other_id"), "right"
        )

    sweep = ba.run_sweep(
        spark, names=["bad"], queries={"bad": bad_query}
    )
    assert not sweep.errors
    sites = sweep.bnl
    assert ba.violations_of(sites, "bnl"), (
        f"right-outer corpus LEFT build was not flagged: {sites}"
    )


def test_stale_constant_key_whitelist_reflag():
    """The hinted-constant-key waiver must be VERIFIED, not prose:
    classify() resolves the cited (file, query) against the broadcast
    sites the same sweep measured and re-flags the violation when the
    citation is stale (no measured site there / rows above the
    declared cap) — the CAPPED_SITES failure-mode philosophy. No
    Spark needed: pure classify logic over a synthetic unattributed
    entry and synthetic broadcast sites."""
    ba = _load_audit_tool()
    query = "q305_sprt_monitor"
    cited = "car_insurance_data_pipeline_spark_spark/plans/statsops.py"
    ent = {
        f"<unattributed:1-node>|{query}": {
            "site": "<unattributed:1-node>",
            "query": query,
            "rows": {},
            "unattributed": True,
        }
    }

    def hints(*sites):
        return {
            f"{site}|{q}": {"site": site, "query": q, "rows": rows}
            for site, q, rows in sites
        }

    one_row = (f"{cited}:10", query, {"sf0.01": 1, "sf0.1": 1})
    # the live citation resolves against a 1-row measured hint
    assert ba.violations_of(ent, "bnl", hints(one_row)) == []
    # stale: nothing measured in the cited file for this query (the
    # hint moved to another file, or only another query uses it)
    assert ba.violations_of(ent, "bnl", {}), "empty sweep was not re-flagged"
    assert ba.violations_of(
        ent,
        "bnl",
        hints(
            ("car_insurance_data_pipeline_spark_spark/plans/other.py:3",
             query, {"sf0.01": 1, "sf0.1": 1}),
            (f"{cited}:10", "q01_other", {"sf0.01": 1, "sf0.1": 1}),
        ),
    ), "stale citation was not re-flagged"
    # over cap: a second site in the cited file measures more rows
    # than the declared max — the max over matching sites decides
    assert ba.violations_of(
        ent,
        "bnl",
        hints(one_row, (f"{cited}:99", query, {"sf0.01": 2, "sf0.1": 20})),
    ), "over-cap citation was not re-flagged"
    orig = ba.HINTED_CONSTANT_KEY_BNL
    try:
        ba.HINTED_CONSTANT_KEY_BNL = {query: (cited, 0)}
        assert ba.violations_of(ent, "bnl", hints(one_row)), (
            "a cap below the measured rows was not re-flagged"
        )
    finally:
        ba.HINTED_CONSTANT_KEY_BNL = orig


def _committed_rows(artifact: str) -> list[tuple[str, str, int, int]]:
    """(site, query, rows@sf0.01, rows@sf0.1) per table row of a
    committed audit artifact (BROADCAST_AUDIT.md / BNL_AUDIT.md)."""
    rows = []
    with open(os.path.join(_REPO, artifact)) as f:
        for line in f:
            parts = [p.strip() for p in line.strip().strip("|").split("|")]
            if len(parts) < 4:
                continue
            try:
                rows.append((parts[0], parts[1], int(parts[2]), int(parts[3])))
            except ValueError:
                continue  # header / separator / prose
    return rows


def _file_rows(rows, path: str, query: str) -> list[int]:
    """Measured rows (both SFs) of every row for ``query`` whose call
    site lies in ``path``."""
    return [
        n
        for site, q, small, big in rows
        if q == query and site.rsplit(":", 1)[0] == path
        for n in (small, big)
    ]


def test_live_constant_key_whitelist_resolves():
    """Round-11 gate failure, root-caused: the q305 waiver cited
    statsops.py:4394, an edit above the site moved it to :4400, the
    regenerated BROADCAST_AUDIT.md recorded :4400, and the LIVE
    waiver went stale — the guard fired on every machine and the
    driver's ``-x`` run aborted at test 23. Two fixes, both pinned
    here with no Spark session: (1) citations are now FILE-level,
    immune to line drift; (2) every LIVE HINTED_CONSTANT_KEY_BNL
    entry must resolve against the committed BROADCAST_AUDIT.md with
    measured rows within its declared cap, so a future drift fails
    THIS cheap test with a pointed message instead of the expensive
    sweep."""
    ba = _load_audit_tool()
    assert ba.HINTED_CONSTANT_KEY_BNL, "whitelist unexpectedly empty"
    rows = _committed_rows("BROADCAST_AUDIT.md")
    for query, (cited, max_rows) in ba.HINTED_CONSTANT_KEY_BNL.items():
        assert ":" not in os.path.basename(cited), (
            f"{query}: waiver citation {cited!r} is line-keyed — it "
            "will go stale on any edit above the site; cite the file"
        )
        measured = _file_rows(rows, cited, query)
        assert measured, (
            f"{query}: waiver cites {cited!r} but BROADCAST_AUDIT.md "
            "has no row for that (file, query) — regenerate the "
            "audits (tools/scale_audit.py) or fix the citation"
        )
        assert max(measured) <= max_rows, (
            f"{query}: BROADCAST_AUDIT.md measures {max(measured)} rows "
            f"at {cited}, above the declared cap {max_rows}"
        )


def test_live_capped_sites_resolve_against_committed_audit():
    """Same staleness class for CAPPED_SITES: every line-stable
    'file|query' cap must match a row of a committed audit (and the
    measured rows must be within the cap), and no entry may use the
    drift-prone 'file:line' form."""
    ba = _load_audit_tool()
    rows = _committed_rows("BROADCAST_AUDIT.md") + _committed_rows(
        "BNL_AUDIT.md"
    )
    for key, cap in ba.CAPPED_SITES.items():
        assert "|" in key, (
            f"CAPPED_SITES key {key!r} is line-keyed (file:line) — "
            "re-key as 'file|query' so edits above the site can't "
            "stale it"
        )
        measured = _file_rows(rows, *key.split("|", 1))
        assert measured, (
            f"CAPPED_SITES entry {key!r} matches no committed "
            "audit row — stale cap"
        )
        assert max(measured) <= cap, (
            f"{key}: audit measures {max(measured)} rows, above cap {cap}"
        )


def test_coverage_adjudication_staleness_and_escalation():
    """The node>call coverage advisory escalates (round-10 advice):
    coverage_warnings_of must pass a query whose ADJUDICATED_COVERAGE
    entry matches the measured (nodes, calls), flag an unlisted
    query, and re-flag a listed one whose counts changed (the plan
    moved since the spot-check read it). Pure logic, no Spark."""
    ba = _load_audit_tool()
    over = {
        "q252_qq_table": {"bnl_nodes": 4, "recorded_calls": 3},
        "q_unknown": {"bnl_nodes": 2, "recorded_calls": 1},
    }
    warns = ba.coverage_warnings_of(over)
    assert "q252_qq_table" not in warns  # current adjudication
    assert "q_unknown" in warns          # never spot-checked
    # a plan change invalidates the adjudication
    over["q252_qq_table"] = {"bnl_nodes": 6, "recorded_calls": 3}
    assert "q252_qq_table" in ba.coverage_warnings_of(over)


def test_all_advisory_queries_are_adjudicated():
    """Round-11 close state (r10 verdict #5): every query in the
    committed BNL_AUDIT.md coverage advisory carries a CURRENT
    adjudication — the artifact must show zero [WARNING] lines."""
    with open(os.path.join(_REPO, "BNL_AUDIT.md")) as f:
        advisory = f.read().split("## Coverage advisory", 1)[-1]
    assert "[WARNING]" not in advisory, (
        "unadjudicated or stale coverage-advisory entries in "
        "BNL_AUDIT.md — spot-check them and update "
        "ADJUDICATED_COVERAGE"
    )
