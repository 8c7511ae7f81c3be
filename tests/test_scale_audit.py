"""tools/scale_audit.py measures both executor-wide frame kinds —
F.broadcast inputs (tests/test_broadcast_guard.py) and nested-loop-join
build sides (tests/test_bnl_guard.py) — building each query once per
probe SF. Both guards' driver-window tests read one sweep, the
``window_sweep`` fixture in tests/conftest.py; this file pins the
build-once property itself. The exhaustive whole-catalog sweep is
``python3 tools/scale_audit.py`` → BROADCAST_AUDIT.md + BNL_AUDIT.md,
regenerated each round.
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


def test_each_query_is_built_once_per_scale(spark):
    """The sweep's point: one build per (query, SF) feeds both site
    maps. A query that both hints a broadcast and crossJoins must be
    called exactly twice and show up in both maps, measured at both
    SFs."""
    import pyspark.sql.functions as F

    sa = _load_audit_tool()
    calls = []

    def both(spark, sf_dir):
        calls.append(sf_dir)
        df = spark.range(3)
        return df.crossJoin(F.broadcast(spark.range(2)))

    sweep = sa.run_sweep(spark, names=["both"], queries={"both": both})
    assert not sweep.errors
    assert calls == [sa.SF_SMALL, sa.SF_BIG]
    for sites in (sweep.broadcast, sweep.bnl):
        assert [e["query"] for e in sites.values()] == ["both"], sites
        (ent,) = sites.values()
        assert set(ent["rows"]) == {"sf0.01", "sf0.1"}, ent
    assert list(sweep.plans) == ["both"]
