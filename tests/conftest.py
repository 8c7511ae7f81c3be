from __future__ import annotations

import importlib.util
import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries where a corpus-scaling broadcast has actually shipped (and
# been removed) — pinned forever regardless of window rotation.
_HAZARD_HISTORY = ["q317_nb_langid", "q355_bradley_terry"]

# The catalog's densest BNL users (PLAN_AUDIT_FULL round-9: q281
# fk-inference shows 24 BNL nodes, q293/q223 six each) plus q38,
# the one live ``!=``-condition BNL — pinned regardless of window
# rotation so the heaviest shapes never rotate out of CI.
_DENSE_BNL = [
    "q281_fk_inference",
    "q293_kendall_tau",
    "q223_mutual_information",
    "q38_cosine_topk",
    # the two shapes the first full sweep could NOT attribute (now
    # covered: NOT-group stripping / the hinted-constant-key
    # whitelist) — pinned so neither coverage fix can regress
    "q339_hoeffding_d",
    "q305_sprt_monitor",
]


@pytest.fixture(scope="session")
def spark():
    from car_insurance_data_pipeline_spark_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session(app_name="engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # Correctness fixtures: same scale the driver uses for the gate.
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_CORRECT)


@pytest.fixture(scope="session")
def window_sweep(spark):
    """One tools/scale_audit.py sweep over the 50-slot driver window
    (the first 50 catalog entries; the window rotates, so coverage
    accumulates round over round) plus the pinned hazard and dense-BNL
    queries. Each query is built once per probe SF; the broadcast
    guard and the BNL guard both read this one result."""
    from car_insurance_data_pipeline_spark_spark.plans.catalog import specs

    spec = importlib.util.spec_from_file_location(
        "scale_audit", os.path.join(_REPO, "tools", "scale_audit.py")
    )
    sa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sa)
    names = list(specs())[:50]
    names += [n for n in _HAZARD_HISTORY + _DENSE_BNL if n not in names]
    return sa.run_sweep(spark, names)


@pytest.fixture
def reliable_checkpoint_dir(spark, tmp_path):
    """Set a checkpoint dir for one test, so ``session.checkpoint``
    writes reliable files under it; cleared afterwards so later tests
    see the no-dir (executor-local) default again."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckdir))
    try:
        yield ckdir
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
