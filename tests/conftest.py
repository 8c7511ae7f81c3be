from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


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
