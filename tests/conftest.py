import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SYNTH_ROOT", "/root/repo/data/synth")


@pytest.fixture(scope="session")
def spark():
    from llm_drift_detector_spark.session import get_spark

    # session defaults: local[$SPARK_GRAFT_CPUS] (local[*] when unset)
    # and the engine's default shuffle partitions
    s = get_spark()
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
