import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mxene_coin_cell_data_pipeline_spark import get_spark

    spark = get_spark("mxene-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _dataframe_checkpoints() -> dict:
    """``localCheckpoint`` and ``checkpoint`` of both DataFrame classes
    (Spark 4's classic class overrides the base one)."""
    import pyspark.sql.dataframe as base

    classes = {"pyspark.sql.dataframe.DataFrame": base.DataFrame}
    try:
        import pyspark.sql.classic.dataframe as classic

        classes["pyspark.sql.classic.dataframe.DataFrame"] = classic.DataFrame
    except ImportError:  # Spark 3 has one DataFrame class
        pass
    return {
        f"{name}.{method}": getattr(cls, method)
        for name, cls in classes.items()
        for method in ("localCheckpoint", "checkpoint")
    }


@pytest.fixture(scope="session")
def _checkpoint_originals():
    from mxene_coin_cell_data_pipeline_spark import checkpoint

    return _dataframe_checkpoints(), checkpoint.durable_checkpoint


@pytest.fixture(scope="module", autouse=True)
def _checkpoints_left_unpatched(_checkpoint_originals):
    """Fail the module that leaves a lineage-truncation point patched:
    every later test would run with checkpoints off. ``monkeypatch``
    restores at function teardown, so a test-scoped patch passes."""
    yield
    methods, durable = _checkpoint_originals
    now = _dataframe_checkpoints()
    changed = [k for k, fn in methods.items() if now[k] is not fn]
    changed += [
        f"{name}.durable_checkpoint"
        for name, module in list(sys.modules.items())
        if name.startswith("mxene_coin_cell_data_pipeline_spark.")
        and getattr(module, "durable_checkpoint", durable) is not durable
    ]
    assert not changed, f"left patched after this module: {changed}"
