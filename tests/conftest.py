from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def stamp_batch(path, i: int) -> None:
    """Give micro-batch file ``i`` of a streaming feed the mtime
    1_700_000_000 + i s. The file source replays files in mtime order at
    ms resolution, and files written within one ms replay in directory
    listing order, which can put a later batch first and break a keyed
    twin's per-key event-time order."""
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


@pytest.fixture(scope="session")
def spark():
    from flink_tornadovm_artifact_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield spark
