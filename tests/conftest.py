import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hadoop_data_lake_spark.core.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s


SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = str(Path(SF_DIR).parent / "sf0.01")

_job_groups = itertools.count()


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_job_groups)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TierSwitch:
    """The driver-tier switch (`core.driver_tier.GENERAL_DRIVER_TIER_ENABLED`)
    for one test, restored by monkeypatch at teardown.

    ``tiers(False)`` turns every driver tier off; ``tiers.on_off(fn)``
    returns ``(fn() with tiers on, fn() with tiers off)`` and leaves the
    tiers on.
    """

    def __init__(self, monkeypatch):
        self._mp = monkeypatch

    def __call__(self, enabled: bool) -> None:
        from hadoop_data_lake_spark.core import driver_tier as DT

        self._mp.setattr(DT, "GENERAL_DRIVER_TIER_ENABLED", enabled)

    def on_off(self, fn):
        self(True)
        on = fn()
        self(False)
        off = fn()
        self(True)
        return on, off


@pytest.fixture()
def tiers(monkeypatch):
    return TierSwitch(monkeypatch)
