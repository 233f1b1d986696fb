from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests belong to: its modules are the ones imported,
# and subprocesses run from it
REPO_ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO_ROOT)

from polars_genson_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pgs-tests", master="local[4]", shuffle_partitions=4)
    yield s


def make_json_df(spark, docs: list[str | None], column: str = "json_data"):
    return spark.createDataFrame([(d,) for d in docs], f"{column} string")


def jobs_in(spark, group: str, fn):
    """``(fn(), number of Spark jobs fn submitted)``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def persisted_rdd_ids(spark) -> set[int]:
    # compare ids, not counts: Spark holds persisted RDDs weakly, so JVM
    # GC can drop ones that earlier tests left unreferenced mid-test
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
