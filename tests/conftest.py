from __future__ import annotations

import pytest

from polars_genson_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pgs-tests", master="local[4]", shuffle_partitions=4)
    yield s


def make_json_df(spark, docs: list[str | None], column: str = "json_data"):
    return spark.createDataFrame([(d,) for d in docs], f"{column} string")


def persisted_rdd_ids(spark) -> set[int]:
    # compare ids, not counts: Spark holds persisted RDDs weakly, so JVM
    # GC can drop ones that earlier tests left unreferenced mid-test
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
