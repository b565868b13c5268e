from __future__ import annotations

import pytest
from pyspark import SparkContext

from whiterrabbit_spark.cache import cache_scope
from whiterrabbit_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wrs-tests", cpus=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def persisted_rdd_ids() -> set[int]:
    """Ids of the RDDs the running SparkContext holds persisted."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return set()
    return {int(i) for i in sc._jsc.getPersistentRDDs().keys()}


@pytest.fixture(autouse=True)
def cache_leak_gate():
    """Run every test inside one cache_scope and fail it when a persisted
    RDD created during the test outlives that scope. RDD ids only grow,
    so pins made earlier — by module or session fixtures, which set up
    before this fixture — stay out of the check."""
    sc = SparkContext._active_spark_context
    first_id = sc._jsc.emptyRDD().id() if sc is not None else 0
    with cache_scope():
        yield
    leaked = sorted(i for i in persisted_rdd_ids() if i > first_id)
    assert not leaked, f"persisted RDDs {leaked} outlived the test's cache_scope"
