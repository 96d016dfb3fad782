import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # Smaller parallelism for test speed; the engine config is identical.
    # SPARK_GRAFT_CPUS sets the core count (the tier-1 command passes the
    # host's): each core can hold Python workers of ~130 MB next to the
    # 12g JVM, so more threads than cores can exhaust a 16 GB host.
    cpus = int(os.environ.setdefault("SPARK_GRAFT_CPUS", "8"))
    # one JVM serves the whole ~190-test session: a little extra heap on
    # top of the engine's pinned 10g absorbs the session-long tail of
    # uncollected localCheckpoint blocks (12g stays well below the
    # known-bad 24g+ allocation-collapse regime)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    from nominatim_spark.session import get_spark

    s = get_spark("nominatim_spark_tests", cpus=cpus, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_between_modules():
    """Module fixtures persist index tables and never unpersist; across
    ~20 modules in one session the accumulated cache + localCheckpoint
    blocks crowd the pinned 10g heap.  Clearing between modules keeps
    the peak flat (later lazy references simply recompute)."""
    yield
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.catalog.clearCache()
            s.sparkContext._jvm.System.gc()
    except Exception:
        pass
