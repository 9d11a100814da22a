import pytest

from kgcompass_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgcompass-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def cached_rdds(spark):
    """Counts the persistent RDDs that are not local checkpoints. Spark's
    ContextCleaner frees other tests' checkpoint RDDs whenever the driver's
    garbage collector runs, so a count that includes them can drop at any
    time."""

    def count() -> int:
        rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        n = 0
        while rdds.hasNext():
            n += not rdds.next().isLocallyCheckpointed()
        return n

    return count
