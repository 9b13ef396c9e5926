import pytest

from qurio_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="qurio-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},  # stable tiny-test plans
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_worker_provider_cache():
    """providers.worker_shared caches one provider per config key per
    PROCESS — exactly right in an executor worker, but in the test
    process two tests using config-identical providers would share
    breaker state across tests.  Clear it per test."""
    from qurio_spark.functions.providers import _WORKER_PROVIDER_CACHE

    _WORKER_PROVIDER_CACHE.clear()
    yield


@pytest.fixture(scope="module")
def index_registry():
    """The prepared-index registry (qurio_spark.queries.indexes) as it
    was before this module, restored after it: indexes one module
    prepares never move another module's queries off their in-DAG
    builds.  Calling the fixture empties the registry and returns it."""
    from qurio_spark.queries import indexes

    saved = dict(indexes._DIRS), dict(indexes._HANDLES)

    def empty():
        indexes._DIRS.clear()
        indexes._HANDLES.clear()
        return indexes

    yield empty
    empty()
    indexes._DIRS.update(saved[0])
    indexes._HANDLES.update(saved[1])
