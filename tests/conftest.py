import os

# one BLAS thread, in this process too: set before pyspark pulls in NumPy,
# whose OpenBLAS reads these once at load
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

import pytest  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture
def fail_at(monkeypatch):
    """Inject a crash: ``fail_at(owner, "name", call=n)`` makes the
    n-th call of ``owner.name`` raise OSError; every other call runs
    the real function."""

    def patch(owner, name, call=1):
        real = getattr(owner, name)
        calls = [0]

        def wrapper(*args, **kwargs):
            calls[0] += 1
            if calls[0] == call:
                raise OSError(f"injected failure in {name}")
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    return patch


@pytest.fixture
def raw_graph_plans(monkeypatch):
    """Make the graph-analytics queries return their plan unmaterialized
    (``kg_sql._materialize_release`` passes its input through), so a test
    can inspect the plan over the persisted frames; those frames are
    unpersisted at test end."""
    from relation_extraction_transformer_spark.plans import kg_sql as KQ

    handles = []

    def passthrough(df, *persisted):
        handles.extend(persisted)
        return df

    monkeypatch.setattr(KQ, "_materialize_release", passthrough)
    yield
    for h in handles:
        h.unpersist()


def _union_find(edges):
    parent = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for u, v in edges:
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.fixture
def union_find():
    """Pure-Python connected components: ``union_find(edges)`` maps every
    endpoint to the smallest id of its component."""
    return _union_find


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("ret-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
