import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kowari_spark import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app="kowari_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def replay(sf_dir):
    """Run a contract DuckDB replay (an ``__spark_entry__._oracle_*``
    query) as the independent reference for an operator:
    ``replay(sql, documents=pdf)`` registers each keyword frame under
    its table name; every other contract table reads the ``sf_dir``
    parquet file. Returns the result as a pandas frame."""
    import duckdb

    def run(sql, **tables):
        con = duckdb.connect()
        for name in ("documents", "embeddings"):
            if name in tables:
                con.register(name, tables[name])
            else:
                con.execute(
                    f"CREATE VIEW {name} AS "
                    f"SELECT * FROM '{sf_dir}/{name}.parquet'"
                )
        return con.execute(sql).df()

    return run


@pytest.fixture
def each_execution(monkeypatch):
    """``for name in each_execution(): ...`` runs the loop body once per
    execution of a bounded operator: "memory" at the default driver row
    bound, then "distributed" with ``fsutil._DRIVER_MAX_ROWS`` forced
    to 0."""
    from kowari_spark import fsutil

    def run():
        for name in ("memory", "distributed"):
            with monkeypatch.context() as mp:
                if name == "distributed":
                    mp.setattr(fsutil, "_DRIVER_MAX_ROWS", 0)
                yield name

    return run


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), the number of Spark jobs it ran)."""
    import itertools

    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(groups)}"
        sc.setJobGroup(group, "job count probe", interruptOnCancel=False)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
