import os
from contextlib import contextmanager

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # snappier for small test data

from arango_clickhouse_replica_spark.session import get_spark  # noqa: E402

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
# to run the same suite at the driver's correctness scale.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    from arango_clickhouse_replica_spark.sources.tables import TABLES

    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()


@contextmanager
def jobs(spark, group):
    """Collects the ids of the Spark jobs run inside the block."""
    sc, ids = spark.sparkContext, []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def on_py4j_command(spark, monkeypatch, hook):
    """Call ``hook(command)`` before each py4j command the driver sends
    from here on, from any thread, until ``monkeypatch`` undoes it."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counting(command, *a, **kw):
        hook(command)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
