from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = "/root/testdata/sf0.001"


def spark_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (its result, the
    number of Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from itdb_spark.session import get_spark

    s = get_spark("itdb_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck(request):
    import duckdb

    from itdb_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def tracks(spark):
    from itdb_spark.fixtures import make_tracks

    return make_tracks(spark).cache()


@pytest.fixture(scope="session")
def playlists(spark):
    from itdb_spark.fixtures import make_playlists

    return make_playlists(spark).cache()


@pytest.fixture(scope="session")
def playlist_tracks(spark):
    from itdb_spark.fixtures import make_playlist_tracks

    return make_playlist_tracks(spark).cache()
