from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from datafusion_distributed_experiment_spark import build_session

    spark = build_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="module")
def private_warehouse(tmp_path_factory):
    """Persisted-index writes of one test module go to a private directory,
    never the warehouse the oracle tests read."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path_factory.mktemp("warehouse")))
        yield


@pytest.fixture(scope="session")
def engine(spark):
    from datafusion_distributed_experiment_spark import Engine

    eng = Engine(spark)
    eng.register_sf_dir(SF_DIR)
    return eng


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con
