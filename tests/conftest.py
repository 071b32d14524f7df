import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
pytest.register_assert_rewrite("oracle_parity")

from nlp_data_pipeline_spark.session import get_spark
from nlp_data_pipeline_spark.sources.catalog import TABLE_NAMES
from oracle_parity import OracleCheck

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def oracle_check(spark, sf_dir, duck):
    """The shared DuckDB parity check, ``oracle_check(query_name)``."""
    return OracleCheck(spark, sf_dir, duck)
