from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_parent_spark.session import get_spark
from flink_parent_spark.tables import TABLE_NAMES, table_path

SF_DIR = "/root/testdata/sf0.001"  # fast correctness scale for unit tests


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{table_path(SF_DIR, name)}'"
        )
    yield con
    con.close()
