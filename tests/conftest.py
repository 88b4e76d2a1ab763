from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from tb_scale_spatial_data_pipeline_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
