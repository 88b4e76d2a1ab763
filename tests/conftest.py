from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from tb_scale_spatial_data_pipeline_spark.operators.spread import (
        counted_checkpoint,
    )
    from tb_scale_spatial_data_pipeline_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    # Once a Spark 4.1.2 session has observed a metric, a task closure
    # that captures the session no longer serializes. Observe one here,
    # so every test runs in that state whatever the test order.
    counted_checkpoint(s.range(1))
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from tb_scale_spatial_data_pipeline_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
