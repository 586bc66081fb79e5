from __future__ import annotations

import pytest

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("d365-spark-tests", cpus="8")
    yield spark
    spark.stop()
