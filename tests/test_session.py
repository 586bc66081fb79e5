"""The engine session's settings: PySpark's per-Column call-site
capture is off in sessions built by ``get_spark``, and ``tune_existing``
(for sessions the engine did not build) leaves that static key alone."""

from __future__ import annotations

from types import SimpleNamespace

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import tune_existing

DEBUGGING_KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_get_spark_turns_off_dataframe_call_site_capture(spark):
    assert spark.conf.get(DEBUGGING_KEY) == "false"


def test_tune_existing_leaves_static_debugging_key_alone(spark):
    keys = []

    def record(key, value):
        keys.append(key)
        spark.conf.set(key, value)

    assert tune_existing(spark) is spark
    proxy = SimpleNamespace(conf=SimpleNamespace(set=record))
    assert tune_existing(proxy) is proxy
    assert keys and DEBUGGING_KEY not in keys
    assert spark.conf.get(DEBUGGING_KEY) == "false"
