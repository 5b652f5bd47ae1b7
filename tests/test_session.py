"""Session setup at the read boundary (``session.read_table``)."""

from __future__ import annotations

import pyspark.errors.utils as eu

from kafka_connect_bigquery_spark.session import read_table

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_read_table_turns_dataframe_debugging_off(spark, sf_dir):
    """PySpark's per-call DataFrame debugging is off in a session that
    went through ``read_table``, and the cut takes effect although
    PySpark had already cached the flag as on (the driver harness's
    plain session warms it before its first read)."""
    session = spark.newSession()
    eu._enable_debugging_cache = True
    read_table(session, sf_dir, "region")
    assert session.conf.get(DEBUG_CONF) == "false"
    assert eu.is_debugging_enabled() is False
