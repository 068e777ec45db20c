"""Settings of the engine's session (``session.get_spark``)."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled


def test_session_captures_no_column_call_sites(spark):
    """PySpark's per-Column call-site capture is off: building a Column
    makes no extra py4j round trips and walks no Python stack."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
