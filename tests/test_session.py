"""The session factory's settings that change how PySpark behaves."""

import pytest


def test_call_site_capture_off_errors_still_name_column(spark):
    """DataFrame call-site capture is off in a get_spark session, and an
    analysis error still names the missing column."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select("no_such_column").collect()
