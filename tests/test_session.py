"""The session factory's fixed settings, checked on the shared test
session (building another session here would change its settings for
every later test)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled

from marc_data_migration_spark import feedgen
from marc_data_migration_spark.operators.merge import apply_changes


def test_python_call_site_capture_is_off(spark):
    """Column calls skip the Python call-site capture, which costs about
    ten py4j round trips per call while a batch's plans are built."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_analysis_error_still_names_the_column(spark):
    """Without the call site, an analysis error still says which column
    is missing."""
    base = spark.createDataFrame(feedgen.gen_transcripts(n_convs=3, seed=5))
    changes = spark.createDataFrame(
        feedgen.gen_changes("upsert", n_events=20, n_convs=3, seed=5)
    ).withColumnRenamed("lsn", "seq")
    with pytest.raises(AnalysisException, match="lsn"):
        apply_changes(base, changes)
