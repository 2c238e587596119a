"""get_spark() must never rewrite a running session's confs: getOrCreate
re-applies builder SQL confs to an existing session at runtime, which
once raised the shared test session's shuffle.partitions from 4 to 32
and made width-asserting tests fail depending on test order."""

from __future__ import annotations

import pytest

from shortvideohybridanalyticslakehouse_spark.session import get_spark


def test_running_session_survives_get_spark(spark):
    before = spark.conf.getAll
    with pytest.raises(RuntimeError, match="spark.sql.shuffle.partitions"):
        get_spark(shuffle_partitions=32)
    assert spark.conf.getAll == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_get_spark_with_same_confs_reuses_session(spark):
    assert get_spark("svh-tests", master="local[4]", shuffle_partitions=4) is spark
