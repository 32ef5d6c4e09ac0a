"""get_spark on a live session: only explicit settings change it."""

from __future__ import annotations

from sagan_spark.session import get_spark


def test_get_spark_keeps_live_session_conf(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        assert get_spark().conf.get(key) == "8"  # no default pushed in
        assert get_spark(shuffle_partitions=5).conf.get(key) == "5"  # explicit wins
    finally:
        spark.conf.set(key, saved)
