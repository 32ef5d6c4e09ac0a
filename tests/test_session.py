"""get_spark on a live session: only explicit settings change it; the
package ships once per SparkContext."""

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


def test_package_ships_once_per_context(spark, monkeypatch):
    """foreachBatch hands every micro-batch a new session object of the same
    SparkContext; the writer it calls must not re-zip and re-add the
    package each time."""
    from sagan_spark import packaging

    added = []
    monkeypatch.setattr(packaging, "_SHIPPED_CONTEXTS", set())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", added.append)
    for session in (spark, spark.newSession(), spark.newSession()):
        packaging.ensure_shipped(session)
    assert len(added) == 1
