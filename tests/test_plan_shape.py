"""Physical-plan shape assertions (SURVEY §4.1 "verified targets"):
the optimizations we rely on at 100 TB must be visible in explain output,
not just hoped for."""

from __future__ import annotations

import re

import pytest

from sagan_spark.engine import pipeline
from sagan_spark.rules.canonical import CANONICAL


def _explain(spark, alerts, mode: str = "formatted") -> str:
    return alerts._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _plans(spark, tiny_path) -> tuple[str, str]:
    """(formatted, simple) explain of the batch plan."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.read.parquet(tiny_path)
        alerts = pipeline.build_alerts(spark, df, CANONICAL)
        return _explain(spark, alerts), _explain(spark, alerts, "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.fixture(scope="module")
def plan(spark, tiny_path) -> str:
    # AQE's pre-execution explain hides exchange/codegen details behind
    # isFinalPlan=false; disable it while capturing the assertable plan
    return _plans(spark, tiny_path)[0]


@pytest.fixture(scope="module")
def plan_simple(spark, tiny_path) -> str:
    return _plans(spark, tiny_path)[1]


def test_scan_prunes_columns(plan):
    # every parquet scan must read only the 6 transcript columns
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"conv_id", "turn_idx", "role", "text", "tool", "ts"}, cols


def test_fused_default_scans_input_once(plan_simple):
    # the 100-TB invariant: the default plan reads the input EXACTLY once
    assert plan_simple.count("Scan parquet") == 1, "fused must not rescan the input"


def test_enrich_adds_no_join(plan):
    # the dims are constants rendered as CASE lookups: no join of any kind
    # and no broadcast (whose collect is a Spark job of every run)
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert "risk_tag" in plan


def test_single_stateful_exchange(plan):
    # exactly one data exchange (the conv_id correlation shuffle);
    # broadcasts don't count
    ex = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(ex) == 1, ex
    assert re.search(r"hashpartitioning\(conv_id", plan)


def test_correlate_has_one_plan():
    # the conv_id replay above is the only correlate plan; the name its
    # callers pass ("linear") is accepted and nothing else is
    from sagan_spark.engine import correlate

    with pytest.raises(ValueError, match="only 'linear'"):
        correlate.run_correlate(None, CANONICAL, scope="split")


def test_whole_stage_codegen_present(plan):
    assert "[codegen id :" in plan


def test_arrow_stage_is_bounded_to_candidates(spark, tiny_path):
    # the mapInPandas (ArrowEvalPython / MapInPandas) node must sit above a
    # Filter, not directly above the scan — i.e., only candidates cross
    from sagan_spark.engine.match import run_match

    df = spark.read.parquet(tiny_path)
    plan = run_match(df, CANONICAL)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    map_pos = plan.find("MapInPandas")
    assert map_pos != -1
    tail = plan[map_pos:]
    assert "Filter" in tail.split("Scan parquet")[0], "no prefilter below the Python stage"


def test_rule_meta_join_path_is_broadcast(spark):
    """Above LITERAL_MAP_MAX_RULES, attach_rule_meta must be a
    BroadcastHashJoin — no SortMergeJoin, no shuffle of the alert side
    (the whole point of the size switch at catalog-scale rule sets)."""
    from pyspark.sql import functions as F

    from sagan_spark.engine.route import attach_rule_meta
    from sagan_spark.rules.bulk import bulk_ruleset

    rs = bulk_ruleset()
    alerts = spark.range(1000).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        (F.lit(2000000) + F.col("id") % 40).alias("sid"),
    )
    out = attach_rule_meta(alerts, rs, max_literal_rules=0)  # force join path
    plan = _explain(spark, out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), (
        "join path introduced a non-broadcast exchange"
    )
