"""Bucketed-table shuffle elimination — the measured version of
docs/SCALE.md's 10^12-turn layout claim (bucket(N, conv_id)): with the
input stored bucketed by conv_id, the conv-keyed stateful replay needs NO
Exchange — the scan's HashPartitioning(conv_id) satisfies the replay's
ClusteredDistribution end-to-end. Verified here with Spark native
bucketing (same planner mechanics Iceberg's bucket transform engages on a
real cluster; the iceberg jar itself is absent in this sandbox, io.py).

Scope, honestly: partitioning survives only through PURE-COLUMN stages.
A MapInPandas node reports UnknownPartitioning (probed empirically), so
the fused match plan — one Python crossing for the candidate slice —
always re-inserts the exchange. The exchange-free plan is real for the
all-native-rule regime via the hybrid plan (native rules explode
JVM-side), which the engine picks from its input whenever the scan is
bucketed by conv_id and every rule is native
(pipeline.resolve_match_mode); with Python-path rules the exchange
returns but only ever moves the matched ~1% slice. All asserted below.
"""

from __future__ import annotations

import pytest

from sagan_spark.rules.model import AfterSpec, ContentSpec, GrokSpec, Rule, RuleSet

NATIVE_RS = RuleSet(
    (
        Rule(
            sid=4600001,
            msg="retry storm",
            sink="fast",
            contents=(ContentSpec("retry",),),
            after=AfterSpec(track="conv_id", count=2, seconds=100_000),
        ),
        Rule(sid=4600002, msg="plain err", sink="eve", contents=(ContentSpec("error",),)),
    )
)
# one Python-path rule (grok) keeps the whole set on the fused plan
GROKKED_RS = RuleSet(
    NATIVE_RS.rules
    + (
        Rule(
            sid=4600003,
            msg="py path",
            sink="fast",
            contents=(ContentSpec("error",),),
            groks=(GrokSpec(r"code=(?P<code>\d+)", required=False),),
        ),
    )
)


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    """The same transcripts as a plain parquet dir AND a conv_id-bucketed
    table (8 buckets, sorted by conv_id, turn_idx — the SCALE.md layout)."""
    from sagan_spark.datagen.transcripts import gen_chunk

    plain = str(tmp_path_factory.mktemp("bkt") / "plain")
    pdf = gen_chunk(0, 400, seed=9, hot_cap=500)
    df = spark.createDataFrame(pdf)
    df.write.mode("overwrite").parquet(plain)
    spark.sql("DROP TABLE IF EXISTS tx_bucketed_test")
    (
        df.write.bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .mode("overwrite")
        .saveAsTable("tx_bucketed_test")
    )
    yield plain, "tx_bucketed_test"
    spark.sql("DROP TABLE IF EXISTS tx_bucketed_test")


def _n_conv_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning(conv_id")


def _alerts(spark, src, ruleset=NATIVE_RS):
    from sagan_spark.engine.pipeline import build_alerts

    return build_alerts(spark, src, ruleset)


def _rows(df):
    return sorted(
        (r.conv_id, int(r.turn_idx), int(r.sid))
        for r in df.select("conv_id", "turn_idx", "sid").collect()
    )


def test_bucketed_scan_eliminates_replay_exchange(spark, bucketed):
    plain, table = bucketed
    bdf = _alerts(spark, spark.table(table))
    pdf_plan = _alerts(spark, spark.read.parquet(plain))
    assert _n_conv_exchanges(bdf) == 0, "bucketed all-native plan still shuffles"
    assert _n_conv_exchanges(pdf_plan) >= 1, "plain-parquet plan lost its exchange?"
    # The exchange elision is only SOUND if the scan actually reads
    # bucketed. Spark's autoBucketedScan can fall back to plain file
    # splits while the elision stands — splitting conversations across
    # replay partitions (observed; corrupts stateful state). session.py
    # pins autoBucketedScan off; this assertion pins the pin.
    plan = bdf._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan[:2000]


@pytest.mark.parametrize("n_buckets", [4, 8, 16])
def test_replay_takes_the_bucket_count(spark, bucketed, n_buckets):
    """The replay repartitions into the table's bucket count, read from its
    bucket spec, so the exchange is elided whether or not that count equals
    spark.sql.shuffle.partitions (8 here)."""
    from sagan_spark.engine.pipeline import _scan_bucketed_by

    plain, _ = bucketed
    table = f"tx_bucketed_test_{n_buckets}"
    (
        spark.read.parquet(plain)
        .write.bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .mode("overwrite")
        .saveAsTable(table)
    )
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert _scan_bucketed_by(spark.table(table), "conv_id") == n_buckets
        got = _alerts(spark, spark.table(table))
        assert _n_conv_exchanges(got) == 0
        assert _rows(got) == _rows(_alerts(spark, spark.read.parquet(plain)))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucket_count_of_unlike_leaves_is_zero(spark, bucketed):
    """Leaves bucketed into different counts have no one partitioning to
    keep: the probe reports 0, as for a plain scan."""
    from sagan_spark.engine.pipeline import _scan_bucketed_by

    plain, table = bucketed
    spark.read.parquet(plain).write.bucketBy(4, "conv_id").mode("overwrite").saveAsTable(
        "tx_bucketed_test_4u"
    )
    try:
        both = spark.table(table).unionByName(spark.table("tx_bucketed_test_4u"))
        assert _scan_bucketed_by(spark.table(table), "conv_id") == 8
        assert _scan_bucketed_by(both, "conv_id") == 0
        assert _scan_bucketed_by(spark.read.parquet(plain), "conv_id") == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS tx_bucketed_test_4u")


def test_bucketed_and_plain_outputs_equal(spark, bucketed):
    plain, table = bucketed
    got_b = _rows(_alerts(spark, spark.table(table)))
    got_p = _rows(_alerts(spark, spark.read.parquet(plain)))
    assert got_b == got_p and len(got_b) > 0


def test_fused_mode_python_stage_reinserts_exchange(spark, bucketed):
    """Documented limitation: the fused plan's single mapInPandas crossing
    reports UnknownPartitioning, so with a Python-path rule even a
    bucketed scan shuffles before the replay — the exchange moves only
    the matched slice."""
    plain, table = bucketed
    fused = _alerts(spark, spark.table(table), GROKKED_RS)
    assert _n_conv_exchanges(fused) >= 1
    # the bucketed input still gives the plain input's alerts
    got = _rows(fused)
    assert got == _rows(_alerts(spark, spark.read.parquet(plain), GROKKED_RS)) and got


def test_auto_mode_defaults_to_exchange_free_plan_on_bucketed(spark, bucketed):
    """r6: the pipeline must pick the measured zero-shuffle plan itself
    when it is sound — bucketed conv_id scan + all-native rules."""
    from sagan_spark.engine.pipeline import build_alerts

    plain, table = bucketed
    auto_b = build_alerts(spark, spark.table(table), NATIVE_RS)
    assert _n_conv_exchanges(auto_b) == 0, "auto on bucketed input still shuffles"
    plan = auto_b._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # plain parquet stays on the fused single-scan default (exchange present)
    auto_p = build_alerts(spark, spark.read.parquet(plain), NATIVE_RS)
    assert _n_conv_exchanges(auto_p) >= 1
    # and the bucketed plan's output is identical to the plain one's
    got = _rows(auto_b)
    assert got == _rows(auto_p) and len(got) > 0


def test_auto_mode_resolution(spark, bucketed):
    """Resolver unit surface: hybrid ONLY for bucketed + non-empty
    all-native; a single Python-path rule (grok) or an empty rule set
    keeps the fused plan even on the bucketed table."""
    from sagan_spark.engine import match as matchmod
    from sagan_spark.engine.pipeline import resolve_match_mode

    plain, table = bucketed
    bdf, pdf = spark.table(table), spark.read.parquet(plain)
    assert resolve_match_mode(bdf, NATIVE_RS) == "hybrid"
    assert resolve_match_mode(pdf, NATIVE_RS) == "fused"
    assert resolve_match_mode(bdf, GROKKED_RS) == "fused"
    assert resolve_match_mode(bdf, RuleSet(())) == "fused"
    # "auto" is not a plan run_match builds
    with pytest.raises(ValueError, match="unknown match mode"):
        matchmod.run_match(bdf, NATIVE_RS, mode="auto")


def test_hybrid_refuses_python_path_rule(spark, bucketed):
    """The hybrid plan has no Python stage, so run_match refuses it for a
    rule set with a rule that is not native-compilable (or none at all)
    instead of dropping that rule."""
    from sagan_spark.engine import match as matchmod

    _, table = bucketed
    with pytest.raises(ValueError, match="4600003"):
        matchmod.run_match(spark.table(table), GROKKED_RS, mode="hybrid")
    with pytest.raises(ValueError, match="non-empty, all-native"):
        matchmod.run_match(spark.table(table), RuleSet(()), mode="hybrid")


def test_empty_ruleset_on_bucketed_input(spark, bucketed):
    """No rules over a conv_id-bucketed table: zero alerts and no counts.
    all() over no rules is true, so the resolver must see the empty set
    before it picks the hybrid plan, which needs at least one rule."""
    from sagan_spark.engine import pipeline

    _, table = bucketed
    empty = RuleSet(())
    assert _alerts(spark, spark.table(table), empty).count() == 0
    res = pipeline.run(spark, table, ruleset=empty)
    assert res.sink_counts == {} and res.sid_counts == {}
    assert res.metrics["alerts"] == 0


class _QueryExecutionFails:
    """A Java Dataset handle whose queryExecution() raises and that
    delegates everything else — the shape of a py4j internals break."""

    def __init__(self, jdf):
        self._real = jdf
        self.probed = 0

    def queryExecution(self):
        self.probed += 1
        raise RuntimeError("queryExecution unavailable")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_bucket_probe_failure_falls_back_to_fused(spark, bucketed, monkeypatch):
    """If the bucket probe breaks, auto takes the fused plan (which keeps
    its conv_id exchange, so it is correct on any layout) and the alerts
    equal the hybrid run's."""
    from sagan_spark.engine.pipeline import _scan_bucketed_by, resolve_match_mode

    _, table = bucketed
    bdf = spark.table(table)
    broken = _QueryExecutionFails(bdf._jdf)
    monkeypatch.setattr(bdf, "_jdf", broken)
    assert _scan_bucketed_by(bdf, "conv_id") == 0
    assert resolve_match_mode(bdf, NATIVE_RS) == "fused"
    assert broken.probed == 2
    got = _alerts(spark, bdf)
    assert _n_conv_exchanges(got) >= 1
    want = _rows(_alerts(spark, spark.table(table)))
    assert _rows(got) == want and want


def test_pipeline_run_on_catalog_identifier_elides_exchange(spark, bucketed):
    """r6 end-to-end: `pipeline.run` pointed at the bucketed CATALOG
    table identifier (io.read_table routes slash-free ids to spark.table)
    with default settings gets the zero-exchange plan and counts equal to
    the plain-parquet path — the whole 100-TB deployment story from one
    config line, no code."""
    from sagan_spark.engine import pipeline

    plain, table = bucketed
    res_b = pipeline.run(spark, table, ruleset=NATIVE_RS)
    res_p = pipeline.run(spark, plain, ruleset=NATIVE_RS)
    assert res_b.sink_counts == res_p.sink_counts
    assert sum(res_b.sink_counts.values()) > 0
    assert _n_conv_exchanges(res_b.alerts) == 0
    assert _n_conv_exchanges(res_p.alerts) >= 1


def test_replay_guard_refuses_non_contiguous_partition():
    """The replay resets per-conversation state on conv change, so a
    partition where a conversation REAPPEARS after others (lost sort —
    exactly what the auto-bucketed-scan fallback produced) must raise the
    engine's loud error, never silently fragment counters."""
    import pandas as pd

    from sagan_spark.engine.correlate import _replay_sorted, _replay_tracked_sorted

    rule = NATIVE_RS.rules[0]
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b", "a"],  # 'a' reappears after 'b'
            "turn_idx": pd.array([0, 1, 0, 2], dtype="int32"),
            "sid": pd.array([rule.sid] * 4, dtype="int64"),
            "tool": ["none"] * 4,
            "ts": pd.Series(pd.to_datetime(["2025-01-01"] * 4)).astype("datetime64[us]"),
        }
    )
    with pytest.raises(RuntimeError, match="not conv-contiguous"):
        _replay_sorted({rule.sid: rule}, pdf)
    roles = pdf.assign(role=["r1", "r1", "r2", "r1"])
    with pytest.raises(RuntimeError, match="not key-contiguous"):
        _replay_tracked_sorted({rule.sid: rule}, roles, "role")
