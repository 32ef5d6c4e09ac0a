"""Round-2 feature tests: track=role correlation, not_in null semantics,
token keywords, level: prefilter, Bluedot dim, RuleSet validation, and the
datagen chunk-invariance contract.

All golden expectations come from the pandas oracle (never hand-maintained),
keeping these differential like the rest of the suite.
"""

from __future__ import annotations

import pandas as pd
import pytest

from sagan_spark.engine import pipeline
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.model import (
    AfterSpec,
    ContentSpec,
    EnrichCond,
    FieldCond,
    FlexbitSpec,
    GrokSpec,
    Rule,
    RuleSet,
    ThresholdSpec,
)


def _diff(spark, tiny_path, tiny_pdf, ruleset):
    """Run engine + oracle on the tiny fixture, assert per-sid counts and
    routed (conv, turn, sid) sets are equal; return the oracle result."""
    res = pipeline.run(spark, tiny_path, ruleset)
    ora = run_oracle(tiny_pdf, ruleset)
    assert res.sid_counts == ora.sid_counts
    got = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in res.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    want = {(a["conv_id"], a["turn_idx"], a["sid"]) for a in ora.alerts}
    assert got == want
    res.unpersist()
    return ora


# ---------------------------------------------------------------------------
# track="role" (by_username) correlation — global per-role reset windows
# ---------------------------------------------------------------------------


def test_after_track_role_differential(spark, tiny_path, tiny_pdf):
    rs = RuleSet(
        (
            Rule(
                sid=2000001,
                msg="role-wide retry storm",
                sink="fast",
                contents=(ContentSpec("retry"),),
                after=AfterSpec(track="role", count=3, seconds=600),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    assert ora.sid_counts.get(2000001, 0) > 0, "role-tracked rule never fires"


def test_threshold_track_role_differential(spark, tiny_path, tiny_pdf):
    rs = RuleSet(
        (
            Rule(
                sid=2000002,
                msg="role-wide refusal limit",
                sink="eve",
                contents=(ContentSpec("refus", nocase=True),),
                threshold=ThresholdSpec(type="limit", track="role", count=2, seconds=900),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    n = ora.sid_counts.get(2000002, 0)
    assert n > 0
    # limit with a tight window over the whole role population must suppress
    raw = sum("refus" in (t or "").lower() for t in tiny_pdf["text"])
    assert n < raw, "role-tracked limit never suppressed anything"


def test_track_role_null_and_empty_are_distinct_keys(spark, tmp_path):
    """A null role is its own track key, distinct from an empty-string
    role — engine and oracle must agree on the grouping."""
    rows = []
    for i, role in enumerate([None, "", None, "", None, ""]):
        rows.append(
            {
                "conv_id": f"c{i:02d}",
                "turn_idx": 0,
                "role": role,
                "text": "transient failure, scheduling a retry with backoff",
                "tool": "none",
                "ts": pd.Timestamp("2025-02-01") + pd.Timedelta(seconds=30 * i),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    path = str(tmp_path / "nulls")
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sagan_spark.datagen.transcripts import SCHEMA

    pdf2 = pdf.copy()
    pdf2["ts"] = pdf2["ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf2, schema=SCHEMA, preserve_index=False), path + ".parquet")
    import os

    os.makedirs(path)
    os.replace(path + ".parquet", os.path.join(path, "part-0.parquet"))

    rs = RuleSet(
        (
            Rule(
                sid=2000007,
                msg="role retry window",
                sink="fast",
                contents=(ContentSpec("retry"),),
                after=AfterSpec(track="role", count=2, seconds=3600),
            ),
        )
    )
    res = pipeline.run(spark, path, rs)
    ora = run_oracle(pdf, rs)
    got = {
        (r.conv_id, r.turn_idx) for r in res.alerts.select("conv_id", "turn_idx").collect()
    }
    want = {(a["conv_id"], a["turn_idx"]) for a in ora.alerts}
    res.unpersist()
    assert got == want
    # two independent streams of 3 events each, count>2 → exactly the
    # third event of EACH key fires (would be events 5&6 of a merged key)
    assert want == {("c04", 0), ("c05", 0)}, want


def test_track_role_mixed_with_conv_rules(spark, tiny_path, tiny_pdf):
    """Role-tracked, conv-tracked and flexbit rules coexist in one set."""
    rs = RuleSet(
        (
            Rule(
                sid=2000003,
                msg="role retry",
                sink="fast",
                contents=(ContentSpec("retry"),),
                after=AfterSpec(track="role", count=3, seconds=600),
            ),
            Rule(
                sid=2000004,
                msg="conv retry",
                sink="fast",
                contents=(ContentSpec("retry"),),
                after=AfterSpec(track="conv_id", count=5, seconds=300),
            ),
            Rule(
                sid=2000005,
                msg="sudo after failed login",
                sink="eve",
                contents=(ContentSpec("sudo"),),
                flexbits=(FlexbitSpec("isset", "auth_fail"),),
            ),
            Rule(
                sid=2000006,
                msg="login failed setter",
                sink="fast",
                noalert=True,
                contents=(ContentSpec("login failed"),),
                flexbits=(FlexbitSpec("set", "auth_fail", expire=900),),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    for sid in (2000003, 2000004, 2000005):
        assert ora.sid_counts.get(sid, 0) > 0, sid


# ---------------------------------------------------------------------------
# FieldCond not_in: missing extracted field fails both polarities
# ---------------------------------------------------------------------------


def test_field_not_in_missing_field_semantics(spark, tiny_path, tiny_pdf):
    rs = RuleSet(
        (
            Rule(
                sid=2000010,
                msg="non-204 status code",
                sink="fast",
                groks=(GrokSpec(r"code=(?P<code>\d+)", required=False),),
                field_conds=(FieldCond("code", "not_in", ("204",)),),
                # fast_pattern so the UDF prefilter doesn't drop no-code rows
                # before the semantics under test are exercised
                fast_pattern=("e", False),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    n = ora.sid_counts.get(2000010, 0)
    assert n > 0
    # rows WITHOUT any code= must not alert (missing field fails not_in)
    has_code = tiny_pdf["text"].str.contains("code=", regex=False).sum()
    assert n <= has_code


# ---------------------------------------------------------------------------
# level: prefilter and Bluedot dim (P2 / J3)
# ---------------------------------------------------------------------------


def test_level_prefilter_differential(spark, tiny_path, tiny_pdf):
    from sagan_spark.rules.parser import parse_rule

    rule = parse_rule(
        'alert any any -> any any (msg:"low-trust retry"; sid:2000020; '
        'content:"retry"; level:0|2; sink:fast;)'
    )
    assert rule.enrich[0].values == (0, 2)
    rs = RuleSet((rule,))
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    n = ora.sid_counts.get(2000020, 0)
    assert n > 0
    # trust_level 0|2 ↔ roles system|tool only
    roles = {a["role"] for a in ora.alerts}
    assert roles <= {"system", "tool"}


def test_bluedot_dim_differential(spark, tiny_path, tiny_pdf):
    rs = RuleSet(
        (
            Rule(
                sid=2000021,
                msg="exec via mal-reputation tool",
                sink="eve",
                contents=(ContentSpec("exec"),),
                enrich=(EnrichCond("bluedot_dim", "bd_category", "is", ("mal",)),),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    assert ora.sid_counts.get(2000021, 0) > 0
    assert {a["tool"] for a in ora.alerts} == {"bash"}


# ---------------------------------------------------------------------------
# RuleSet construction-time validation
# ---------------------------------------------------------------------------


def test_threshold_both_differential(spark, tiny_path, tiny_pdf):
    """type both: exactly one alert per window, when the count REACHES C."""
    rs = RuleSet(
        (
            Rule(
                sid=2000030,
                msg="third retry in window",
                sink="fast",
                contents=(ContentSpec("retry"),),
                threshold=ThresholdSpec(type="both", track="conv_id", count=3, seconds=600),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    n = ora.sid_counts.get(2000030, 0)
    assert n > 0
    raw = tiny_pdf["text"].str.contains("retry", regex=False).sum()
    assert n < raw / 3 + 1, "both must emit at most once per window"


def test_alert_time_days_parse_and_differential(spark, tiny_path, tiny_pdf):
    from sagan_spark.rules.parser import parse_rule

    rule = parse_rule(
        'alert any any -> any any (msg:"weekday retries"; sid:2000031; '
        'content:"retry"; alert_time:8-18,1|2|3|4|5; sink:fast;)'
    )
    assert rule.alert_time.days == (1, 2, 3, 4, 5)
    ora = _diff(spark, tiny_path, tiny_pdf, RuleSet((rule,)))
    n = ora.sid_counts.get(2000031, 0)
    assert n > 0
    for a in ora.alerts:
        assert 8 <= a["ts"].hour <= 18 and a["ts"].weekday() + 1 <= 5


def test_ruleset_rejects_duplicate_sids():
    with pytest.raises(ValueError, match="duplicate sid"):
        RuleSet(
            (
                Rule(sid=1, msg="a", sink="fast", contents=(ContentSpec("x"),)),
                Rule(sid=1, msg="b", sink="fast", contents=(ContentSpec("y"),)),
            )
        )


def test_ruleset_rejects_unknown_track():
    with pytest.raises(ValueError, match="unsupported track"):
        RuleSet(
            (
                Rule(
                    sid=1,
                    msg="x",
                    sink="fast",
                    after=AfterSpec(track="mystery", count=1, seconds=60),
                ),
            )
        )


def test_ruleset_rejects_role_track_with_flexbits():
    with pytest.raises(ValueError, match="flexbits"):
        RuleSet(
            (
                Rule(
                    sid=1,
                    msg="x",
                    sink="fast",
                    after=AfterSpec(track="role", count=1, seconds=60),
                    flexbits=(FlexbitSpec("isset", "b"),),
                ),
            )
        )


def test_ruleset_rejects_depends_on_noalert_parent():
    with pytest.raises(ValueError, match="noalert"):
        RuleSet(
            (
                Rule(sid=1, msg="parent", sink="fast", noalert=True,
                     contents=(ContentSpec("x"),)),
                Rule(sid=2, msg="child", sink="fast", depends_on=1,
                     contents=(ContentSpec("y"),)),
            )
        )


# ---------------------------------------------------------------------------
# fused (full set) / hybrid (native subset) match plans and the all-pandas
# reference must agree, including extraction edges
# ---------------------------------------------------------------------------


def test_match_modes_equal_including_extraction(spark, tiny_path):
    from sagan_spark.engine import match
    from sagan_spark.rules.canonical import CANONICAL
    from sagan_spark.rules.model import HashSpec

    rs = RuleSet(
        CANONICAL.rules
        + (
            # native-compilable WITH defaults (the hybrid regression case)
            Rule(
                sid=2000050,
                msg="error with default proto",
                sink="eve",
                contents=(ContentSpec("error"),),
                defaults=(("proto", "tcp"),),
            ),
            # optional hash → must stay on the UDF path (''-vs-missing-key)
            Rule(
                sid=2000051,
                msg="retry, sha1 if present",
                sink="fast",
                contents=(ContentSpec("retry"),),
                hashes=(HashSpec("sha1", required=False),),
            ),
        )
    )
    df = spark.read.parquet(tiny_path)
    native = RuleSet(tuple(r for r in rs.rules if match.native_compilable(r)))
    native_sids = {r.sid for r in native.rules}
    assert 2000050 in native_sids and 2000051 not in native_sids
    plans = {
        # fused on the full set; hybrid on its native subset (the only
        # rule sets hybrid accepts)
        "fused": match.run_match(df, rs, mode="fused"),
        "hybrid": match.run_match(df, native, mode="hybrid"),
        # reference: every rule, native-compilable or not, through the
        # vectorized-pandas _rule_mask — checks it against the native SQL
        "pandas": match._prepare(df).mapInPandas(
            match.make_matcher(rs), schema=match.MATCH_SCHEMA
        ),
    }
    results = {}
    for name, plan in plans.items():
        rows = plan.select("conv_id", "turn_idx", "sid", "extracted").collect()
        results[name] = sorted(
            (r.conv_id, r.turn_idx, r.sid, tuple(sorted((r.extracted or {}).items())))
            for r in rows
        )
    assert results["fused"] == results["pandas"], "fused != pandas reference"
    assert results["hybrid"] == [r for r in results["pandas"] if r[2] in native_sids], (
        "hybrid != pandas reference on the native subset"
    )
    for name in ("fused", "hybrid"):
        assert any(r[2] == 2000050 for r in results[name])
        assert all(
            dict(r[3]).get("proto") == "tcp"
            for r in results[name]
            if r[2] == 2000050
        ), f"defaults lost in {name} extraction"


# ---------------------------------------------------------------------------
# bucketed range join: hash-join plan, BNLJ-identical results
# ---------------------------------------------------------------------------


def test_bucketed_range_join_matches_bnlj(spark):
    from pyspark.sql import functions as F

    from sagan_spark.engine.enrich import bucketed_range_join

    fact = spark.range(0, 5000).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(600)) / 10.0).alias("v")
    )
    rng = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 60.0, "high")],
        "lo double, hi double, tag string",
    )
    got = (
        bucketed_range_join(fact, rng, "v", bucket_width=5.0)
        .groupBy("tag").agg(F.count("*").alias("n"))
        .orderBy("tag").collect()
    )
    want = (
        fact.join(F.broadcast(rng), (fact.v >= rng.lo) & (fact.v < rng.hi))
        .groupBy("tag").agg(F.count("*").alias("n"))
        .orderBy("tag").collect()
    )
    assert [(r.tag, r.n) for r in got] == [(r.tag, r.n) for r in want]
    plan = bucketed_range_join(fact, rng, "v", bucket_width=5.0)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# S6 unified2 binary sink + S8 external program sink
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def canonical_result(spark, tiny_path):
    from sagan_spark.rules.canonical import CANONICAL

    res = pipeline.run(spark, tiny_path, CANONICAL, out_dir=None)
    # keep alerts usable for the sink tests
    res.alerts = res.alerts.persist()
    res.alerts.count()
    yield res
    res.unpersist()


def test_unified2_binary_records_roundtrip(spark, tiny_pdf, canonical_result, tmp_path):
    import glob
    import struct
    import zlib

    from sagan_spark.engine import route
    from sagan_spark.oracle.pandas_engine import run_oracle
    from sagan_spark.rules.canonical import CANONICAL

    out = str(tmp_path / "u2")
    route.write_unified2_binary(canonical_result.alerts, out)
    recs = []
    for f in sorted(glob.glob(out + "/*.u2")):
        buf = open(f, "rb").read()
        off = 0
        while off < len(buf):
            rtype, ln = struct.unpack(">II", buf[off : off + 8])
            assert rtype == 7
            fields = struct.unpack(f">{ln // 4}I", buf[off + 8 : off + 8 + ln])
            recs.append(fields)
            off += 8 + ln
    ora = run_oracle(tiny_pdf, CANONICAL)
    want = [a for a in ora.alerts if a["sink"] == "unified2"]
    assert len(recs) == len(want)
    got = sorted((r[0], r[1], r[5]) for r in recs)  # (event_id, turn, sid)
    exp = sorted(
        (zlib.crc32(a["conv_id"].encode()), a["turn_idx"], a["sid"]) for a in want
    )
    assert got == exp


def test_external_program_sink_pipes_lines(canonical_result):
    from sagan_spark.engine import route

    n = route.pipe_to_program(canonical_result.alerts, "fast", ["sh", "-c", "cat > /dev/null"])
    assert n == canonical_result.sink_counts["fast"]
    with pytest.raises(Exception, match="exited"):
        route.pipe_to_program(canonical_result.alerts, "fast", ["false"])


# ---------------------------------------------------------------------------
# datagen chunk-invariance contract (CLAUDE.md invariant, now true)
# ---------------------------------------------------------------------------


def test_gen_chunk_boundary_invariance():
    from sagan_spark.datagen.transcripts import gen_chunk

    whole = gen_chunk(0, 40, seed=7, hot_cap=6000)
    parts = pd.concat(
        [gen_chunk(0, 13, 7, 6000), gen_chunk(13, 14, 7, 6000), gen_chunk(14, 40, 7, 6000)],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts)
