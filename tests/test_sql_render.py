"""The rule set reaches the JVM as Spark SQL text (engine/match.py,
engine/route.py, pipeline.observe_alerts): every literal must round-trip
through the parser unchanged, empty sets and NULL columns must keep the
defined semantics, and building a run's plan must stay a few hundred py4j
round trips whatever the rule count, launching no Spark job of its own."""

from __future__ import annotations

import gc

import pandas as pd
import pytest
from conftest import jobs_of
from py4j import clientserver
from pyspark.sql import functions as F

from sagan_spark import io as iomod
from sagan_spark.engine import match, pipeline, route
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.bulk import bulk_ruleset
from sagan_spark.rules.canonical import CANONICAL
from sagan_spark.rules.model import ContentSpec, EnrichCond, PcreSpec, Rule, RuleSet

BULK = bulk_ruleset(production=True)


def _rule_strings(rs: RuleSet) -> list[str]:
    out: list[str] = []
    for r in rs.rules:
        out += [c.pattern for c in r.contents]
        out += [p.pattern for p in r.pcres]
        out += [s for mc in r.meta_contents for s in (mc.template, *mc.values)]
        out += [s for h in r.hashes for s in (h.kind, h.regex)]
        out += [s for tk in r.tokens for s in (tk.field, tk.regex)]
        out += [r.msg, r.rule_class, r.sink]
    return out


def test_sql_str_round_trips(spark):
    strings = [
        "'", "\\", "\\\\", "\\%", "\\_", "\n", "\\n", "A", "naïve", "日本語",
        route.TS_FMT_ISO, "${spark.app.name}", "${env:HOME}", "\\${x}", "it's a \\'quote\\'",
        *_rule_strings(CANONICAL), *_rule_strings(BULK),
    ]
    for s in strings:
        lit = match._sql_str(s)
        assert lit.startswith("'") and lit.endswith("'")
    row = spark.range(1).select(
        *[F.expr(match._sql_str(s)).alias(f"c{i}") for i, s in enumerate(strings)]
    ).first()
    assert list(row) == strings


def _tiny_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime("2025-01-01 10:00") + pd.to_timedelta(pdf["turn_idx"] * 10, unit="s")
    df = spark.createDataFrame(pdf)
    return pdf, df.withColumn("ts", df.ts.cast("timestamp_ntz"))


def test_escaped_string_literals_refused(spark):
    """Under the raw-literal parser setting the rendered escapes would be
    read verbatim: the engine refuses rather than match the wrong text."""
    _, df = _tiny_df(spark, [("c1", 0, "user", "an error", "none")])
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match=key):
            pipeline.build_alerts(spark, df, CANONICAL)
    finally:
        spark.conf.set(key, old)
    assert spark.conf.get(key) == old


# Empty folded sets: no role has origin ZZ, no tool has category ZZ, no
# risk range is tagged ZZ. Each renders as SQL `false`.
_NO_ROLE = EnrichCond(dim="role_dim", fieldname="origin", op="is", values=("ZZ",))
_NO_TOOL = EnrichCond(dim="tool_dim", fieldname="category", op="is", values=("ZZ",))
_NO_RANGE = EnrichCond(dim="risk_ranges", fieldname="risk_tag", op="range_tag_is", values=("ZZ",))
EMPTY_RS = RuleSet(
    (
        Rule(sid=1, msg="plain", sink="fast", contents=(ContentSpec("err"),)),
        Rule(sid=2, msg="no role", sink="fast", contents=(ContentSpec("err"),), enrich=(_NO_ROLE,)),
        Rule(sid=3, msg="no tool", sink="eve", contents=(ContentSpec("err"),), enrich=(_NO_TOOL,)),
        Rule(sid=4, msg="no range", sink="syslog", enrich=(_NO_RANGE,)),
        Rule(sid=5, msg="not user", sink="fast", roles=("user",), roles_negated=True,
             contents=(ContentSpec("err"),)),
        Rule(sid=6, msg="not bash", sink="eve", tools=("bash",), tools_negated=True,
             contents=(ContentSpec("err"),)),
        # Python path (backreference) with an empty folded role set: its
        # coarse prefilter term is `false` too
        Rule(sid=7, msg="udf no role", sink="fast", pcres=(PcreSpec(r"(err)\1?"),),
             enrich=(_NO_ROLE,)),
        Rule(sid=8, msg="udf plain", sink="eve", pcres=(PcreSpec(r"(err)\1?"),)),
    )
)


def test_empty_sets_and_null_columns_match_oracle(spark):
    assert match._sql_in("`role`", []) == "false"
    folded = match._fold_enrich(EMPTY_RS.rules[1])
    assert folded[0] == set() and "false" in match._native_cond(EMPTY_RS.rules[1], folded)
    pdf, df = _tiny_df(
        spark,
        [
            ("c1", 0, "user", "err one", "bash"),
            ("c1", 1, None, "err two", None),
            ("c1", 2, "assistant", "err three", "sql"),
            ("c2", 0, None, "err four", "bash"),
            ("c2", 1, "tool", "nothing", None),
            ("c2", 2, "system", None, "calc"),
        ],
    )
    want = sorted((a["conv_id"], a["turn_idx"], a["sid"]) for a in run_oracle(pdf, EMPTY_RS).alerts)
    alerts = pipeline.build_alerts(spark, df, EMPTY_RS)
    got = sorted(tuple(r) for r in alerts.select("conv_id", "turn_idx", "sid").collect())
    assert got == want
    fired = {s for _, _, s in got}
    assert fired & {2, 3, 4, 7} == set()  # empty sets match nothing
    assert {1, 5, 6, 8} <= fired  # ... while the controls fire
    assert ("c1", 1, 5) not in got and ("c1", 1, 6) not in got  # NULL fails negated sets


def _count_round_trips(fn) -> int:
    """py4j commands ``fn`` sends, py4j's object deletes aside (they ride
    the same channel whenever Python collects a proxy)."""
    sent = [0]
    orig = clientserver.ClientServerConnection.send_command

    def counting(self, command, *a, **k):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return orig(self, command, *a, **k)

    gc.collect()
    gc.disable()
    clientserver.ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        clientserver.ClientServerConnection.send_command = orig
        gc.enable()
    return sent[0]


def test_plan_build_round_trip_budget(spark, tiny_path):
    """Building run(out_dir=...)'s plan, the input read included, costs a
    bounded number of py4j round trips, almost none per rule, and launches
    no Spark job: the read has a known schema and the dims are constants."""
    jobs = []

    def build(rs):
        def plan():
            # pipeline._alerts, then run's sink rows and counters
            df, read_input = pipeline.observe_input(
                iomod.read_table(spark, tiny_path, columns=iomod.TRANSCRIPT_COLUMNS)
            )
            alerts = pipeline.build_alerts(spark, df, rs)
            pipeline.observe_alerts(route.sink_rows(alerts), rs, read_input)

        jobs.append(jobs_of(spark, plan)[1])

    canonical = _count_round_trips(lambda: build(CANONICAL))
    bulk = _count_round_trips(lambda: build(BULK))
    # measured: 504 for a session's first build, 493 after it (764 while
    # the read inferred its schema and the dims were three Spark frames)
    assert canonical <= 504, canonical
    extra = len(BULK.rules) - len(CANONICAL.rules)
    assert extra > 0 and (bulk - canonical) <= 3 * extra, (canonical, bulk)
    assert jobs == [0, 0]


def test_long_chains_parse_flat(spark):
    """Past _NEST_MAX terms _chain leaves the chain flat (nesting that deep
    exceeds the parser); both forms select the same rows."""
    n = 3 * match._NEST_MAX
    terms = [f"(`id` = {i})" for i in range(0, 2 * n, 2)]
    df = spark.range(2 * n)
    assert df.filter(match._chain("OR", terms, "false")).count() == n
    nested = match._chain("OR", terms[: match._NEST_MAX], "false")
    assert nested.startswith("((") and df.filter(nested).count() == match._NEST_MAX
