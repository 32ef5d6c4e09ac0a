"""Differential tests: Spark engine ≡ pandas oracle on the planted fixture.

Correctness gates from BASELINE.md:
1. per-sink aggregate alert counts equal the oracle's,
2. routed-row text byte-equality under stable (conv_id, turn_idx) order,
3. byte-stable sink lines (fast/eve/syslog) equal the oracle's formatting.
"""

from __future__ import annotations

import pytest

from sagan_spark.engine import pipeline, route
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.canonical import CANONICAL


@pytest.fixture(scope="module")
def oracle(tiny_pdf):
    return run_oracle(tiny_pdf, CANONICAL)


@pytest.fixture(scope="module")
def result(spark, tiny_path):
    res = pipeline.run(spark, tiny_path)
    yield res
    res.unpersist()


def test_fixture_has_firing_and_suppressed_cases(oracle, tiny_pdf):
    # every alerting rule fires at least once …
    for sid in (
        1000001, 1000002, 1000003, 1000004, 1000005, 1000006,
        1000007, 1000008, 1000009, 1000010, 1000011, 1000012,
        1000014,
    ):
        assert oracle.sid_counts.get(sid, 0) > 0, f"sid {sid} never fires"
    # … and the stateful rules also SUPPRESS at least once (oracle alert
    # count < raw stateless match count), proving both branches exist.
    from sagan_spark.rules.eval import match_stateless

    by_sid = CANONICAL.by_sid()
    for sid in (1000010, 1000011):
        rule = by_sid[sid]
        raw = sum(
            1
            for r in tiny_pdf.itertuples(index=False)
            if match_stateless(rule, r.text, r.role, r.tool, r.ts.hour, r.ts.weekday() + 1)
            is not None
        )
        assert oracle.sid_counts[sid] < raw, f"sid {sid} never suppressed"


def test_per_sink_counts_match(result, oracle):
    assert result.sink_counts == oracle.sink_counts


def test_per_sid_counts_match(result, oracle):
    assert result.sid_counts == oracle.sid_counts


def test_routed_rows_byte_equal(result, oracle):
    got = (
        result.alerts.select("conv_id", "turn_idx", "sid", "text")
        .orderBy("conv_id", "turn_idx", "sid")
        .collect()
    )
    want = sorted(
        ((a["conv_id"], a["turn_idx"], a["sid"], a["text"]) for a in oracle.alerts),
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g.conv_id, g.turn_idx, g.sid, g.text) == w


@pytest.mark.parametrize("sink", ["fast", "eve", "syslog"])
def test_sink_lines_byte_equal(result, oracle, sink):
    got = [
        r.line
        for r in route.sink_lines(result.alerts, sink)
        .orderBy("conv_id", "turn_idx", "sid")
        .collect()
    ]
    want = [
        format_line
        for _, _, _, format_line in sorted(
            (a["conv_id"], a["turn_idx"], a["sid"], line)
            for a, line in zip(
                [a for a in oracle.alerts if a["sink"] == sink],
                oracle.lines(sink),
            )
        )
    ]
    assert got == want


def test_extracted_fields_match(result, oracle):
    got = {
        (r.conv_id, r.turn_idx, r.sid): dict(r.extracted or {})
        for r in result.alerts.select("conv_id", "turn_idx", "sid", "extracted").collect()
    }
    for a in oracle.alerts:
        key = (a["conv_id"], a["turn_idx"], a["sid"])
        assert got[key] == a["extracted"], key


@pytest.fixture(scope="module")
def written(spark, tiny_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sinks"))
    res = pipeline.run(spark, tiny_path, out_dir=out)
    yield res, out
    res.unpersist()


def test_both_run_paths_count_alike(result, written, tiny_pdf):
    """Counts ride an Observation on whichever action runs: the noop write
    without out_dir, the first sink write with it. Both paths report the
    same counts and the same metrics."""
    res, _ = written
    assert res.sink_counts == result.sink_counts
    assert res.sid_counts == result.sid_counts
    for r in (result, res):
        assert set(r.metrics) == {"rows_in", "convs_approx", "ts_min", "ts_max", "alerts"}
        assert r.metrics["rows_in"] == len(tiny_pdf)
        assert r.metrics["alerts"] == sum(r.sink_counts.values())
        assert r.metrics["ts_min"] <= r.metrics["ts_max"]


def test_written_rows_equal_sink_counts(written):
    from pathlib import Path

    import pyarrow.parquet as pq

    res, out = written
    for sink, n in res.sink_counts.items():
        if sink == "unified2":
            got = pq.read_table(f"{out}/{sink}").num_rows
        else:
            got = sum(
                f.read_text(encoding="utf-8").count("\n") for f in Path(out, sink).glob("part-*")
            )
        assert got == n, sink
