"""route.write_sinks' one-pass writer: file layout, per-file order,
unified2 schema, overwrite semantics, where a bare out_dir lands, the
Spark-writer fallback and the job count of run(out_dir=...); and its
partitioned form as the stream's micro-batch writer."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from conftest import jobs_of

from sagan_spark import fsutil
from sagan_spark.engine import pipeline, route
from sagan_spark.rules.canonical import CANONICAL
from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet

STATELESS = RuleSet(tuple(r for r in CANONICAL.rules if not r.stateful))
ROLE_TRACKED = RuleSet(
    (
        Rule(
            sid=20, msg="per-role retries", sink="fast", contents=(ContentSpec("retry"),),
            after=AfterSpec(track="role", count=1, seconds=10**8),
        ),
        Rule(sid=21, msg="errors", sink="eve", contents=(ContentSpec("error"),)),
        Rule(sid=22, msg="retries", sink="syslog", contents=(ContentSpec("retry"),)),
    )
)


@pytest.fixture(scope="module")
def several_files(spark):
    """AQE coalesces the tiny fixture's sink exchange into one partition;
    without coalescing it keeps all of them, so one-file-per-conversation
    is observable."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _write(spark, tiny_path, ruleset, out):
    """run(out_dir=out): (result, jobs it launched)."""
    return jobs_of(spark, lambda: pipeline.run(spark, tiny_path, ruleset, out_dir=out))


def _line_keys(alerts) -> dict:
    """Text line, newline included → its alert's (conv_id, turn_idx, sid)."""
    lines = alerts.select("conv_id", "turn_idx", "sid", route._sink_line().alias("line"))
    return {r.line + "\n": (r.conv_id, r.turn_idx, r.sid) for r in lines.collect() if r.line is not None}


@pytest.fixture(scope="module")
def canonical(spark, tiny_path, tmp_path_factory, several_files):
    out = str(tmp_path_factory.mktemp("sinks_canonical"))
    res, jobs = _write(spark, tiny_path, CANONICAL, out)
    res.alerts.persist()  # the tests below read the alerts again
    yield res, out, jobs, _line_keys(res.alerts)
    res.unpersist()


def _lines(path: str) -> list[bytes]:
    with open(path, "rb") as f:
        return [line + b"\n" for line in f.read().split(b"\n")[:-1]]


def _assert_sorted_and_conv_local(out: str, keys: dict) -> None:
    multi = False
    for sink in route.TEXT_SINKS:
        files = sorted(glob.glob(os.path.join(out, sink, "part-*.txt")))
        multi |= len(files) > 1
        owner: dict[str, str] = {}
        for f in files:
            got = [keys[line.decode("utf-8")] for line in _lines(f)]
            assert got == sorted(got), f
            for conv in {k[0] for k in got}:
                assert owner.setdefault(conv, f) == f, (sink, conv)
    assert multi, "every sink fit one file: the check shows nothing"


def test_canonical_text_files_sorted_and_conv_local(canonical):
    _, out, _, keys = canonical
    _assert_sorted_and_conv_local(out, keys)


@pytest.mark.parametrize("ruleset", [STATELESS, ROLE_TRACKED], ids=["stateless", "role_tracked"])
def test_text_files_sorted_and_conv_local(spark, tiny_path, tmp_path, several_files, ruleset):
    """Stateless-only and role-tracked plans are not conv-partitioned by the
    replay: write_sinks' own exchange keeps each conversation in one file."""
    res, _ = _write(spark, tiny_path, ruleset, str(tmp_path))
    keys = _line_keys(res.alerts)
    res.unpersist()
    _assert_sorted_and_conv_local(str(tmp_path), keys)


def test_rule_meta_join_keeps_the_replay_layout(spark, tiny_path, tmp_path, several_files):
    """Past max_literal_rules the rule meta is a broadcast join, which
    streams the replay's rows through in order: the sink rows still take
    the replay's exchange as theirs, and every file stays sorted and
    conversation-local."""
    from sagan_spark.engine import correlate, enrich, match

    matched = match.run_match(spark.read.parquet(tiny_path), CANONICAL, mode="fused")
    replayed = correlate.run_correlate(enrich.attach_dims(matched), CANONICAL)
    alerts = route.attach_rule_meta(replayed, CANONICAL, max_literal_rules=0)
    plan = route.sink_rows(alerts)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning(conv_id") == 1
    route.write_sinks(alerts, str(tmp_path))
    _assert_sorted_and_conv_local(str(tmp_path), _line_keys(alerts))


def test_run_out_dir_launches_few_jobs(canonical):
    """One exchange and one writer: the replay's conv_id exchange is the
    sinks' too, the transcripts are read with a known schema and the dims
    are constants, so the run is the exchange's map job and the writer's
    (7 jobs before, 14 before the one-pass writer)."""
    _, _, jobs, _ = canonical
    assert jobs == 2


def test_unified2_parquet_has_alert_schema_and_rows(spark, canonical):
    from pyspark.sql import functions as F

    res, out, _, _ = canonical
    got = spark.read.parquet(os.path.join(out, "unified2"))
    want = res.alerts.filter(F.col("sink") == "unified2")
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    key = ["conv_id", "turn_idx", "sid"]
    rows = got.sort(*key).collect()
    assert rows == want.sort(*key).collect()
    assert len(rows) == res.sink_counts["unified2"]


def test_spark_writer_fallback_writes_the_same(spark, tiny_path, canonical, tmp_path, monkeypatch):
    """An out_dir executors cannot open takes Spark's own writers: the same
    counts, the same lines byte for byte and the same unified2 rows."""
    import pyarrow.parquet as pq

    res, out, _, _ = canonical
    monkeypatch.setattr(route, "_executor_fs_ok", lambda _: False)
    res2, _ = _write(spark, tiny_path, CANONICAL, str(tmp_path))
    res2.unpersist()
    assert (res2.sink_counts, res2.sid_counts) == (res.sink_counts, res.sid_counts)
    for sink in route.TEXT_SINKS:
        a, b = (
            sorted(line for f in glob.glob(os.path.join(d, sink, "part-*")) for line in _lines(f))
            for d in (out, str(tmp_path))
        )
        assert a == b and len(a) == res.sink_counts[sink], sink
    key = ["conv_id", "turn_idx", "sid"]
    a, b = (
        sorted(zip(*pq.read_table(os.path.join(d, "unified2"), columns=key).to_pydict().values()))
        for d in (out, str(tmp_path))
    )
    assert a == b and len(a) == res.sink_counts["unified2"]


def test_run_without_alerts_counts_zero_from_the_write(spark, tiny_path, tmp_path):
    """With no alerts the last conv_id exchange is empty and AQE drops its
    stage; the alert counts are observed above it, so they still fire
    (zeros) and the plan is not re-run to count them. That exchange is the
    sink writer's for a stateless rule and the replay's for a conv_id-
    tracked one. (Two of the jobs re-read the input's counts, whose
    Observation sits under the empty exchange.)"""
    never = Rule(sid=1, msg="never", sink="fast", contents=(ContentSpec("zqxj-no-such-text"),))
    never_after = Rule(
        sid=2, msg="never after", sink="eve", contents=(ContentSpec("zqxj-no-such-text"),),
        after=AfterSpec(track="conv_id", count=1, seconds=100),
    )
    for rule, want_jobs in ((never, 4), (never_after, 4)):
        out = tmp_path / str(rule.sid)
        res, jobs = _write(spark, tiny_path, RuleSet((rule,)), str(out))
        assert (res.sink_counts, res.sid_counts, res.metrics["alerts"]) == ({}, {}, 0)
        assert res.metrics["rows_in"] > 0
        assert jobs == want_jobs, rule.msg
        for sink in route.TEXT_SINKS:
            assert spark.read.text(str(out / sink)).count() == 0
        assert spark.read.parquet(str(out / "unified2")).count() == 0


_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp_ntz, sid long, extracted map<string,string>, rev int, msg string, "
    "rule_class string, priority int, sink string"
)


def _alerts(spark, sinks):
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"conv{i % 3}", i, None if i % 2 else "user", f"naïve 日本語 {i}", None,
         t0 + dt.timedelta(seconds=i), 1000 + i % 4, {"k": str(i)}, 1, "m", "c", 2,
         sinks[i % len(sinks)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_rerun_replaces_stale_parts_and_hides_temporary(spark, tmp_path):
    out = str(tmp_path)
    alerts = _alerts(spark, route.SINKS)
    route.write_sinks(alerts, out)
    stale = [os.path.join(out, "fast", "part-99999.txt"),
             os.path.join(out, "unified2", "part-99999.parquet")]
    for f in stale:
        open(f, "wb").write(b"stale")
    route.write_sinks(alerts, out)
    for sink in route.SINKS:
        names = os.listdir(os.path.join(out, sink))
        assert "_SUCCESS" in names and "_temporary" not in names, sink
    assert not any(os.path.exists(f) for f in stale)

    # a crashed task's file under _temporary/ is no part of the sink
    for sink, ext in (("fast", "txt"), ("unified2", "parquet")):
        part = sorted(glob.glob(os.path.join(out, sink, f"part-*.{ext}")))[0]
        os.makedirs(os.path.join(out, sink, "_temporary"))
        shutil.copy(part, os.path.join(out, sink, "_temporary", os.path.basename(part)))
    assert spark.read.text(os.path.join(out, "fast")).count() == 3
    assert spark.read.parquet(os.path.join(out, "unified2")).count() == 3
    assert all("_temporary" not in f for f in glob.glob(os.path.join(out, "*", "part-*")))


def test_empty_sink_stays_readable(spark, tmp_path):
    out = str(tmp_path)
    alerts = _alerts(spark, ("fast",))
    route.write_sinks(alerts, f"file://{out}")
    assert spark.read.text(os.path.join(out, "fast")).count() == 12
    for sink in ("eve", "syslog"):
        assert spark.read.text(os.path.join(out, sink)).count() == 0
    u2 = spark.read.parquet(os.path.join(out, "unified2"))
    assert u2.count() == 0
    assert [(f.name, f.dataType) for f in u2.schema] == [(f.name, f.dataType) for f in alerts.schema]


def test_relative_out_dir_resolves_like_spark_writers(spark, tmp_path, monkeypatch):
    """A relative out_dir lands where Spark's own writers and readers put
    it, against Hadoop's working directory: driver-side files and the
    executors' part files alike, whatever the Python driver's cwd."""
    cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    rel = os.path.relpath(str(tmp_path / "out"), cwd)
    assert fsutil.fs_qualify(spark, rel).startswith("file:/")
    monkeypatch.chdir(tmp_path)
    route.write_sinks(_alerts(spark, route.SINKS), rel)
    for sink in route.SINKS:
        assert "_SUCCESS" in os.listdir(tmp_path / "out" / sink), sink
    assert not os.path.exists(tmp_path / rel)
    assert spark.read.text(os.path.join(rel, "fast")).count() == 3


def test_out_dir_qualified_to_hdfs_takes_spark_writers(spark, monkeypatch):
    """A bare out_dir that Hadoop qualifies to hdfs:// (fs.defaultFS on a
    cluster) goes to Spark's writers when pyarrow has no libhdfs, never to
    the executors' local disks."""
    monkeypatch.setattr(fsutil, "fs_qualify", lambda _, p: "hdfs://localhost:9" + p)
    calls = []
    monkeypatch.setattr(route, "_write_sinks_spark", lambda rows, out, partition: calls.append(out))
    route.write_sinks(_alerts(spark, route.SINKS), "/data/alerts")
    assert calls == ["/data/alerts"]


def _batch_dirs(out: str, batch: int) -> dict:
    """Sink → its files of ``batch=<batch>``, for the sinks that have one."""
    return {
        sink: sorted(os.listdir(os.path.join(out, sink, f"batch={batch}")))
        for sink in route.SINKS
        if os.path.isdir(os.path.join(out, sink, f"batch={batch}"))
    }


def test_stream_batch_is_one_count_and_one_write(spark, tmp_path):
    """A micro-batch that touches every sink costs one counting job and one
    writer job, and writes one Parquet file per (sink, batch); an empty
    batch costs the count and writes nothing; a replayed batch id is
    rewritten, not appended."""
    from sagan_spark.streaming.pipeline import make_batch_writer

    out = str(tmp_path)
    write = make_batch_writer(out, route.SINKS)
    alerts = _alerts(spark, route.SINKS)
    _, jobs = jobs_of(spark, lambda: write(alerts, 0))
    assert jobs <= 2, jobs
    assert _batch_dirs(out, 0) == {s: ["_SUCCESS", "part-00000.parquet"] for s in route.SINKS}

    _, jobs = jobs_of(spark, lambda: write(spark.createDataFrame([], _SCHEMA), 1))
    assert jobs <= 1, jobs
    assert _batch_dirs(out, 1) == {}

    write(alerts, 0)
    assert spark.read.parquet(os.path.join(out, "fast")).count() == 3
    write(alerts, 2)
    assert spark.read.parquet(os.path.join(out, "fast")).count() == 6


def test_stream_sink_from_spark_writer_resumes(spark, tmp_path, monkeypatch):
    """A sink whose batch=0 Spark's Parquet writer wrote, as every batch was
    written before the one writer, reads as one table with the batches
    the Arrow writer adds, and compacts. With the Arrow writer unavailable
    the partitioned form goes through Spark's writers with the same rows,
    and still creates nothing for a sink without rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from sagan_spark.streaming import compact
    from sagan_spark.streaming.pipeline import make_batch_writer

    key = ["conv_id", "turn_idx", "sid"]
    out = str(tmp_path / "arrow")
    alerts = _alerts(spark, ("fast", "eve"))
    fast = alerts.filter(F.col("sink") == "fast")
    fast.coalesce(1).sortWithinPartitions(*key).write.parquet(os.path.join(out, "fast", "batch=0"))
    make_batch_writer(out, route.SINKS)(alerts, 1)
    arrow = {
        sink: spark.read.parquet(os.path.join(out, sink, "batch=1")).sort(*key).collect()
        for sink in ("fast", "eve")
    }

    got = spark.read.parquet(os.path.join(out, "fast"))
    assert [(f.name, f.dataType) for f in got.schema] == [
        *((f.name, f.dataType) for f in alerts.schema),
        ("batch", IntegerType()),
    ]
    want = sorted(tuple(r) for r in fast.select(*key).collect())
    assert len(want) == 6
    assert sorted(tuple(r) for r in got.select("batch", *key).collect()) == sorted(
        (b, *k) for b in (0, 1) for k in want
    )
    assert compact.compact_sink_batches(spark, out, "fast")["compacted"] == 2
    got = spark.read.parquet(os.path.join(out, "fast"))
    assert sorted(tuple(r) for r in got.select(*key).collect()) == sorted(want * 2)
    assert {r.batch for r in got.select("batch").collect()} == {1}

    monkeypatch.setattr(route, "_executor_fs_ok", lambda _: False)
    out_spark = str(tmp_path / "spark")
    make_batch_writer(out_spark, route.SINKS)(alerts, 1)
    assert set(_batch_dirs(out_spark, 1)) == {"fast", "eve"}
    for sink, rows in arrow.items():
        assert spark.read.parquet(os.path.join(out_spark, sink, "batch=1")).sort(*key).collect() == rows
        assert len(rows) == 6, sink
