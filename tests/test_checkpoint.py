"""Resume semantics: interrupted run + resume ≡ single uninterrupted run."""

from __future__ import annotations

import json
import os

from conftest import jobs_of

from sagan_spark.datagen.transcripts import write_transcripts
from sagan_spark.engine import checkpoint as cp
from sagan_spark.engine import pipeline


def _multi_file_input(tmp_path) -> str:
    p = str(tmp_path / "tx_multi")
    # 4 chunks → 4 parquet files, each holding whole conversations
    write_transcripts(p, n_convs=120, seed=11, chunk_convs=30)
    return p


def test_conv_locality_holds(spark, tmp_path):
    path = _multi_file_input(tmp_path)
    assert cp.check_conv_locality(spark, path)


def test_interrupt_and_resume_equals_single_run(spark, tmp_path):
    path = _multi_file_input(tmp_path)
    out = str(tmp_path / "out_resume")

    # simulate a crash after 2 of 4 units
    r1 = cp.run_resumable(spark, path, out, max_units=2)
    assert r1.processed_units == 2
    m = json.load(open(os.path.join(out, cp.MANIFEST)))
    assert sum(1 for u in m["units"].values() if u["status"] == "done") == 2

    # resume: must skip the 2 done units and process the remaining 2
    r2 = cp.run_resumable(spark, path, out)
    assert r2.skipped_units == 2
    assert r2.processed_units == 2

    # totals equal a single-shot pipeline run over the whole input
    ref = pipeline.run(spark, path)
    got = r2.totals
    assert got["rows_in"] == ref.metrics["rows_in"] == spark.read.parquet(path).count()
    assert got["per_sink"] == ref.sink_counts
    assert {int(k): v for k, v in got["per_sid"].items()} == ref.sid_counts
    ref.unpersist()

    # lineage recorded per unit
    for u in r2.manifest["units"].values():
        assert u["rows_in"] > 0 and "wall_s" in u and u["files"]


def test_rerun_is_noop(spark, tmp_path):
    path = _multi_file_input(tmp_path)
    out = str(tmp_path / "out_noop")
    cp.run_resumable(spark, path, out)
    r = cp.run_resumable(spark, path, out)
    assert r.processed_units == 0
    assert r.skipped_units == 4


def test_resume_rejects_different_ruleset(spark, tmp_path):
    import pytest

    from sagan_spark.rules.bulk import bulk_ruleset

    path = _multi_file_input(tmp_path)
    out = str(tmp_path / "out_rsfp")
    cp.run_resumable(spark, path, out, max_units=1)
    with pytest.raises(ValueError, match="different rule set"):
        cp.run_resumable(spark, path, out, ruleset=bulk_ruleset())


def test_role_tracked_runs_release_their_cache(spark, tmp_path):
    """Role-tracked rules make build_alerts persist the enriched frame for
    their second replay branch. Every batch entry point must hand that
    cache back: run_resumable per unit, run across the counting pass of a
    rule set with a dependent, and run with an out_dir, whose persisted
    frame is a new, observed one."""
    from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet

    path = str(tmp_path / "tx_role")
    write_transcripts(path, n_convs=60, seed=5, chunk_convs=20)
    role = Rule(
        sid=20, msg="per-role retries", sink="fast", contents=(ContentSpec("retry"),),
        after=AfterSpec(track="role", count=1, seconds=10**8),
    )
    child = Rule(sid=21, msg="child", sink="eve", contents=(ContentSpec("error"),), depends_on=20)
    cache = spark._jsparkSession.sharedState().cacheManager()

    spark.catalog.clearCache()
    r = cp.run_resumable(spark, path, str(tmp_path / "out"), ruleset=RuleSet((role,)))
    assert r.processed_units == 3
    assert cache.isEmpty(), "run_resumable left a cached frame behind"

    res = pipeline.run(spark, path, RuleSet((role, child)))
    assert res.sid_counts.get(20) and res.sid_counts.get(21)
    res.unpersist()
    assert cache.isEmpty(), "run with a dependent rule dropped a cache handle"

    res = pipeline.run(spark, path, RuleSet((role,)), out_dir=str(tmp_path / "sinks"))
    assert res.sid_counts.get(20) and res.metrics["rows_in"] > 0
    res.unpersist()
    assert cache.isEmpty(), "run(out_dir=...) dropped a cache handle"


def test_noalert_only_ruleset_still_counts_its_input(spark, tmp_path):
    """A rule set with no alerting rule writes no sink, so the unit runs a
    noop write instead: without an action its observations never fire."""
    from sagan_spark.rules.model import ContentSpec, Rule, RuleSet

    path = _multi_file_input(tmp_path)
    setter = Rule(
        sid=30, msg="state only", sink="fast", contents=(ContentSpec("error"),), noalert=True
    )
    r = cp.run_resumable(
        spark, path, str(tmp_path / "out"), ruleset=RuleSet((setter,)), files_per_unit=4
    )
    n = spark.read.parquet(path).count()
    assert r.totals == {"rows_in": n, "per_sink": {}, "per_sid": {}}


def test_unit_is_one_write(spark, tiny_path, tmp_path):
    """A unit runs pipeline.run's one pass: the counts ride the single
    sink write, with no persist, per-sink write jobs or noop write."""
    res, jobs = jobs_of(
        spark, lambda: cp.run_resumable(spark, tiny_path, str(tmp_path), files_per_unit=10**6)
    )
    assert res.processed_units == 1
    assert 0 < jobs <= 8, jobs
