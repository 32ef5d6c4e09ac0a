"""C7 depends_on / dynamic rules: a dependent rule runs only if its parent
fired somewhere in the run. pipeline.run decides that from a counting pass
of the base rules; checkpoint.run_resumable refuses such a rule set."""

from __future__ import annotations

import glob
import os

import pytest
from conftest import jobs_of

from sagan_spark.engine import checkpoint, pipeline
from sagan_spark.rules.model import ContentSpec, FlexbitSpec, Rule, RuleSet


def _rs(parent_roles) -> RuleSet:
    return RuleSet(
        (
            Rule(
                sid=10,
                msg="parent",
                sink="fast",
                roles=parent_roles,
                contents=(ContentSpec("error"),),
            ),
            Rule(
                sid=11,
                msg="child (enabled only if parent fired)",
                sink="eve",
                contents=(ContentSpec("retry"),),
                depends_on=10,
            ),
        )
    )


def test_dependent_enabled_when_parent_fires(spark, tiny_path):
    res = pipeline.run(spark, tiny_path, _rs(("assistant",)))
    assert res.sid_counts.get(10, 0) > 0
    assert res.sid_counts.get(11, 0) > 0


def test_dependent_disabled_when_parent_never_fires(spark, tiny_path):
    # parent restricted to a role that doesn't exist → child must not run,
    # even though 'retry' texts are plentiful
    res = pipeline.run(spark, tiny_path, _rs(("nonexistent-role",)))
    assert res.sid_counts == {}


def test_enabled_dependent_shares_the_replay_with_base_rules(spark, tiny_path):
    """An enabled dependent is replayed with the base rules, so it sees the
    flexbit a base noalert rule sets, exactly as without depends_on; a
    dependent of a parent that never fires stays off in the same run."""

    parent = Rule(sid=20, msg="parent", sink="fast", contents=(ContentSpec("error"),))
    setter = Rule(
        sid=22, msg="sets e", sink="fast", contents=(ContentSpec("retry"),),
        noalert=True, flexbits=(FlexbitSpec("set", "e"),),
    )

    def child(depends_on) -> Rule:
        return Rule(
            sid=21, msg="error after a retry", sink="eve", contents=(ContentSpec("error"),),
            flexbits=(FlexbitSpec("isset", "e"),), depends_on=depends_on,
        )

    never = Rule(
        sid=24, msg="never fires", sink="fast", roles=("nonexistent-role",),
        contents=(ContentSpec("error"),),
    )
    off = Rule(sid=23, msg="child of 24", sink="eve", contents=(ContentSpec("retry"),), depends_on=24)
    want = pipeline.run(spark, tiny_path, RuleSet((parent, setter, child(None)))).sid_counts
    got = pipeline.run(spark, tiny_path, RuleSet((parent, setter, child(20), never, off)))
    assert want.get(21, 0) > 0
    assert got.sid_counts == want


def test_resumable_refuses_dependents_before_any_unit(spark, tiny_path, tmp_path):
    """A unit cannot see its parent fire in another unit, so the run is
    refused up front, naming the dependent sid, and writes nothing."""
    out = str(tmp_path / "resumable")
    with pytest.raises(ValueError, match=r"sid 11\b.*pipeline\.run"):
        checkpoint.run_resumable(spark, tiny_path, out, ruleset=_rs(("assistant",)))
    assert not os.path.exists(out)


def test_out_dir_writes_base_and_dependents_in_one_pass(spark, tiny_path, tmp_path):
    """With out_dir, the counting pass is a noop write and the one write of
    base rules plus enabled dependents fills the counts: the written lines
    equal sink_counts, nothing stays cached, and the job count is pinned
    (14 for the former runner, which wrote the union of two cached passes)."""
    out = str(tmp_path)
    res, jobs = jobs_of(
        spark, lambda: pipeline.run(spark, tiny_path, _rs(("assistant",)), out_dir=out)
    )
    res.unpersist()
    assert jobs == 11
    assert set(res.sink_counts) == {"fast", "eve"}
    for sink in ("fast", "eve", "syslog"):
        lines = 0
        for f in glob.glob(os.path.join(out, sink, "part-*")):
            with open(f, encoding="utf-8") as fh:
                lines += sum(1 for _ in fh)
        assert lines == res.sink_counts.get(sink, 0), sink
    assert spark.read.parquet(os.path.join(out, "unified2")).count() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
