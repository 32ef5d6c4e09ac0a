"""C7 depends_on / dynamic rules: a dependent rule runs only if its parent
fired somewhere in the run (two-pass semantics)."""

from __future__ import annotations

import glob
import os

from sagan_spark.engine import pipeline
from sagan_spark.rules.model import ContentSpec, Rule, RuleSet


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
    res = pipeline.run_dynamic(spark, tiny_path, _rs(("assistant",)))
    assert res.sid_counts.get(10, 0) > 0
    assert res.sid_counts.get(11, 0) > 0


def test_dependent_disabled_when_parent_never_fires(spark, tiny_path):
    # parent restricted to a role that doesn't exist → child must not run,
    # even though 'retry' texts are plentiful
    res = pipeline.run_dynamic(spark, tiny_path, _rs(("nonexistent-role",)))
    assert res.sid_counts == {}


def test_out_dir_writes_both_passes_from_their_caches(spark, tiny_path, tmp_path):
    """With out_dir, each pass's alerts are cached by the noop write that
    counts them, and the union is written from those caches, not from a
    third and fourth scan."""
    out = str(tmp_path)
    res = pipeline.run_dynamic(spark, tiny_path, _rs(("assistant",)), out_dir=out)
    try:
        leaves = res.alerts._jdf.queryExecution().optimizedPlan().collectLeaves()
        assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["InMemoryRelation"] * 2
        assert set(res.sink_counts) == {"fast", "eve"}
        for sink in ("fast", "eve", "syslog"):
            lines = 0
            for f in glob.glob(os.path.join(out, sink, "part-*")):
                with open(f, encoding="utf-8") as fh:
                    lines += sum(1 for _ in fh)
            assert lines == res.sink_counts.get(sink, 0), sink
        assert spark.read.parquet(os.path.join(out, "unified2")).count() == 0
    finally:
        res.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
