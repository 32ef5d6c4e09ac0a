"""Streaming C7 dynamic rules (depends_on): the arrival-order gate.

Batch semantics (engine/pipeline.run) are two-pass: once the
parent fires anywhere in the input, dependent rules re-scan EVERYTHING.
Streaming semantics are go-forward, like the reference's runtime rule
loader: a child alert emits iff the parent fired at an earlier arrival
position. The two agree exactly whenever the parent's first firing
precedes every child-matching event (the steady-state case); the
window-edge divergence on child-before-parent events is asserted here
explicitly, not hidden.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet

PARENT, CHILD = 4300001, 4300002
_T0 = pd.Timestamp("2024-05-01 09:00:00")

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _ruleset(stateful_child: bool = False) -> RuleSet:
    child_kwargs = dict(
        sid=CHILD,
        msg="dependent probe",
        sink="fast",
        contents=(ContentSpec("childtrigger",),),
        depends_on=PARENT,
    )
    if stateful_child:
        child_kwargs["after"] = AfterSpec(track="conv_id", count=1, seconds=600)
    return RuleSet(
        (
            Rule(
                sid=PARENT,
                msg="parent signal",
                sink="fast",
                contents=(ContentSpec("parenttrigger",),),
            ),
            Rule(**child_kwargs),
        )
    )


def _write(path: str, rows: list[tuple[str, int, str, int]]) -> None:
    """rows: (conv_id, turn_idx, text, ts_offset_seconds)."""
    pdf = pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": ["user"] * len(rows),
            "text": [r[2] for r in rows],
            "tool": ["none"] * len(rows),
            "ts": pd.Series([_T0 + pd.Timedelta(seconds=r[3]) for r in rows]).astype(
                "datetime64[us]"
            ),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), path)


def _stream_fired(spark, input_dir, out, ck, ruleset):
    from sagan_spark.streaming import pipeline as sp

    q = sp.run_stream(spark, input_dir, out, ck, ruleset, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    p = os.path.join(out, "fast")
    if not os.path.exists(p):
        return set()
    return {
        (r.conv_id, r.turn_idx, r.sid)
        for r in spark.read.parquet(p).select("conv_id", "turn_idx", "sid").collect()
    }


def _batch_fired(spark, input_dir, ruleset):
    from sagan_spark.engine import pipeline

    res = pipeline.run(spark, input_dir, ruleset)
    got = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in res.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    res.unpersist()
    return got


def test_stream_dynamic_equals_batch_when_parent_first(spark, tmp_path):
    """Steady state: parent's first fire precedes all child events
    (including across a micro-batch boundary) → streaming ≡ batch."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(os.path.join(d, "b0.parquet"), [("convA", 0, "parenttrigger now", 0)])
    _write(
        os.path.join(d, "b1.parquet"),
        [("convB", 0, "childtrigger later", 60), ("convA", 1, "childtrigger again", 120)],
    )
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), _ruleset())
    want = _batch_fired(spark, d, _ruleset())
    assert got == want == {
        ("convA", 0, PARENT),
        ("convB", 0, CHILD),
        ("convA", 1, CHILD),
    }


def test_stream_dynamic_is_go_forward(spark, tmp_path):
    """A child event arriving BEFORE the parent's first fire is dropped by
    the streaming gate (go-forward, like the reference's runtime loader)
    but emitted by the batch two-pass re-scan — the documented divergence."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(
        os.path.join(d, "b0.parquet"),
        [("convC", 0, "childtrigger early", 0), ("convC", 1, "parenttrigger", 60)],
    )
    _write(os.path.join(d, "b1.parquet"), [("convC", 2, "childtrigger after", 120)])
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), _ruleset())
    assert got == {("convC", 1, PARENT), ("convC", 2, CHILD)}
    want = _batch_fired(spark, d, _ruleset())
    assert want == got | {("convC", 0, CHILD)}  # batch re-scan also gets the early one


def test_stream_dynamic_same_turn_child_emits(spark, tmp_path):
    """Parent and child alerts on the SAME (ts, conv, turn) — one event
    matching both rules: the gate sorts the parent sid first at ties
    (semantic tie-break, not numeric sid order), so the child emits,
    matching the batch two-pass which always emits same-turn children.
    The child sid is numerically LOWER than the parent's to prove the
    old lexicographic-sid ordering would have dropped it."""
    p2, c2 = 4300010, 4300005  # child sorts numerically BEFORE parent
    rs = RuleSet(
        (
            Rule(sid=p2, msg="parent", sink="fast", contents=(ContentSpec("parenttrigger",),)),
            Rule(
                sid=c2,
                msg="child",
                sink="fast",
                contents=(ContentSpec("childtrigger",),),
                depends_on=p2,
            ),
        )
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(os.path.join(d, "b0.parquet"), [("convE", 0, "parenttrigger childtrigger", 0)])
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), rs)
    want = _batch_fired(spark, d, rs)
    assert got == want == {("convE", 0, p2), ("convE", 0, c2)}


def test_stream_dynamic_parent_never_fires(spark, tmp_path):
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(os.path.join(d, "b0.parquet"), [("convD", 0, "childtrigger alone", 0)])
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), _ruleset())
    assert got == set()
    assert _batch_fired(spark, d, _ruleset()) == set()


def test_stream_dynamic_coexists_with_stateful_rules(spark, tmp_path):
    """The gate must compose with the conv-keyed stateful replay (both are
    stateful operators on different slices of the same stream): dynamic
    parent+child AND an independent after-rule, streaming ≡ batch on a
    parent-early fixture."""
    STATEFUL = 4300003
    rs = RuleSet(
        _ruleset().rules
        + (
            Rule(
                sid=STATEFUL,
                msg="second retry in conv",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="conv_id", count=1, seconds=3600),
            ),
        )
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(
        os.path.join(d, "b0.parquet"),
        [("convA", 0, "parenttrigger now", 0), ("convA", 1, "retry one", 30)],
    )
    _write(
        os.path.join(d, "b1.parquet"),
        [("convA", 2, "retry two", 60), ("convB", 0, "childtrigger later", 90)],
    )
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), rs)
    want = _batch_fired(spark, d, rs)
    # after count=1 → fires from the 2nd in-window event (cross-batch state)
    assert got == want == {
        ("convA", 0, PARENT),
        ("convB", 0, CHILD),
        ("convA", 2, STATEFUL),
    }


def test_stream_conv_and_track_stateful_coexist(spark, tmp_path):
    """Before the unified (_skind, _skey) operator, a conv-stateful rule
    plus a role-tracked rule built TWO applyInPandasWithState operators,
    which Spark rejects in one streaming query ("Multiple
    applyInPandasWithStates are not supported") — the combination must now
    run and match batch."""
    rs = RuleSet(
        (
            Rule(
                sid=4300004,
                msg="conv retry window",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="conv_id", count=1, seconds=3600),
            ),
            Rule(
                sid=4300005,
                msg="role-wide error window",
                sink="fast",
                contents=(ContentSpec("failure",),),
                after=AfterSpec(track="role", count=1, seconds=3600),
            ),
        )
    )
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(
        os.path.join(d, "b0.parquet"),
        [("convA", 0, "retry a", 0), ("convA", 1, "failure x", 30)],
    )
    _write(
        os.path.join(d, "b1.parquet"),
        [("convA", 2, "retry b", 60), ("convB", 0, "failure y", 90)],
    )
    got = _stream_fired(spark, d, str(tmp_path / "o"), str(tmp_path / "ck"), rs)
    from sagan_spark.engine import pipeline

    res = pipeline.run(spark, d, rs)
    want = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in res.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    res.unpersist()
    # conv rule: 2nd retry in convA; role rule ("user"-wide): 2nd failure,
    # which lands in a DIFFERENT conversation — proving the global track
    assert got == want == {("convA", 2, 4300004), ("convB", 0, 4300005)}


def test_depends_on_chain_refused():
    """A→B→C chains never enable C in the batch two-pass (enablement is
    derived from pass-1 firings), so RuleSet refuses them loudly for both
    engines instead of diverging quietly."""
    with pytest.raises(ValueError, match="chains are unsupported"):
        RuleSet(
            (
                Rule(sid=1, msg="a", sink="fast", contents=(ContentSpec("x",),)),
                Rule(sid=2, msg="b", sink="fast", contents=(ContentSpec("y",),), depends_on=1),
                Rule(sid=3, msg="c", sink="fast", contents=(ContentSpec("z",),), depends_on=2),
            )
        )


def test_stream_dynamic_rejects_stateful_child(spark, tmp_path):
    from sagan_spark.streaming import pipeline as sp

    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(os.path.join(d, "b0.parquet"), [("convE", 0, "parenttrigger", 0)])
    with pytest.raises(ValueError, match="stateful dynamic"):
        sp.build_stream(spark, d, _ruleset(stateful_child=True))
