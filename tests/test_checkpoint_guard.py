"""Streaming checkpoint-layout guard: the engine knows its own
stateful-operator layout changed (r4 unified the per-domain operators into
one keyed by (_skind, _skey)), so resuming a pre-unification checkpoint
must produce the ENGINE's loud migration message up front — not Spark's
opaque state-schema stack trace minutes into the restart. The sink
legacy-layout guard got this treatment in r4; this is the checkpoint twin.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet

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

_T0 = pd.Timestamp("2024-05-01 09:00:00")


def _write(path: str, rows: list[tuple[str, int, str, int]]) -> None:
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


def _stateful_ruleset() -> RuleSet:
    return RuleSet(
        (
            Rule(
                sid=4500001,
                msg="retry window",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="conv_id", count=1, seconds=3600),
            ),
        )
    )


def _make_checkpoint(spark, tmp_path) -> tuple[str, str, str]:
    """Run one real stateful micro-batch so Spark writes a genuine
    checkpoint (offsets + state/0/<part>/_metadata/schema)."""
    from sagan_spark.streaming import pipeline as sp

    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    _write(os.path.join(d, "b0.parquet"), [("convA", 0, "retry a", 0), ("convA", 1, "retry b", 60)])
    out, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    q = sp.run_stream(spark, d, out, ck, _stateful_ruleset(), max_files_per_trigger=8)
    q.processAllAvailable()
    q.stop()
    return d, out, ck


def _patch_key_schema(ck: str, key_fields: list[str]) -> None:
    """Rewrite the checkpoint's recorded state KEY schema to simulate a
    checkpoint written by a differently-shaped (pre-unification) query.
    The file is Java writeUTF framing around two JSON struct strings; the
    guard only brace-parses the first JSON object, so rewriting the body
    with equivalent framing is faithful enough."""
    paths = glob.glob(os.path.join(ck, "state", "0", "*", "_metadata", "schema"))
    assert paths, "no state schema files found — checkpoint layout changed?"
    key_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": "string", "nullable": True, "metadata": {}} for n in key_fields
            ],
        }
    ).encode()
    value_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "groupState",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"name": "blob", "type": "string", "nullable": True, "metadata": {}}
                        ],
                    },
                    "nullable": True,
                    "metadata": {},
                }
            ],
        }
    ).encode()
    for p in paths:
        with open(p, "wb") as f:
            f.write(b"\x00\x02v2\x00\x00\x00\x01" + key_json + b"\n" + value_json)
        crc = p.rsplit("/", 1)[0] + "/." + p.rsplit("/", 1)[1] + ".crc"
        if os.path.exists(crc):  # stale Hadoop CRC would fail the local read
            os.remove(crc)


def test_checkpoint_resume_same_layout_ok(spark, tmp_path):
    """Baseline: resuming an unchanged layout works and carries state
    across restarts (the after-counter keeps counting)."""
    from sagan_spark.streaming import pipeline as sp

    d, out, ck = _make_checkpoint(spark, tmp_path)
    _write(os.path.join(d, "b1.parquet"), [("convA", 2, "retry c", 120)])
    q = sp.run_stream(spark, d, out, ck, _stateful_ruleset(), max_files_per_trigger=8)
    q.processAllAvailable()
    q.stop()
    fired = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(os.path.join(out, "fast"))
        .select("conv_id", "turn_idx")
        .collect()
    }
    # count=1 → fires from the 2nd in-window event onward, across restart
    assert fired == {("convA", 1), ("convA", 2)}


def test_checkpoint_guard_refuses_pre_unification_layout(spark, tmp_path):
    """A checkpoint whose stateful operator is keyed by conv_id (the
    pre-r4 per-domain layout) is refused with the engine's migration
    message, not Spark's state-schema stack trace."""
    from sagan_spark.streaming import pipeline as sp

    d, out, ck = _make_checkpoint(spark, tmp_path)
    _patch_key_schema(ck, ["conv_id"])
    with pytest.raises(RuntimeError, match="pre-unification"):
        sp.run_stream(spark, d, out, ck, _stateful_ruleset(), max_files_per_trigger=8)


def test_checkpoint_guard_refuses_track_layout_too(spark, tmp_path):
    """Same for the old role/tool track-counter operator layout."""
    from sagan_spark.streaming import pipeline as sp

    d, out, ck = _make_checkpoint(spark, tmp_path)
    _patch_key_schema(ck, ["role"])
    with pytest.raises(RuntimeError, match="keyed by \\['role'\\]"):
        sp.run_stream(spark, d, out, ck, _stateful_ruleset(), max_files_per_trigger=8)


def test_checkpoint_guard_refuses_stateless_ruleset_over_stateful_state(spark, tmp_path):
    """Dropping every stateful rule and resuming the old checkpoint is
    also a layout change Spark can't absorb — refuse loudly."""
    from sagan_spark.streaming import pipeline as sp

    d, out, ck = _make_checkpoint(spark, tmp_path)
    stateless = RuleSet(
        (Rule(sid=4500002, msg="plain", sink="fast", contents=(ContentSpec("retry",),)),)
    )
    with pytest.raises(RuntimeError, match="no stateful rules"):
        sp.run_stream(spark, d, out, ck, stateless, max_files_per_trigger=8)


def test_checkpoint_guard_refuses_stateful_over_stateless_checkpoint(spark, tmp_path):
    """The INVERSE migration (r6): a checkpoint committed by a stateless
    query has no state store, so adding stateful rules and resuming would
    make Spark fail (or misbehave) opaquely on the new operator — the
    guard refuses up front. An offsets-only checkpoint (stateful query
    interrupted before its first commit) must still resume."""
    from sagan_spark.streaming import pipeline as sp

    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    _write(os.path.join(d, "b0.parquet"), [("convA", 0, "retry a", 0)])
    out, ck = str(tmp_path / "o"), str(tmp_path / "ck")
    stateless = RuleSet(
        (Rule(sid=4500003, msg="plain", sink="fast", contents=(ContentSpec("retry",),)),)
    )
    q = sp.run_stream(spark, d, out, ck, stateless, max_files_per_trigger=8)
    q.processAllAvailable()
    q.stop()
    assert not os.path.exists(os.path.join(ck, "state", "0"))  # premise
    with pytest.raises(RuntimeError, match="STATELESS"):
        sp.run_stream(spark, d, out, ck, _stateful_ruleset(), max_files_per_trigger=8)
    # offsets-only (no commits): legitimate batch-0 replay, not refused
    ck2 = str(tmp_path / "ck2")
    os.makedirs(os.path.join(ck2, "offsets"), exist_ok=True)
    open(os.path.join(ck2, "offsets", "0"), "w").write("v1")
    sp.check_checkpoint_layout(spark, ck2, has_stateful=True)


def test_checkpoint_guard_survives_brace_framing_byte(spark, tmp_path):
    """A writeUTF length byte equal to 0x7b ('{') before the real schema
    JSON must not crash the guard (r6: the parser tries each '{' until one
    parses as a struct instead of trusting the first)."""
    from sagan_spark.streaming import pipeline as sp

    d, out, ck = _make_checkpoint(spark, tmp_path)
    paths = glob.glob(os.path.join(ck, "state", "0", "*", "_metadata", "schema"))
    assert paths
    key_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": "string", "nullable": True, "metadata": {}}
                for n in ["_skind", "_skey"]
            ],
        }
    ).encode()
    for p in paths:
        with open(p, "wb") as f:
            # framing whose length byte IS 0x7b, directly before the JSON
            f.write(b"\x00\x7b" + key_json)
        crc = p.rsplit("/", 1)[0] + "/." + p.rsplit("/", 1)[1] + ".crc"
        if os.path.exists(crc):
            os.remove(crc)
    # unified layout behind the hostile framing → valid resume, no raise
    sp.check_checkpoint_layout(spark, ck, has_stateful=True)
    # and a MISMATCHED layout behind the same framing still refuses
    _patch_key_schema(ck, ["conv_id"])
    for p in paths:
        raw = open(p, "rb").read()
        with open(p, "wb") as f:
            f.write(b"\x00\x7b" + raw[raw.find(b"{"):])
        crc = p.rsplit("/", 1)[0] + "/." + p.rsplit("/", 1)[1] + ".crc"
        if os.path.exists(crc):
            os.remove(crc)
    with pytest.raises(RuntimeError, match="pre-unification"):
        sp.check_checkpoint_layout(spark, ck, has_stateful=True)


def test_checkpoint_guard_fresh_dir_passes(spark, tmp_path):
    """An absent checkpoint dir is simply a first run."""
    from sagan_spark.streaming import pipeline as sp

    sp.check_checkpoint_layout(spark, str(tmp_path / "nonexistent_ck"), has_stateful=True)


def _key_schema_json(names: list[str]) -> bytes:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": "string", "nullable": True, "metadata": {}} for n in names
            ],
        }
    ).encode()


@pytest.mark.parametrize(
    "body",
    [
        b"\x00\x02v2\x00\x00\x00\x01 truncated framing, no JSON at all",
        # each '{' opens something that is not a struct: broken JSON, an
        # object without a field list, an empty object inside an array
        b"\x00\x7b{not json} {\"type\": \"struct\"} [{}]",
    ],
    ids=["no-brace", "no-struct"],
)
def test_checkpoint_guard_passes_unreadable_schema(spark, tmp_path, body):
    """A state schema file the guard cannot read at all passes, whatever
    the rule set: the guard cannot tell that layout from its own, and
    refusing would block a valid resume after a change of Spark's framing,
    so Spark's own state-schema check decides. A readable partition beside
    the unreadable ones still decides for the guard."""
    from sagan_spark.streaming import pipeline as sp

    ck = tmp_path / "ck"
    for part in ("0", "1"):
        meta = ck / "state" / "0" / part / "_metadata"
        meta.mkdir(parents=True)
        (meta / "schema").write_bytes(body)
    sp.check_checkpoint_layout(spark, str(ck), has_stateful=True)
    sp.check_checkpoint_layout(spark, str(ck), has_stateful=False)
    meta = ck / "state" / "0" / "2" / "_metadata"
    meta.mkdir(parents=True)
    (meta / "schema").write_bytes(b"\x00\x02v2" + _key_schema_json(["conv_id"]))
    with pytest.raises(RuntimeError, match="pre-unification"):
        sp.check_checkpoint_layout(spark, str(ck), has_stateful=True)
