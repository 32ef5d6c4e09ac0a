"""Round-4 features: Hadoop-FS portability of every driver-side file-IO
path (resume manifest, unified2 binary sink, streaming legacy-layout
guard), streaming state-blob migration, and config/CLI hardening.

The ``file://`` URIs below are load-bearing: a path with an explicit
scheme resolves through the Hadoop FileSystem API (or pyarrow.fs on
executors) — a code path still using a bare ``open()``/``os.listdir``
would fail on them, so green here proves the IO is scheme-aware.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import pandas as pd
import pytest

from sagan_spark import fsutil
from sagan_spark.datagen.transcripts import write_transcripts
from sagan_spark.engine import checkpoint as cp
from sagan_spark.engine import pipeline
from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule

_TS0 = pd.Timestamp("2024-05-01 09:00:00")


# ---------------------------------------------------------------- fsutil


def test_fsutil_roundtrip_file_uri(spark, tmp_path):
    base = f"file://{tmp_path}/fsutil"
    fsutil.fs_mkdirs(spark, base)
    assert fsutil.fs_exists(spark, base)
    fsutil.fs_write_text(spark, base + "/a.json", '{"x": 1}')
    fsutil.fs_write_text(spark, base + "/b.parquet", "not really parquet")
    assert json.loads(fsutil.fs_read_text(spark, base + "/a.json")) == {"x": 1}
    # overwrite is atomic temp+rename: no .tmp residue, new content wins
    fsutil.fs_write_text(spark, base + "/a.json", '{"x": 2}')
    assert json.loads(fsutil.fs_read_text(spark, base + "/a.json")) == {"x": 2}
    assert fsutil.fs_listdir(spark, base) == ["a.json", "b.parquet"]
    files = fsutil.fs_list_files(spark, base, suffix=".parquet")
    assert len(files) == 1 and files[0].endswith("/b.parquet")
    # the local view agrees (no .tmp residue; Hadoop's local filesystem
    # adds .crc sidecars, which listStatus hides and readers ignore)
    local = [e for e in os.listdir(tmp_path / "fsutil") if not e.startswith(".")]
    assert sorted(local) == ["a.json", "b.parquet"]
    with pytest.raises(FileNotFoundError):
        fsutil.fs_listdir(spark, base + "/nope")


# ---------------------------------------- resumable runs on a URI path


def test_resumable_on_file_uri(spark, tmp_path):
    """Interrupted run + resume on ``file://`` URIs for BOTH input listing
    and manifest/sink writes — the 10^12-turn resume story must not
    require a POSIX path the driver can open()."""
    local_in = str(tmp_path / "tx4")
    write_transcripts(local_in, n_convs=80, seed=23, chunk_convs=40)
    inp = f"file://{local_in}"
    out = f"file://{tmp_path}/out_uri"

    r1 = cp.run_resumable(spark, inp, out, max_units=1)
    assert r1.processed_units == 1
    r2 = cp.run_resumable(spark, inp, out)
    assert r2.skipped_units == 1 and r2.processed_units == 1

    # manifest landed (readable both through FS API and locally)
    mf = json.loads(fsutil.fs_read_text(spark, out + "/" + cp.MANIFEST))
    assert sum(1 for u in mf["units"].values() if u["status"] == "done") == 2
    assert os.path.exists(tmp_path / "out_uri" / cp.MANIFEST)

    ref = pipeline.run(spark, local_in)
    assert r2.totals["per_sink"] == ref.sink_counts
    assert {int(k): v for k, v in r2.totals["per_sid"].items()} == ref.sid_counts

    # the rows themselves: per sink, the units' part files hold exactly the
    # batch run's alerts, each file sorted by (conv_id, turn_idx, sid)
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sagan_spark.engine import route

    key = ["conv_id", "turn_idx", "sid"]
    for sink in route.SINKS:
        got = []
        for f in glob.glob(str(tmp_path / "out_uri" / "sinks" / sink / "unit=*" / "part-*.parquet")):
            rows = list(zip(*pq.read_table(f, columns=key).to_pydict().values()))
            assert rows == sorted(rows), f
            got += rows
        want = [tuple(r) for r in ref.alerts.filter(F.col("sink") == sink).select(*key).collect()]
        assert sorted(got) == sorted(want) and len(got) == ref.sink_counts.get(sink, 0), sink
    ref.unpersist()


# ---------------------------------------- unified2 binary sink on a URI


def test_unified2_binary_on_file_uri(spark, tmp_path):
    from sagan_spark.engine import route

    rows = [
        ("convA", 0, "user", "t", "none", _TS0.to_pydatetime(), 1000001, 1, 2, "unified2"),
        ("convA", 1, "user", "t", "none", _TS0.to_pydatetime(), 1000001, 1, 2, "unified2"),
        ("convB", 0, "user", "t", "none", _TS0.to_pydatetime(), 1000002, 1, 2, "fast"),
    ]
    alerts = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, sid long, rev int, priority int, sink string",
    )
    out = f"file://{tmp_path}/u2_uri"
    route.write_unified2_binary(alerts, out)
    recs = []
    for f in sorted(glob.glob(str(tmp_path / "u2_uri") + "/*.u2")):
        buf = open(f, "rb").read()
        off = 0
        while off < len(buf):
            rtype, ln = struct.unpack(">II", buf[off : off + 8])
            assert rtype == 7
            recs.append(struct.unpack(f">{ln // 4}I", buf[off + 8 : off + 8 + ln]))
            off += 8 + ln
    assert sorted((r[1], r[5]) for r in recs) == [(0, 1000001), (1, 1000001)]


def test_unified2_staged_write_fallback(spark, tmp_path, monkeypatch):
    """r6: when pyarrow.fs cannot open out_dir's scheme on executors
    (hdfs:// without libhdfs — simulated by forcing the capability probe
    False), executors write to a pyarrow-reachable staging_dir and the
    DRIVER promotes the staged part files to out_dir through the Hadoop
    FS (atomic per-file temp+rename), then removes the staging tree. The
    promoted binary must round-trip identically to the direct path."""
    from sagan_spark.engine import route

    rows = [
        ("convA", 0, "user", "t", "none", _TS0.to_pydatetime(), 1000001, 1, 2, "unified2"),
        ("convA", 1, "user", "t", "none", _TS0.to_pydatetime(), 1000001, 1, 2, "unified2"),
        ("convC", 5, "user", "t", "none", _TS0.to_pydatetime(), 1000003, 2, 1, "unified2"),
    ]
    alerts = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, sid long, rev int, priority int, sink string",
    )
    out = f"file://{tmp_path}/u2_final"
    staging = f"file://{tmp_path}/u2_staging"
    monkeypatch.setattr(route, "_executor_fs_ok", lambda _: False)
    # without a staging_dir the unreachable scheme must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="staging_dir"):
        route.write_unified2_binary(alerts, out)
    route.write_unified2_binary(alerts, out, staging_dir=staging)
    assert not os.path.exists(str(tmp_path / "u2_staging"))  # cleaned up
    recs = []
    for f in sorted(glob.glob(str(tmp_path / "u2_final") + "/*.u2")):
        buf = open(f, "rb").read()
        off = 0
        while off < len(buf):
            rtype, ln = struct.unpack(">II", buf[off : off + 8])
            assert rtype == 7
            recs.append(struct.unpack(f">{ln // 4}I", buf[off + 8 : off + 8 + ln]))
            off += 8 + ln
    assert sorted((r[1], r[5]) for r in recs) == [
        (0, 1000001),
        (1, 1000001),
        (5, 1000003),
    ]


# ------------------------------- streaming legacy guard on a URI path


def test_batch_writer_legacy_refusal_on_file_uri(spark, tmp_path):
    """The flat-layout refusal must FIRE — not silently skip — when the
    sink dir is addressed by URI (the object-store shape). Before round 4
    the check used os.listdir and swallowed the OSError."""
    from sagan_spark.streaming.pipeline import make_batch_writer

    legacy = str(tmp_path / "legacy_uri")
    os.makedirs(os.path.join(legacy, "fast"))
    open(os.path.join(legacy, "fast", "part-00000.parquet"), "wb").write(b"x")
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, sid long, sink string"
    )
    df = spark.createDataFrame(
        [("convA", 0, "user", "t", "none", _TS0.to_pydatetime(), 1, "fast")], schema
    )
    with pytest.raises(RuntimeError, match="flat part-"):
        make_batch_writer(f"file://{legacy}", ("fast",))(df, 0)


# ------------------------------------ track-state legacy blob migration


class _FakeState:
    """Just enough GroupState for driving a state fn directly."""

    def __init__(self, blob: str | None):
        self.exists = blob is not None
        self.get = (blob,) if blob is not None else None
        self.hasTimedOut = False
        self.updated: tuple | None = None

    def update(self, t):
        self.updated = t


def _role_rule(count: int) -> Rule:
    return Rule(
        sid=4000002,
        msg="role-wide retry window",
        sink="fast",
        contents=(ContentSpec("retry",),),
        after=AfterSpec(track="role", count=count, seconds=900),
    )


def test_role_state_adopts_legacy_flat_blob():
    """A checkpoint written before the hwm/late redelivery guard stored the
    track-key state as a flat {sid: [window_start, count]} map. Resuming
    from it must ADOPT those counters (not KeyError): with after count=2
    and a carried in-window count of 2, the next row emits — which a
    fresh-state restart would not."""
    from sagan_spark.streaming.pipeline import _make_role_state_fn

    rule = _role_rule(2)
    out_cols = ["conv_id", "turn_idx", "sid"]
    fn = _make_role_state_fn({rule.sid: rule}, out_cols)
    t0 = _TS0.value / 1e9  # epoch seconds of the carried window start
    legacy_blob = json.dumps({str(rule.sid): [t0, 2]})
    pdf = pd.DataFrame(
        {
            "conv_id": ["convZ"],
            "turn_idx": pd.array([5], dtype="int32"),
            "sid": pd.array([rule.sid], dtype="int64"),
            "ts": pd.Series([_TS0 + pd.Timedelta(seconds=60)]).astype("datetime64[us]"),
        }
    )
    state = _FakeState(legacy_blob)
    outs = list(fn(("user",), iter([pdf.copy()]), state))
    assert len(outs) == 1 and list(outs[0]["turn_idx"]) == [5]
    # migrated blob is the NEW format: counters carried, guard fields fresh
    blob = json.loads(state.updated[0])
    assert blob["counters"][str(rule.sid)][1] == 3
    assert blob["hwm"] == {"convZ": 5} and blob["late"] == 0

    # same input on genuinely fresh state: count=1, below the after bar
    fresh = _FakeState(None)
    assert list(fn(("user",), iter([pdf.copy()]), fresh)) == []


# ------------------------------------------- rule-meta size-based switch


def test_attach_rule_meta_join_equals_literal_map(spark):
    """attach_rule_meta's two strategies (literal map ≤500 rules, broadcast
    join above) must agree exactly — rows, nulls for unknown sids, and
    column order — at both a small and a catalog-scale rule set."""
    from sagan_spark.engine.route import attach_rule_meta
    from sagan_spark.rules.bulk import bulk_ruleset
    from sagan_spark.rules.canonical import CANONICAL

    for ruleset in (CANONICAL, bulk_ruleset(n_content=400, n_pcre=80, n_meta=40)):
        sids = [r.sid for r in ruleset.rules][:6] + [999]  # 999: unknown sid
        rows = [
            ("c%d" % i, i, "user", "txt", "none", _TS0.to_pydatetime(), s)
            for i, s in enumerate(sids)
        ]
        alerts = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, "
            "ts timestamp_ntz, sid long",
        )
        lit = attach_rule_meta(alerts, ruleset, max_literal_rules=10**6)
        join = attach_rule_meta(alerts, ruleset, max_literal_rules=0)
        assert lit.columns == join.columns
        assert [f.dataType for f in lit.schema.fields] == [
            f.dataType for f in join.schema.fields
        ]
        assert sorted(map(tuple, lit.collect()), key=lambda t: t[:2]) == sorted(
            map(tuple, join.collect()), key=lambda t: t[:2]
        )


# ------------------------------------------------- config/CLI hardening


def test_config_rules_entries_stay_raw_strings():
    from sagan_spark.config import parse_config

    cfg = parse_config("input: /x\nrules:\n  - 0123\n  - '007.rules'\n")
    assert cfg.rules == ("0123", "007.rules")


def test_config_track_hwm_cap_key():
    """The bounded-state knob for track-keyed streaming operators is a
    first-class engine config key (plumbed run_pipeline → run_stream →
    _make_role_state_fn; the bound itself is asserted in
    test_track_cardinality.test_hwm_map_bounded_at_cap)."""
    from sagan_spark.config import dump_config, parse_config

    cfg = parse_config("input: /x\nengine:\n  track_hwm_cap: 5\n")
    assert cfg.track_hwm_cap == 5
    assert parse_config(dump_config(cfg)) == cfg


def test_run_pipeline_validates_mode_paths(tmp_path):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from run_pipeline import main

    # resumable with only input → argparse error, not TypeError deep in Spark
    with pytest.raises(SystemExit):
        main(["--input", str(tmp_path), "--mode", "resumable"])
    with pytest.raises(SystemExit):
        main(["--input", str(tmp_path), "--mode", "stream"])
    with pytest.raises(SystemExit):  # stream with output but no checkpoint dir
        main(["--input", str(tmp_path), "--mode", "stream", "--output", str(tmp_path / "o")])
