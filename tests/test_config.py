"""Config-file entry point (S10): parse/dump round-trip, loud failures,
rule-file loading, and the pipeline actually running from one config +
one data path through scripts/run_pipeline.py."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from sagan_spark.config import (
    PipelineConfig,
    dump_config,
    load_config,
    load_ruleset,
    parse_config,
)

_EXAMPLE = """\
# sagan_spark.yaml — example from the module docstring
input: /data/transcripts
output: /data/alerts      # sink dir
mode: stream
rules:
  - rules/base.rules
  - rules/extra.rules
engine:
  shuffle_partitions: 4096
  state_ttl_minutes: 30
  max_files_per_trigger: 2
  stream_drain: true
  replay_chunk_rows: 500000
  checkpoint_dir: /data/ck
  master: local[8]
"""


def test_parse_example():
    cfg = parse_config(_EXAMPLE)
    assert cfg.input == "/data/transcripts"
    assert cfg.output == "/data/alerts"
    assert cfg.mode == "stream"
    assert cfg.rules == ("rules/base.rules", "rules/extra.rules")
    assert cfg.shuffle_partitions == 4096
    assert cfg.state_ttl_minutes == 30
    assert cfg.max_files_per_trigger == 2
    assert cfg.stream_drain is True
    assert cfg.replay_chunk_rows == 500000
    assert cfg.checkpoint_dir == "/data/ck"
    assert cfg.master == "local[8]"


def test_dump_parse_round_trip():
    cfg = parse_config(_EXAMPLE)
    assert parse_config(dump_config(cfg)) == cfg
    # defaults round-trip too (null scalars fall back to defaults)
    assert parse_config(dump_config(PipelineConfig())) == PipelineConfig()


def test_comment_and_quote_edge_cases():
    """YAML-compatible comment rule: '#' comments only at line start or
    after whitespace and never inside double quotes; apostrophes are
    ordinary characters."""
    cfg = parse_config(
        'input: /data/run#1       # fragment kept, comment dropped\n'
        'output: "/data/x # y"    # quoted hash kept\n'
    )
    assert cfg.input == "/data/run#1"
    assert cfg.output == "/data/x # y"
    cfg = parse_config("input: bob's data\n")
    assert cfg.input == "bob's data"


@pytest.mark.parametrize(
    "bad",
    [
        "inputt: /x",  # typo'd top-level key
        "engine:\n  matchmode: fused",  # typo'd engine key
        "rules:\n  not-a-list-item",  # malformed list
        "  orphan: 1",  # indented line outside a section
        "mode: nonsense",  # validated enum
        "mode: dynamic",  # removed: batch honours depends_on
        "engine:\n  match_mode: udf",  # removed match mode
        "engine:\n  match_mode: fused",  # the input picks the match plan
        "engine:\n  fold_dims: false",  # enrich conditions are always folded
        "rules:\n  - bad_sink.rules",  # a rule routed to no sink that exists
    ],
)
def test_bad_config_fails_loudly(bad, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    (tmp_path / "bad_sink.rules").write_text(
        'alert any any -> any any (msg:"typo"; content:"error"; sink:fsat; sid:1; rev:1;)\n'
    )
    with pytest.raises(ValueError):
        load_ruleset(parse_config(bad))


def test_round_trip_property():
    """Property: any valid PipelineConfig survives dump→parse unchanged
    (random field combinations — catches scalar-coercion and comment-rule
    edge cases the fixed examples miss)."""
    from hypothesis import given
    from hypothesis import strategies as st

    path = st.text(
        alphabet=st.characters(whitelist_categories=("L", "N"), whitelist_characters="/._-#'"),
        min_size=1,
        max_size=30,
    ).filter(lambda s: s.strip() == s and not s.isdigit())

    @given(
        st.builds(
            PipelineConfig,
            input=st.one_of(st.none(), path),
            output=st.one_of(st.none(), path),
            mode=st.sampled_from(["batch", "resumable", "stream"]),
            rules=st.lists(path, max_size=3).map(tuple),
            shuffle_partitions=st.one_of(st.none(), st.integers(1, 10000)),
            master=st.one_of(st.none(), st.just("local[8]")),
            state_ttl_minutes=st.one_of(st.none(), st.integers(1, 100)),
            max_files_per_trigger=st.integers(1, 10),
        )
    )
    def check(cfg):
        assert parse_config(dump_config(cfg)) == cfg

    check()
    # adversarial fixed cases the random alphabet may not hit every run
    for v in ("#leading-hash", "'quoted'", "123", "true", "null", "x #y"):
        cfg = PipelineConfig(input=v, rules=(v, "plain.rules"))
        assert parse_config(dump_config(cfg)) == cfg, v


def test_load_ruleset_merges_files(tmp_path):
    r1 = tmp_path / "a.rules"
    r1.write_text(
        'alert any any -> any any (msg:"one"; sid:5100001; content:"error"; sink:fast;)\n'
    )
    r2 = tmp_path / "b.rules"
    r2.write_text(
        'alert any any -> any any (msg:"two"; sid:5100002; content:"retry"; sink:eve;)\n'
    )
    cfg = PipelineConfig(rules=(str(r1), str(r2)))
    rs = load_ruleset(cfg)
    assert sorted(r.sid for r in rs.rules) == [5100001, 5100002]
    # no rules configured -> the built-in canonical set
    assert len(load_ruleset(PipelineConfig()).rules) > 5


def _run_pipeline_main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(root, "scripts", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(argv)


def test_pipeline_runs_from_config(spark, tiny_path, tiny_pdf, tmp_path, capsys):
    """One config + one data path runs the batch pipeline end-to-end, with
    rule files from the config and counts matching the pandas oracle."""
    from sagan_spark.oracle.pandas_engine import run_oracle

    rules = tmp_path / "cfg.rules"
    rules.write_text(
        'alert any any -> any any (msg:"cfg error rule"; sid:5100003; '
        'content:"error"; sink:fast;)\n'
        'alert any any -> any any (msg:"cfg retry window"; sid:5100004; '
        'content:"retry"; after:track by_dst, count 3, seconds 600; sink:eve;)\n'
    )
    cfg_path = tmp_path / "sagan_spark.yaml"
    cfg_path.write_text(
        f"input: {tiny_path}\n"
        "mode: batch\n"
        "rules:\n"
        f"  - {rules}\n"
        "engine:\n"
        "  master: local[4]\n"
    )
    # main's get_spark must leave the shared test session's settings alone
    # (tests/test_session.py); restore them anyway so a regression there
    # cannot leak into later tests
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        _run_pipeline_main(["--config", str(cfg_path)])
    finally:
        spark.conf.set(key, saved)
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = run_oracle(tiny_pdf, load_ruleset(load_config(str(cfg_path)))).sid_counts
    assert {int(k): v for k, v in got["sid_counts"].items()} == want
