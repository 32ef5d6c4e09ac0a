"""Rule-text parser: the canonical rule set expressed as Sagan-style rule
lines must parse to dataclasses equal to rules/canonical.py, and a parsed
ruleset must drive the pipeline identically."""

from __future__ import annotations

import pytest

from sagan_spark.rules.canonical import CANONICAL
from sagan_spark.rules.parser import parse_rule, parse_rules

CANONICAL_TEXT = r"""
# canonical 13-rule fixture as rule lines
alert any any -> any any (msg:"assistant tool timeout after error"; sid:1000001; classtype:tool-failure; program:assistant; content:"error"; pcre:"/tool\s+timeout/i"; sink:fast;)
alert any any -> any any (msg:"credential mention near message start"; sid:1000002; classtype:credential; content:"credential"; nocase; offset:0; depth:30; sink:eve;)
alert any any -> any any (msg:"alpha->omega sequence without decoy"; sid:1000003; classtype:sequence; content:"alpha"; content:"omega"; distance:1; within:40; content:!"decoy"; sink:fast;)
alert any any -> any any (msg:"legacy protocol mention in office hours"; sid:1000004; classtype:protocol; meta_content:"%sagan%",ssh,ftp,telnet; alert_time:8-18; sink:syslog;)
alert any any -> any any (msg:"server error status code"; sid:1000005; classtype:http-error; normalize:"code=(?P<code>\d+)"; field:code>=500; fast_pattern:"code=",case; sink:eve;)
alert any any -> any any (msg:"md5 checksum observed"; sid:1000006; classtype:artifact; parse_hash:md5; sink:unified2;)
alert any any -> any any (msg:"origin outside allowlist"; sid:1000007; classtype:geo; country_code:isnot US|DE; sink:fast;)
alert any any -> any any (msg:"exec via blacklisted tool"; sid:1000008; classtype:exec; content:"exec"; enrich:tool_dim,blacklisted,is,true; sink:eve;)
alert any any -> any any (msg:"conversation in high-risk range"; sid:1000009; classtype:risk; enrich:risk_ranges,risk_tag,range_tag_is,high|critical; sink:syslog;)
alert any any -> any any (msg:"retry storm"; sid:1000010; classtype:storm; content:"retry"; after:track by_src, count 5, seconds 300; sink:fast;)
alert any any -> any any (msg:"policy refusal"; sid:1000011; classtype:refusal; pcre:"/refus/i"; fast_pattern:"refus",nocase; threshold:type limit, track by_src, count 2, seconds 600; sink:eve;)
alert any any -> any any (msg:"sudo after failed login"; sid:1000012; classtype:escalation; content:"sudo"; flexbits:isset,auth_fail; sink:unified2;)
alert any any -> any any (msg:"connection endpoint parsed"; sid:1000014; classtype:net; content:"connection from"; parse_src_ip:1; parse_port; parse_proto; sink:syslog;)
alert any any -> any any (msg:"failed login observed (state only)"; sid:1000013; classtype:auth; content:"login failed"; flexbits:set,auth_fail,900; noalert; sink:fast;)
"""


def test_canonical_roundtrip():
    parsed = parse_rules(CANONICAL_TEXT)
    assert len(parsed.rules) == len(CANONICAL.rules)
    for got, want in zip(parsed.rules, CANONICAL.rules):
        assert got == want, f"sid {want.sid}:\n got={got}\nwant={want}"


def test_parsed_ruleset_drives_pipeline(spark, tiny_path):
    from sagan_spark.engine import pipeline

    parsed = parse_rules(CANONICAL_TEXT)
    a = pipeline.run(spark, tiny_path, parsed)
    b = pipeline.run(spark, tiny_path, CANONICAL)
    assert a.sink_counts == b.sink_counts
    assert a.sid_counts == b.sid_counts


def test_parse_errors():
    with pytest.raises(ValueError, match="not a rule line"):
        parse_rule("drop any any (msg:x;)")
    with pytest.raises(ValueError, match="missing sid"):
        parse_rule('alert any any -> any any (msg:"x";)')
    with pytest.raises(ValueError, match="unknown rule option"):
        parse_rule('alert any any -> any any (sid:1; frobnicate:2;)')
    with pytest.raises(ValueError, match="content modifier"):
        parse_rule('alert any any -> any any (sid:1; nocase;)')
    with pytest.raises(ValueError, match="pcre must be"):
        parse_rule('alert any any -> any any (sid:1; pcre:"no-slashes";)')
    with pytest.raises(ValueError, match=r"unknown sink 'fsat' \(sinks are fast, eve, syslog, unified2\)"):
        parse_rules('alert any any -> any any (msg:"x"; sid:1; content:"a"; sink:fsat;)')
