"""Canonical 13-rule fixture ruleset (FIXTURES.md §3) + flexbit setter.

Every SURVEY.md §2 operator row has ≥1 firing and ≥1 non-firing case in
the planted transcript fixture (datagen/transcripts.py). Golden counts
come from the pandas oracle, never hand-maintained.
"""

from __future__ import annotations

from .model import (
    AfterSpec,
    AlertTime,
    ContentSpec,
    EnrichCond,
    FieldCond,
    FlexbitSpec,
    GrokSpec,
    HashSpec,
    MetaContentSpec,
    PcreSpec,
    Rule,
    RuleSet,
    ThresholdSpec,
    TokenSpec,
)

CANONICAL = RuleSet(
    rules=(
        # P1 + P3 + P8: role prefilter, content, pcre
        Rule(
            sid=1000001,
            msg="assistant tool timeout after error",
            sink="fast",
            rule_class="tool-failure",
            roles=("assistant",),
            contents=(ContentSpec("error"),),
            pcres=(PcreSpec(r"tool\s+timeout", "i"),),
        ),
        # P4 + P5: nocase content bounded by offset/depth
        Rule(
            sid=1000002,
            msg="credential mention near message start",
            sink="eve",
            rule_class="credential",
            contents=(ContentSpec("credential", nocase=True, offset=0, depth=30),),
        ),
        # P3 + P6 + P7: content chain with distance/within and negation
        Rule(
            sid=1000003,
            msg="alpha->omega sequence without decoy",
            sink="fast",
            rule_class="sequence",
            contents=(
                ContentSpec("alpha"),
                ContentSpec("omega", distance=1, within=40),
                ContentSpec("decoy", negated=True),
            ),
        ),
        # P9 + P15: meta_content over protocol list, office-hours gate
        Rule(
            sid=1000004,
            msg="legacy protocol mention in office hours",
            sink="syslog",
            rule_class="protocol",
            meta_contents=(MetaContentSpec("%sagan%", ("ssh", "ftp", "telnet")),),
            alert_time=AlertTime(8, 18),
        ),
        # P13: grok extraction + numeric field condition
        Rule(
            sid=1000005,
            msg="server error status code",
            sink="eve",
            rule_class="http-error",
            groks=(GrokSpec(r"code=(?P<code>\d+)"),),
            field_conds=(FieldCond("code", ">=", 500),),
            fast_pattern=("code=", False),
        ),
        # P12: md5 literal present (sha1 must NOT fire it)
        Rule(
            sid=1000006,
            msg="md5 checksum observed",
            sink="unified2",
            rule_class="artifact",
            hashes=(HashSpec("md5"),),
        ),
        # J1: role_dim origin isnot (GeoIP country is/isnot analogue)
        Rule(
            sid=1000007,
            msg="origin outside allowlist",
            sink="fast",
            rule_class="geo",
            enrich=(EnrichCond("role_dim", "origin", "isnot", ("US", "DE")),),
        ),
        # J4 + P3: blacklisted tool (intel indicator) + content
        Rule(
            sid=1000008,
            msg="exec via blacklisted tool",
            sink="eve",
            rule_class="exec",
            contents=(ContentSpec("exec"),),
            enrich=(EnrichCond("tool_dim", "blacklisted", "is", (True,)),),
        ),
        # J2: CIDR-style range membership on hashed conv key
        Rule(
            sid=1000009,
            msg="conversation in high-risk range",
            sink="syslog",
            rule_class="risk",
            enrich=(EnrichCond("risk_ranges", "risk_tag", "range_tag_is", ("high", "critical")),),
        ),
        # C1: after — alert only once >5 retries in 300s per conv
        Rule(
            sid=1000010,
            msg="retry storm",
            sink="fast",
            rule_class="storm",
            contents=(ContentSpec("retry"),),
            after=AfterSpec(track="conv_id", count=5, seconds=300),
        ),
        # C2: threshold limit — first 2 refusals per 600s window per conv
        Rule(
            sid=1000011,
            msg="policy refusal",
            sink="eve",
            rule_class="refusal",
            pcres=(PcreSpec(r"refus", "i"),),
            fast_pattern=("refus", True),
            threshold=ThresholdSpec(type="limit", track="conv_id", count=2, seconds=600),
        ),
        # C3/C5: fires on sudo while auth_fail bit set (set by 1000013)
        Rule(
            sid=1000012,
            msg="sudo after failed login",
            sink="unified2",
            rule_class="escalation",
            contents=(ContentSpec("sudo"),),
            flexbits=(FlexbitSpec("isset", "auth_fail"),),
        ),
        # P10/P11: parse_src_ip / parse_port / parse_proto token extraction
        # ([PUB src/parsers/parse-ip.c]); the partial plant (no IP) must not
        # fire — required-token semantics. Native-compilable: a JVM
        # regexp_extract_all expression, no Python.
        Rule(
            sid=1000014,
            msg="connection endpoint parsed",
            sink="syslog",
            rule_class="net",
            contents=(ContentSpec("connection from"),),
            tokens=(
                TokenSpec("src_ip", "ip", 1),
                TokenSpec("port", "port", 1),
                TokenSpec("proto", "proto", 1),
            ),
        ),
        # flexbit setter (noalert, Sagan idiom): sets auth_fail for 900s
        Rule(
            sid=1000013,
            msg="failed login observed (state only)",
            sink="fast",
            noalert=True,
            rule_class="auth",
            contents=(ContentSpec("login failed"),),
            flexbits=(FlexbitSpec("set", "auth_fail", expire=900),),
        ),
    )
)
