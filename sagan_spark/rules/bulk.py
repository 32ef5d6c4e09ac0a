"""Bulk rule-set generator — realistic rule-set width for benchmarks.

Production Sagan deployments load hundreds-to-thousands of rules of which
almost all never fire ([PUB] quadrantsec sagan-rules corpus); per-event
cost is dominated by predicate evaluation, not alert handling. The
canonical 13-rule fixture is therefore unrepresentatively cheap: at bench
scale it is memory-bandwidth-bound (string shoveling), not compute-bound,
which also makes single-box core-scaling measurements meaningless.

``bulk_ruleset`` extends the canonical set with deterministic synthetic
rules across the predicate families:
- native content rules on rare/absent literals (JVM substring scans),
- pcre rules with common-word fast-pattern hints (vectorized Python regex
  over the candidate slice),
- meta_content alternation rules.

All generated rules are ordinary model.Rule objects: the oracle evaluates
them identically, so correctness tests cover the bulk set too.
"""

from __future__ import annotations

import dataclasses

from .canonical import CANONICAL
from .model import SINKS, ContentSpec, MetaContentSpec, PcreSpec, Rule, RuleSet

# words that occur in the synthetic transcript templates (rare→common)
_COMMON = ["the", "and", "report", "results", "summary", "plan", "request", "data"]
_RARE = ["deployment", "watermark", "checkpoint", "escalation", "translation"]


def bulk_ruleset(
    n_content: int = 20, n_pcre: int = 16, n_meta: int = 8, production: bool = False
) -> RuleSet:
    """``production=True`` is the realistic-selectivity profile for
    benchmarks: the two enrich-only canonical rules (geo/risk), which fire
    on ~half of all turns in the dense correctness fixture, additionally
    require a rare content literal — bringing total alert volume to the
    ≪5% of turns typical of a deployed SIEM. Correctness fixtures keep the
    dense profile (every operator needs firing cases)."""
    base = list(CANONICAL.rules)
    if production:
        for i, r in enumerate(base):
            if r.sid == 1000007:
                base[i] = dataclasses.replace(r, contents=(ContentSpec("escalation"),))
            elif r.sid == 1000009:
                base[i] = dataclasses.replace(r, contents=(ContentSpec("deployment"),))
    rules: list[Rule] = base
    sid = 2000000
    for i in range(n_content):
        # absent literal → pure JVM scan, never fires (the common case)
        rules.append(
            Rule(
                sid=sid,
                msg=f"bulk content {i}",
                sink=SINKS[i % len(SINKS)],
                rule_class="bulk",
                contents=(
                    ContentSpec(f"zq{i}xv marker", nocase=i % 3 == 0),
                    ContentSpec("never-decoy", negated=True),
                ),
            )
        )
        sid += 1
    for i in range(n_pcre):
        w = _COMMON[i % len(_COMMON)]
        r = _RARE[i % len(_RARE)]
        rules.append(
            Rule(
                sid=sid,
                msg=f"bulk pcre {i}",
                sink=SINKS[i % len(SINKS)],
                rule_class="bulk",
                pcres=(PcreSpec(rf"{w}\s+\w+ine{i}\b", "i"), PcreSpec(rf"{r}{i}q", negated=True)),
                fast_pattern=(w, True),
            )
        )
        sid += 1
    for i in range(n_meta):
        rules.append(
            Rule(
                sid=sid,
                msg=f"bulk meta {i}",
                sink=SINKS[i % len(SINKS)],
                rule_class="bulk",
                meta_contents=(
                    MetaContentSpec("%sagan%", (f"proto{i}a", f"proto{i}b", f"proto{i}c")),
                ),
            )
        )
        sid += 1
    return RuleSet(tuple(rules))
