"""Pure-Python stateless rule evaluation — the semantic source of truth.

One rule × one row. Used verbatim by the pandas oracle and by the
vectorized Spark match stage's exact-check path (after its vectorized
prefilters have narrowed candidates), so both implementations share the
*predicate* semantics defined in rules/model.py docstrings. Stateful
semantics (after/threshold/flexbits) are implemented independently in
engine/correlate.py and oracle/pandas_engine.py.
"""

from __future__ import annotations

import re
from functools import lru_cache

from .model import Rule

_FLAGMAP = {"i": re.IGNORECASE, "s": re.DOTALL, "m": re.MULTILINE}


@lru_cache(maxsize=4096)
def compile_re(pattern: str, flags: str = "") -> re.Pattern:
    """Compile a rule regex with ASCII class semantics (re.ASCII).

    Defined engine semantics: \\w \\d \\s \\b are ASCII-only — matching
    libpcre's byte-oriented default and Java regex's default, so the
    native rlike path, the vectorized Python path and the oracle agree on
    non-ASCII text (Python's default Unicode classes would make \\b/\\d
    diverge from the JVM around multibyte characters)."""
    f = re.ASCII
    for ch in flags:
        f |= _FLAGMAP[ch]
    return re.compile(pattern, f)


@lru_cache(maxsize=4096)
def meta_regex(template: str, values: tuple[str, ...], nocase: bool) -> re.Pattern:
    """meta_content '%sagan%' template + value list → one alternation regex
    compiled at load (SURVEY §2.2 P9). ASCII classes per compile_re."""
    alt = "(?:" + "|".join(re.escape(v) for v in values) + ")"
    pat = re.escape(template).replace(re.escape("%sagan%"), alt)
    return re.compile(pat, re.ASCII | (re.IGNORECASE if nocase else 0))


def match_contents(rule: Rule, text: str) -> bool:
    """Greedy first-match content-chain evaluation (model.ContentSpec)."""
    prev_end: int | None = None
    for c in rule.contents:
        hay = text.lower() if c.nocase else text
        needle = c.pattern.lower() if c.nocase else c.pattern
        if c.relative and prev_end is not None:
            start = prev_end + (c.distance or 0)
            pos = hay.find(needle, start)
            ok = pos != -1 and (c.within is None or pos <= prev_end + c.within)
        else:
            lo = c.offset or 0
            region = hay[lo : lo + c.depth] if c.depth is not None else hay[lo:]
            pos = region.find(needle)
            ok = pos != -1
            pos = (pos + lo) if ok else -1
        if c.negated:
            if ok:
                return False
        else:
            if not ok:
                return False
            prev_end = pos + len(needle)
    return True


def match_stateless(rule: Rule, text: str, role: str, tool: str, hour: int, dow: int) -> dict | None:
    """Evaluate every stateless predicate of ``rule`` against one row.

    Returns the extracted-field dict on match (possibly empty), or None.
    ``hour``/``dow``: UTC hour 0-23 and ISO weekday 1-7 of the row's ts.
    Null text fails any rule with a text predicate; null role/tool never
    satisfy a positive membership test (matches the native SQL path).
    """
    if text is None and rule.has_text_pred:
        return None
    if rule.roles is not None:
        if role is None:
            return None
        in_set = role in rule.roles
        if in_set == rule.roles_negated:
            return None
    if rule.tools is not None:
        if tool is None:
            return None
        in_set = tool in rule.tools
        if in_set == rule.tools_negated:
            return None
    at = rule.alert_time
    if at is not None:
        if not (at.hour_lo <= hour <= at.hour_hi):
            return None
        if at.days is not None and dow not in at.days:
            return None
    if rule.contents and not match_contents(rule, text):
        return None
    for p in rule.pcres:
        hit = compile_re(p.pattern, p.flags).search(text) is not None
        if hit == p.negated:
            return None
    for m in rule.meta_contents:
        if meta_regex(m.template, m.values, m.nocase).search(text) is None:
            return None

    extracted: dict[str, str] = {}
    for g in rule.groks:
        mo = compile_re(g.pattern, g.flags).search(text)
        if mo is None:
            if g.required:
                return None
        else:
            for k, v in mo.groupdict().items():
                if v is not None:
                    extracted[k] = v
    for h in rule.hashes:
        mo = compile_re(h.regex).search(text)
        if mo is None:
            if h.required:
                return None
        else:
            extracted[h.kind] = mo.group(0)
    for tk in rule.tokens:
        found = compile_re(tk.regex).findall(text)
        if len(found) < tk.position:
            if tk.required:
                return None
        else:
            val = found[tk.position - 1]
            extracted[tk.field] = val.lower() if tk.kind == "proto" else val
    for fname, default in rule.defaults:
        extracted.setdefault(fname, default)

    for fc in rule.field_conds:
        raw = extracted.get(fc.name)
        if raw is None:
            return None
        if fc.op in (">=", ">", "<=", "<", "=="):
            try:
                val = float(raw)
            except ValueError:
                return None
            ref = float(fc.value)  # type: ignore[arg-type]
            ok = {
                ">=": val >= ref,
                ">": val > ref,
                "<=": val <= ref,
                "<": val < ref,
                "==": val == ref,
            }[fc.op]
        elif fc.op == "in":
            ok = raw in fc.value  # type: ignore[operator]
        elif fc.op == "not_in":
            ok = raw not in fc.value  # type: ignore[operator]
        else:
            raise ValueError(f"unknown field op {fc.op}")
        if not ok:
            return None
    return extracted
