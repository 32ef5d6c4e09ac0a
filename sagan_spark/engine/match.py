"""Vectorized match stage — Sagan's per-event rule loop, batch-wise.

The reference evaluates every rule against every event in C worker threads
([PUB src/processors/engine.c]; SURVEY.md §3.1). Here the whole rule set is
compiled once on the driver into (a) numpy/pandas vectorized masks and
(b) a single ``mapInPandas`` stage that emits one output row per
(turn, matched sid). Regexes compile once per executor process
(lru_cache in rules/eval.py) — the broadcast-compiled-ruleset requirement
of BASELINE.json:6.

Scale design:
- ONE pass over the input (no per-rule scans): at 100 TB the scan is the
  dominant cost; N rules share it, exactly like the reference's single
  event loop.
- Arrow batches stream through Python with bounded memory
  (spark.sql.execution.arrow.maxRecordsPerBatch).
- Inside a batch everything is vectorized (pandas str ops / numpy masks);
  the only Python-level loop is the content-chain exact check
  (distance/within threading, SURVEY §2.2 P6) over rows already narrowed
  by vectorized literal-containment masks.
- Compile-time constant folding: enrichment conditions over the tiny
  static role/tool dims fold into vectorized role/tool membership masks
  (the dims are total functions of an input column), and range conditions
  fold into interval checks on a JVM-computed ``risk_key`` column. The
  dim lookups in engine/enrich.py then only ATTACH attributes — they
  filter nothing — so the match stage's output is already minimal.
  This is the Snort "fast pattern" idea applied at plan level (SURVEY §4.1).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..datagen.dims import BLUEDOT_DIM, RISK_RANGES, ROLE_DIM, TOOL_DIM
from ..rules.eval import compile_re, match_contents, meta_regex
from ..rules.model import Rule, RuleSet

MATCH_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampNTZType()),
        StructField("risk_key", LongType()),
        StructField("sid", LongType()),
        StructField("extracted", MapType(StringType(), StringType())),
    ]
)

RISK_MOD = 1000  # pmod(crc32(conv_id), RISK_MOD) — CIDR-bucket stand-in key


def risk_key_col(conv_id: str = "conv_id"):
    """JVM-side risk bucket key (portable: zlib.crc32 == Spark crc32)."""
    return F.pmod(F.crc32(F.encode(F.col(conv_id), "utf-8")), F.lit(RISK_MOD)).cast("long")


def _fold_enrich(rule: Rule):
    """Fold dim-table enrich conditions into (role_set, tool_set, intervals).

    Returns (roles_allowed | None, tools_allowed | None,
    list[(lo, hi)] | None). None = unconstrained. Folding is exact because
    the static dims (datagen/dims.py) key on an input column and are total
    over its domain.
    """
    roles_ok: set[str] | None = None
    tools_ok: set[str] | None = None
    intervals: list[tuple[int, int]] | None = None
    for ec in rule.enrich:
        if ec.dim == "role_dim":
            d = ROLE_DIM
            if ec.op == "is":
                ok = set(d.loc[d[ec.fieldname].isin(ec.values), "role"])
            elif ec.op == "isnot":
                ok = set(d.loc[~d[ec.fieldname].isin(ec.values), "role"])
            else:
                raise ValueError(f"unsupported role_dim op {ec.op}")
            roles_ok = ok if roles_ok is None else roles_ok & ok
        elif ec.dim in ("tool_dim", "bluedot_dim"):
            d = TOOL_DIM if ec.dim == "tool_dim" else BLUEDOT_DIM
            if ec.op == "is":
                ok = set(d.loc[d[ec.fieldname].isin(ec.values), "tool"])
            elif ec.op == "isnot":
                ok = set(d.loc[~d[ec.fieldname].isin(ec.values), "tool"])
            else:
                raise ValueError(f"unsupported {ec.dim} op {ec.op}")
            tools_ok = ok if tools_ok is None else tools_ok & ok
        elif ec.dim == "risk_ranges":
            d = RISK_RANGES
            if ec.op == "range_tag_is":
                sel = d.loc[d["risk_tag"].isin(ec.values)]
            elif ec.op == "in_any_range":
                sel = d
            else:
                raise ValueError(f"unsupported risk_ranges op {ec.op}")
            ivs = list(zip(sel["lo"].astype(int), sel["hi"].astype(int)))
            intervals = ivs if intervals is None else [iv for iv in intervals if iv in ivs]
    return roles_ok, tools_ok, intervals


def _rule_mask(rule: Rule, pdf: pd.DataFrame, folded) -> np.ndarray:
    """Vectorized candidate mask for one rule over one Arrow batch.

    Null semantics (identical to the native SQL path and the oracle):
    null role/tool never satisfy a positive membership test; null text
    fails any rule that has a text predicate."""
    n = len(pdf)
    mask = np.ones(n, dtype=bool)
    role = pdf["role"]
    tool = pdf["tool"]
    text = pdf["text"]
    if rule.has_text_pred:
        mask &= text.notna().to_numpy()
        text = text.fillna("")

    if rule.roles is not None:
        m = role.isin(rule.roles).to_numpy()
        mask &= (~m & role.notna().to_numpy()) if rule.roles_negated else m
    if rule.tools is not None:
        m = tool.isin(rule.tools).to_numpy()
        mask &= (~m & tool.notna().to_numpy()) if rule.tools_negated else m

    roles_ok, tools_ok, intervals = folded
    if roles_ok is not None:
        mask &= role.isin(list(roles_ok)).to_numpy()
    if tools_ok is not None:
        mask &= tool.isin(list(tools_ok)).to_numpy()
    if intervals is not None:
        rk = pdf["risk_key"].to_numpy()
        im = np.zeros(n, dtype=bool)
        for lo, hi in intervals:
            im |= (rk >= lo) & (rk <= hi)
        mask &= im

    at = rule.alert_time
    if at is not None:
        hour = pdf["hour"].to_numpy()
        mask &= (hour >= at.hour_lo) & (hour <= at.hour_hi)
        if at.days is not None:
            mask &= np.isin(pdf["dow"].to_numpy(), at.days)
    if not mask.any():
        return mask

    # content predicates (P3-P7): vectorize absolute ones exactly
    has_chain = False
    for c in rule.contents:
        if c.relative:
            has_chain = True
            # narrow by plain containment; exact chain check later
            hay = text.str.lower() if c.nocase else text
            needle = c.pattern.lower() if c.nocase else c.pattern
            if not c.negated:
                mask &= hay.str.contains(needle, regex=False).to_numpy()
            continue
        hay = text
        if c.offset is not None or c.depth is not None:
            lo = c.offset or 0
            hay = hay.str.slice(lo, lo + c.depth if c.depth is not None else None)
        if c.nocase:
            hay = hay.str.lower()
        needle = c.pattern.lower() if c.nocase else c.pattern
        m = hay.str.contains(needle, regex=False).to_numpy()
        mask &= ~m if c.negated else m
        if not mask.any():
            return mask

    for p in rule.pcres:
        rx = compile_re(p.pattern, p.flags)
        m = text.str.contains(rx).to_numpy()
        mask &= ~m if p.negated else m
    for mc in rule.meta_contents:
        rx = meta_regex(mc.template, mc.values, mc.nocase)
        mask &= text.str.contains(rx).to_numpy()
    for g in rule.groks:
        if g.required:
            mask &= text.str.contains(compile_re(g.pattern, g.flags)).to_numpy()
    for h in rule.hashes:
        if h.required:
            mask &= text.str.contains(compile_re(h.regex)).to_numpy()
    for tk in rule.tokens:
        if tk.required:
            mask &= (text.str.count(compile_re(tk.regex)) >= tk.position).to_numpy()

    # exact chain semantics on the (few) remaining candidates
    if has_chain and mask.any():
        idx = np.flatnonzero(mask)
        tv = text.to_numpy()
        for i in idx:
            if not match_contents(rule, tv[i]):
                mask[i] = False
    return mask


def _extract(rule: Rule, sub: pd.DataFrame) -> pd.Series:
    """Vectorized grok/hash extraction for matched rows → Series of dicts."""
    n = len(sub)
    if not (rule.groks or rule.hashes or rule.tokens or rule.defaults):
        return pd.Series([{}] * n, index=sub.index)
    frames: list[pd.DataFrame] = []
    for g in rule.groks:
        rx = compile_re(g.pattern, g.flags)
        ext = sub["text"].str.extract(rx)  # named groups → columns
        frames.append(ext)
    for h in rule.hashes:
        rx = compile_re("(" + h.regex + ")")
        ext = sub["text"].str.extract(rx)
        ext.columns = [h.kind]
        frames.append(ext)
    for tk in rule.tokens:
        vals = sub["text"].str.findall(compile_re(tk.regex)).str[tk.position - 1]
        if tk.kind == "proto":
            vals = vals.str.lower()
        frames.append(vals.to_frame(name=tk.field))
    merged = pd.concat(frames, axis=1) if frames else pd.DataFrame(index=sub.index)
    for fname, default in rule.defaults:
        if fname in merged.columns:
            merged[fname] = merged[fname].fillna(default)
        else:
            merged[fname] = default
    dicts = [
        {k: v for k, v in row.items() if isinstance(v, str)}
        for row in merged.to_dict("records")
    ]
    return pd.Series(dicts, index=sub.index)


def _field_cond_mask(rule: Rule, extracted: pd.Series) -> np.ndarray:
    if not rule.field_conds:
        return np.ones(len(extracted), dtype=bool)
    mask = np.ones(len(extracted), dtype=bool)
    for fc in rule.field_conds:
        vals = extracted.map(lambda d: d.get(fc.name))
        if fc.op in (">=", ">", "<=", "<", "=="):
            num = pd.to_numeric(vals, errors="coerce")
            ref = float(fc.value)  # type: ignore[arg-type]
            ops = {
                ">=": num >= ref,
                ">": num > ref,
                "<=": num <= ref,
                "<": num < ref,
                "==": num == ref,
            }
            mask &= ops[fc.op].fillna(False).to_numpy()
        elif fc.op == "in":
            mask &= vals.isin(list(fc.value)).fillna(False).to_numpy()  # type: ignore[arg-type]
        elif fc.op == "not_in":
            # missing field fails BOTH polarities (mirrors rules/eval.py:
            # raw is None → no match), so notna() guards the negation
            mask &= (vals.notna() & ~vals.isin(list(fc.value))).to_numpy()  # type: ignore[arg-type]
    return mask


def make_matcher(
    ruleset: RuleSet,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Compile the rule set into a mapInPandas function.

    The returned closure (and the RuleSet inside it) is serialized once per
    task; regexes compile lazily per executor process.
    """
    folded = {r.sid: _fold_enrich(r) for r in ruleset.rules}
    rules = ruleset.rules
    out_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "risk_key"]

    def matcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # containment prefilters intentionally reuse grouped regexes
        warnings.filterwarnings("ignore", message=".*has match groups.*")
        for pdf in batches:
            outs: list[pd.DataFrame] = []
            for rule in rules:
                mask = _rule_mask(rule, pdf, folded[rule.sid])
                if not mask.any():
                    continue
                sub = pdf.loc[mask]
                extracted = _extract(rule, sub)
                fmask = _field_cond_mask(rule, extracted)
                if not fmask.any():
                    continue
                sub = sub.loc[fmask]
                out = sub[out_cols].copy()
                out["sid"] = np.int64(rule.sid)
                out["extracted"] = extracted.loc[fmask]
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="object") for f in MATCH_SCHEMA.fields}
                )

    return matcher


# ---------------------------------------------------------------------------
# Native rule compilation — the Spark-first fast path.
#
# A rule is native-compilable when every predicate has an exactly-equivalent
# Spark SQL expression: role/tool sets, folded enrich conditions,
# alert_time, ABSOLUTE contents (offset/depth/nocase/negated — char-based
# substring and ASCII lowercase are identical in Python and the JVM),
# '%sagan%'-template meta_contents (alternation of literals → OR of
# contains), and hash extraction ([a-f0-9]{N} with \b — identical in Java
# and Python regex). pcre, grok (named-group dialects differ), relative
# content chains and field conditions stay on the vectorized UDF path.
#
# The rule set compiles to Spark SQL text in pure Python, and each
# projection reaches the JVM as one F.expr / filter string: one py4j call,
# where building the same tree Column by Column took one per node
# (thousands per run). Chains nest left-deep (_chain), since the parser
# balances a flat ``a AND b AND c AND d`` into another tree and plan, and
# every literal goes through _sql_str.
# ---------------------------------------------------------------------------

# Spark's parser keeps backslashes in string literals under this setting,
# so _sql_str's escapes would reach the JVM verbatim and match wrong text.
_RAW_LITERALS_CONF = "spark.sql.parser.escapedStringLiterals"


def check_sql_literals(spark) -> None:
    """Raise unless ``spark`` parses string literals the way _sql_str
    escapes them (every rendered expression depends on it)."""
    if spark.conf.get(_RAW_LITERALS_CONF, "false").strip().lower() == "true":
        raise ValueError(
            f"{_RAW_LITERALS_CONF}=true: the engine renders its rule "
            "expressions as Spark SQL text with escaped string literals, "
            "which this setting would read verbatim; unset it for the session"
        )


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Always single-quoted; ``\\`` is
    escaped before ``'`` (the parser unescapes both), and ``${`` becomes
    ``$\\{`` so the parser's ``${var}`` substitution leaves it alone (the
    parser reads ``\\{`` back as ``{``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{") + "'"


def _sql_lit(v: int | str) -> str:
    """A rule field as a Spark SQL literal, typed as ``F.lit`` types it
    (an integer is INT, or BIGINT past 32 bits)."""
    if isinstance(v, str):
        return _sql_str(v)
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"no SQL literal for {v!r}")


def _sql_in(col: str, values) -> str:
    """``col IN (...)``; ``false`` for no values — SQL has no empty IN
    list, and an empty ``isin`` is false, NULL ``col`` included."""
    values = list(values)
    if not values:
        return "false"
    return f"({col} IN ({', '.join(_sql_lit(v) for v in values)}))"


def _between(col: str, lo: int, hi: int) -> str:
    return f"(({col} >= {int(lo)}) AND ({col} <= {int(hi)}))"


def _contains(hay: str, needle: str) -> str:
    return f"contains({hay}, {_sql_str(needle)})"


# Longest chain _chain nests: each level is a parser recursion, and a few
# hundred exceed Spark's parser ("too complex to parse").
_NEST_MAX = 64


def _chain(op: str, terms: list[str], empty: str) -> str:
    """``terms`` joined by ``op`` (AND / OR), nested left-deep
    ``((a op b) op c)``, or ``empty`` when there are none. The parser
    would balance a flat ``a op b op c op d`` into ``(a op b) op (c op
    d)``: the same predicate in another plan. Past _NEST_MAX terms that
    flat chain is used."""
    if not terms:
        return empty
    if len(terms) > _NEST_MAX:
        return "(" + f" {op} ".join(terms) + ")"
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} {op} {t})"
    return out


def _ascii(s: str) -> bool:
    return all(ord(ch) < 128 for ch in s)


import re as _re

# Escapes/constructs whose semantics differ (or may differ) between Python
# re and Java java.util.regex — any hit keeps the pattern on the UDF path.
_PCRE_UNSAFE = _re.compile(r"\\[1-9]|\\[AZzGuUpPkKX]|\+\+|\*\+|\?\+")
_ALLOWED_INLINE = _re.compile(r"\(\?(?::|[ism]+\))")  # (?: and (?i)/(?ism)


def _java_safe_pcre(p) -> bool:
    """True iff the pattern is in the conservative subset where Python re
    and Java regex agree on ASCII text: literals, classes, \\s \\w \\d \\b,
    ., ^, $, alternation, standard quantifiers, plain/(?:)/(?ism) groups,
    flags i/s/m.

    Python-side compilation pins re.ASCII (rules/eval.compile_re), so
    class and case-fold semantics match Java's defaults on both paths —
    including the historical (?i) non-ASCII folds (ſ→s, K→k) which ASCII
    mode disables. The engine≡oracle differential tests guard this."""
    pat = p.pattern
    if not _ascii(pat) or not set(p.flags) <= {"i", "s", "m"}:
        return False
    if _PCRE_UNSAFE.search(pat):
        return False
    for m in _re.finditer(r"\(\?", pat):
        if not _ALLOWED_INLINE.match(pat, m.start()):
            return False
    return True


def _required_literal(pattern: str) -> str | None:
    """Longest literal substring that EVERY match of ``pattern`` must
    contain, or None when none can be derived safely. Used to guard
    per-row ``rlike`` evaluation with a cheap substring scan (guide §1.2
    step 2 / Sagan's fast-pattern idea applied to the JVM path): codegen's
    lazy AND skips the regex machinery on rows that cannot match.

    Deliberately conservative — any alternation, group, or character
    class bails (their presence can make any literal optional), escapes
    other than the known zero-width/class ones bail, and a token under a
    ``?``/``*``/``{}`` quantifier is dropped from its run (``+`` keeps
    the token — required at least once — but ends the run, since repeats
    break adjacency). Returns runs of length ≥ 3 only; shorter guards
    filter nothing."""
    if any(c in pattern for c in "|(["):
        return None
    runs: list[str] = []
    cur: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        tok: str | None
        if ch == "\\":
            if i + 1 >= n:
                return None
            nxt = pattern[i + 1]
            if nxt in "wWdDsSbB":
                tok = None  # class / zero-width escape: breaks the run
            elif nxt.isalnum():
                return None  # backref, \A/\Z, \p… — bail, stay safe
            else:
                tok = nxt  # escaped literal metachar
            i += 2
        elif ch in "^$.":
            tok = None
            i += 1
        elif ch in "?*+{}":
            return None  # dangling quantifier / brace — bail
        else:
            tok = ch
            i += 1
        if i < n and pattern[i] in "?*+{":
            q = pattern[i]
            if q == "{":
                j = pattern.find("}", i)
                if j < 0:
                    return None
                i = j + 1
            else:
                i += 1
            if i < n and pattern[i] == "?":  # lazy marker
                i += 1
            if q == "+" and tok is not None:
                cur.append(tok)  # x+ requires one x; adjacency still breaks
            runs.append("".join(cur))
            cur = []
            continue
        if tok is None:
            runs.append("".join(cur))
            cur = []
        else:
            cur.append(tok)
    runs.append("".join(cur))
    best = max(runs, key=len, default="")
    return best if len(best) >= 3 else None


def native_compilable(rule: Rule) -> bool:
    if rule.groks or rule.field_conds:
        return False
    # optional (required=False) tokens/hashes stay on the UDF path: the
    # native map would carry a key→NULL/'' entry where the oracle omits
    # the key entirely
    if any(not tk.required for tk in rule.tokens):
        return False
    if any(not h.required for h in rule.hashes):
        return False
    # a default whose name collides with an extractor key needs the
    # setdefault semantics only the UDF path implements (the native
    # map_from_arrays would hit Spark's duplicate-map-key policy)
    keys = {h.kind for h in rule.hashes} | {tk.field for tk in rule.tokens}
    if any(f in keys for f, _ in rule.defaults):
        return False
    if any(not _java_safe_pcre(p) for p in rule.pcres):
        return False
    if any(c.relative for c in rule.contents):
        return False
    if any(c.nocase and not _ascii(c.pattern) for c in rule.contents):
        return False
    for mc in rule.meta_contents:
        if mc.template != "%sagan%" or not all(_ascii(v) for v in mc.values):
            return False
    return True


_TEXT = "`text`"
_LOWER_TEXT = "lower(`text`)"


def _native_cond(rule: Rule, folded, low: str = _LOWER_TEXT) -> str:
    """The rule's predicate as Spark SQL text.

    ``low``: the SQL of ``lower(text)``. The fused/hybrid projections
    evaluate MANY rules in one Project and pass their shared `_lct`
    column: Catalyst's subexpression elimination does not reach inside the
    per-rule CASE branches, so a shared column evaluates lower() once per
    row instead of once per nocase predicate."""
    terms: list[str] = []
    if rule.roles is not None:
        m = _sql_in("`role`", rule.roles)
        terms.append(f"(NOT {m})" if rule.roles_negated else m)
    if rule.tools is not None:
        m = _sql_in("`tool`", rule.tools)
        terms.append(f"(NOT {m})" if rule.tools_negated else m)
    roles_ok, tools_ok, intervals = folded
    if roles_ok is not None:
        terms.append(_sql_in("`role`", sorted(roles_ok)))
    if tools_ok is not None:
        terms.append(_sql_in("`tool`", sorted(tools_ok)))
    if intervals is not None:
        terms.append(_chain("OR", [_between("`risk_key`", lo, hi) for lo, hi in intervals], "false"))
    at = rule.alert_time
    if at is not None:
        terms.append(_between("`hour`", at.hour_lo, at.hour_hi))
        if at.days is not None:
            terms.append(_sql_in("`dow`", at.days))
    for c in rule.contents:
        if c.offset is not None or c.depth is not None:
            lo = c.offset or 0
            ln = c.depth if c.depth is not None else (1 << 30)
            # substring-then-lower (NOT the shared lowered column):
            # lower() may change string length for some code points, so
            # the window must be taken on the original text
            hay = f"substring({_TEXT}, {lo + 1}, {ln})"
            if c.nocase:
                hay = f"lower({hay})"
        else:
            hay = low if c.nocase else _TEXT
        m = _contains(hay, c.pattern.lower() if c.nocase else c.pattern)
        terms.append(f"(NOT {m})" if c.negated else m)
    for p in rule.pcres:
        if _re.escape(p.pattern) == p.pattern and "s" not in p.flags and "m" not in p.flags:
            # literal-only pattern: substring scan beats per-row regex
            if "i" in p.flags:
                m = _contains(low, p.pattern.lower())
            else:
                m = _contains(_TEXT, p.pattern)
        else:
            flags = "".join(ch for ch in p.flags if ch in "ism")
            m = f"({_TEXT} RLIKE {_sql_str((f'(?{flags})' if flags else '') + p.pattern)})"
            # guard the regex with its required literal (when one can be
            # derived): codegen's lazy AND skips the per-row regex on the
            # (typically vast) majority of rows that can't match
            req = _required_literal(p.pattern)
            if req is not None and _ascii(req):
                if "i" in p.flags:
                    m = f"({_contains(low, req.lower())} AND {m})"
                else:
                    m = f"({_contains(_TEXT, req)} AND {m})"
        terms.append(f"(NOT {m})" if p.negated else m)
    for mc in rule.meta_contents:
        hay = low if mc.nocase else _TEXT
        terms.append(
            _chain("OR", [_contains(hay, v.lower() if mc.nocase else v) for v in mc.values], "false")
        )
    for h in rule.hashes:
        if h.required:
            terms.append(f"({_TEXT} RLIKE {_sql_str(h.regex)})")
    for tk in rule.tokens:
        if tk.required:
            terms.append(
                f"(size(regexp_extract_all({_TEXT}, {_sql_str(tk.regex)}, {tk.group})) >= {tk.position})"
            )
    return _chain("AND", terms, "true")


def _native_extracted(rule: Rule) -> str:
    """The rule's ``extracted`` map as Spark SQL text."""
    entries: list[str] = []
    for h in rule.hashes:
        entries += [_sql_str(h.kind), f"regexp_extract({_TEXT}, {_sql_str(h.regex)}, 0)"]
    for tk in rule.tokens:
        val = (
            f"try_element_at(regexp_extract_all({_TEXT}, {_sql_str(tk.regex)}, {tk.group}), "
            f"{tk.position})"
        )
        if tk.kind == "proto":
            val = f"lower({val})"
        entries += [_sql_str(tk.field), val]
    for fname, default in rule.defaults:
        entries += [_sql_str(fname), _sql_lit(default)]
    if not entries:
        return "CAST(map() AS MAP<STRING, STRING>)"
    return f"map_from_arrays(array({', '.join(entries[0::2])}), array({', '.join(entries[1::2])}))"


def _coarse_prefilter(rules: list[Rule], folded: dict, low: str) -> str:
    """OR of per-rule cheap Spark-native conditions, as Spark SQL text —
    the fast-pattern prune that keeps non-candidate rows out of the Arrow
    crossing. ``low``: the shared lower(text), see _native_cond."""
    conds: list[str] = []
    for rule in rules:
        terms: list[str] = []
        if rule.roles is not None and not rule.roles_negated:
            terms.append(_sql_in("`role`", rule.roles))
        roles_ok, tools_ok, _ = folded[rule.sid]
        if roles_ok is not None:
            terms.append(_sql_in("`role`", sorted(roles_ok)))
        if tools_ok is not None:
            terms.append(_sql_in("`tool`", sorted(tools_ok)))
        fp = rule.fast_pattern
        if fp is None:
            for c in rule.contents:
                if not c.negated and not c.relative and c.offset is None and c.depth is None:
                    fp = (c.pattern, c.nocase)
                    break
        if fp is None:
            for c in rule.contents:
                if not c.negated:
                    fp = (c.pattern, c.nocase)
                    break
        if fp is not None:
            lit_, nocase = fp
            terms.append(_contains(low if nocase else _TEXT, lit_.lower() if nocase else lit_))
        conds.append(_chain("AND", terms, "true"))
    return _chain("OR", conds, "false")


def _prepare(df: DataFrame) -> DataFrame:
    """JVM-side helper columns (hour/dow for alert_time, risk_key for
    folded range conditions) — the Python side never parses timestamps
    or hashes strings per row."""
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        risk_key_col().alias("risk_key"),
        F.hour("ts").cast("int").alias("hour"),
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),  # ISO 1=Mon
    )


def make_fused_matcher(
    native_rules: list[Rule],
    udf_rules: list[Rule],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Python half of the fused single-scan plan (see run_match
    mode="fused"). Native rules arrive PRE-EVALUATED: the JVM projection
    put their matched sids in the ``_nsids`` array column, so Python only
    runs their (cheap, vectorized) extraction — predicates never re-run.
    UDF rules evaluate exactly as in make_matcher."""
    udf_matcher = make_matcher(RuleSet(tuple(udf_rules))) if udf_rules else None
    nat_by_sid = {r.sid: r for r in native_rules}
    out_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "risk_key"]

    def matcher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        warnings.filterwarnings("ignore", message=".*has match groups.*")
        for pdf in batches:
            outs: list[pd.DataFrame] = []
            if nat_by_sid:
                exp = pdf["_nsids"].explode().dropna()
                for sid_val, grp in exp.groupby(exp):
                    rule = nat_by_sid[int(sid_val)]
                    sub = pdf.loc[grp.index]
                    out = sub[out_cols].copy()
                    out["sid"] = np.int64(rule.sid)
                    out["extracted"] = _extract(rule, sub)
                    outs.append(out)
            if udf_matcher is not None:
                outs.extend(udf_matcher(iter([pdf])))
            outs = [o for o in outs if len(o)]
            if outs:
                yield pd.concat(outs, ignore_index=True)[
                    [f.name for f in MATCH_SCHEMA.fields]
                ]
            else:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="object") for f in MATCH_SCHEMA.fields}
                )

    return matcher


# the concrete plans run_match builds, chosen from the input by
# pipeline.resolve_match_mode
MATCH_MODES = ("fused", "hybrid")


def run_match(df: DataFrame, ruleset: RuleSet, mode: str = "fused") -> DataFrame:
    """parse+match stage: input transcript DF → one row per (turn, sid).

    mode="fused" (default): ONE scan. Native-compilable rules are still
    evaluated as JVM expressions (whole-stage codegen) — but into
    a ``_nsids`` sid-array projection instead of a separate branch; rows
    with no native hit AND no UDF fast-pattern candidate are filtered
    JVM-side, and only the surviving candidates cross Arrow once, where
    native extraction + UDF-rule evaluation happen together. At 100 TB the
    scan dominates, so single-scan is the right default; the extra Arrow
    crossing for native-hit rows is bounded by the alert rate.

    mode="hybrid": a non-empty, all-native rule set explodes its hits
    JVM-side — one scan and no Python stage at all, so a conv_id-bucketed
    scan's partitioning reaches the replay and its exchange is elided
    (pipeline.resolve_match_mode picks it for exactly that input). A rule
    that is not native-compilable raises: it would need a Python stage.

    A rule set with few or no native rules needs no mode of its own: fused
    with an empty ``_nsids`` array is the single-scan all-Python plan.
    Enrich conditions over the static dims are always folded into the
    predicates (_fold_enrich).
    """
    if mode not in MATCH_MODES:
        # "auto" is pipeline.resolve_match_mode's job, never a plan here
        raise ValueError(f"unknown match mode {mode!r}")
    native_rules = [r for r in ruleset.rules if native_compilable(r)]
    udf_rules = [r for r in ruleset.rules if not native_compilable(r)]
    if mode == "hybrid" and (udf_rules or not native_rules):
        raise ValueError(
            "match mode 'hybrid' needs a non-empty, all-native rule set; not "
            f"native-compilable: {[r.sid for r in udf_rules]}"
        )
    check_sql_literals(df.sparkSession)
    prepared = _prepare(df)
    folded = {r.sid: _fold_enrich(r) for r in ruleset.rules}

    # one shared lower(text) column for every nocase predicate and derived
    # rlike guard: the per-rule CASE branches defeat Catalyst's
    # subexpression elimination, so without this each nocase rule pays its
    # own O(len) lower + allocation per row. A separate Project keeps it a
    # single evaluation (CollapseProject won't inline a non-cheap alias
    # referenced more than once); it is pruned when no rule uses it and
    # dropped before the Arrow crossing either way.
    with_lct = prepared.withColumn("_lct", F.expr(_LOWER_TEXT))
    lct = "`_lct`"

    if mode == "fused":
        nsids = (
            "array_compact(array("
            + ", ".join(
                f"CASE WHEN {_native_cond(r, folded[r.sid], lct)} THEN CAST({r.sid} AS BIGINT) END"
                for r in native_rules
            )
            + "))"
            if native_rules
            else "CAST(array() AS ARRAY<BIGINT>)"
        )
        cand = "(size(`_nsids`) > 0)"
        if udf_rules:
            cand = f"({cand} OR {_coarse_prefilter(udf_rules, folded, lct)})"
        fused_in = with_lct.withColumn("_nsids", F.expr(nsids)).filter(cand).drop("_lct")
        return fused_in.mapInPandas(
            make_fused_matcher(native_rules, udf_rules), schema=MATCH_SCHEMA
        )

    cols = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "risk_key")
    hits = ", ".join(
        f"CASE WHEN {_native_cond(r, folded[r.sid], lct)} THEN struct("
        f"CAST({r.sid} AS BIGINT) AS sid, {_native_extracted(r)} AS extracted) END"
        for r in native_rules
    )
    native_df = with_lct.selectExpr(*cols, f"explode(array_compact(array({hits}))) AS _h")
    return native_df.selectExpr(*cols, "_h.sid AS sid", "_h.extracted AS extracted")
