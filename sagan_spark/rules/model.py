"""Rule model — Sagan's Snort-style rule language as plain dataclasses.

The reference loads ``.rules`` files at startup and compiles them once
([PUB src/rules.c]; SURVEY.md §2.1 S10). We skip the text syntax and model
rules directly as frozen dataclasses: the "rule file" is a Python module,
the "compiler" is engine/match.py which turns a RuleSet into Spark Column
prefilters + one vectorized match stage.

Semantics are defined HERE (docstrings) and implemented twice on purpose:
once vectorized for Spark (engine/) and once sequentially for the pandas
oracle (oracle/pandas_engine.py); differential tests assert equality.

Operator coverage (SURVEY.md §2.2/2.4 row → field):
  P1 roles / P2 tools / P3-P7 ContentSpec / P8 PcreSpec / P9 MetaContentSpec
  P12 HashSpec / P13 GrokSpec + FieldCond / P14 defaults / P15 AlertTime
  J1/J2/J4 EnrichCond / C1 AfterSpec / C2 ThresholdSpec / C3-C4 FlexbitSpec
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: The alert sinks a rule may route to (Sagan's output plugins): three text
#: formats and unified2. Every writer and generator reads this one list.
SINKS = ("fast", "eve", "syslog", "unified2")


@dataclass(frozen=True)
class ContentSpec:
    """Literal substring predicate ([PUB src/content.c], SURVEY §2.2 P3-P7).

    Defined semantics (greedy first-match, shared by engine & oracle):
    - absolute content: search region is ``text[offset : offset+depth]``
      (offset default 0, depth default end); matches if the literal occurs
      fully inside the region.
    - relative content (``distance``/``within`` set): search starts at
      ``prev_end + distance`` (distance default 0); if ``within`` is set the
      match must START at position <= ``prev_end + within``. ``prev_end`` is
      the end of the previous *positive* content's first accepted match.
    - ``negated``: the literal must NOT occur in its region; negated
      contents never advance ``prev_end``.
    - ``nocase``: lowercase both sides (P4; ASCII-oriented — identical in
      Python str.lower, pandas str.lower and Spark lower()).
    """

    pattern: str
    nocase: bool = False
    negated: bool = False
    offset: int | None = None
    depth: int | None = None
    distance: int | None = None
    within: int | None = None

    @property
    def relative(self) -> bool:
        return self.distance is not None or self.within is not None


@dataclass(frozen=True)
class PcreSpec:
    """Full-regex predicate over text ([PUB src/rules.c] + libpcre, P8).

    ``flags``: subset of "ims" (Python ``re`` flags). ``negated``: no match
    anywhere in text.
    """

    pattern: str
    flags: str = ""
    negated: bool = False


@dataclass(frozen=True)
class MetaContentSpec:
    """Template content over a value list — match ANY value
    ([PUB src/meta-content.c], P9). Compiled to an alternation regex at
    rule load; values are regex-escaped literals."""

    template: str  # contains "%sagan%" placeholder
    values: tuple[str, ...] = ()
    nocase: bool = False


@dataclass(frozen=True)
class GrokSpec:
    """liblognorm-style named-group extraction ([PUB normalize], P13).

    Python regex with named groups; on first match the groups merge into
    the row's ``extracted`` map. ``required``: rule fails if no match."""

    pattern: str
    flags: str = ""
    required: bool = True


@dataclass(frozen=True)
class HashSpec:
    """parse_hash: extract md5/sha1/sha256 literals by length/charset
    ([PUB src/parsers/parse-hash.c], P12). Extracted into field ``kind``."""

    kind: str  # "md5" | "sha1" | "sha256"
    required: bool = True

    @property
    def regex(self) -> str:
        n = {"md5": 32, "sha1": 40, "sha256": 64}[self.kind]
        return rf"\b[a-f0-9]{{{n}}}\b"


@dataclass(frozen=True)
class TokenSpec:
    """parse_src_ip / parse_dst_ip / parse_port / parse_proto
    ([PUB src/parsers/parse-ip.c, parse-port.c, parse-proto.c], P10/P11).

    Extract the ``position``-th (1-based) occurrence of a token class from
    text into ``extracted[field]``:
    - kind "ip":    dotted-quad IPv4 literal (word-bounded)
    - kind "port":  the digits of ``port <n>`` / ``port:<n>``
    - kind "proto": tcp|udp|icmp keyword, normalized to lowercase
    ``required``: the rule fails when fewer than ``position`` occurrences
    exist. Regexes live in the Java/Python-common subset so the native
    SQL path (regexp_extract_all + try_element_at) and the Python paths
    agree byte-for-byte."""

    field: str  # extracted-map key, e.g. "src_ip"
    kind: str  # "ip" | "port" | "proto"
    position: int = 1
    required: bool = True

    @property
    def regex(self) -> str:
        return {
            "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
            "port": r"\bport[ :](\d{1,5})\b",
            "proto": r"(?i)\b(?:tcp|udp|icmp)\b",
        }[self.kind]

    @property
    def group(self) -> int:
        """Capture-group index carrying the value (0 = whole match)."""
        return 1 if self.kind == "port" else 0


@dataclass(frozen=True)
class FieldCond:
    """Numeric/set condition on an extracted field (drives P13 firing).

    Missing field fails BOTH polarities: a row whose extracted map lacks
    ``name`` never matches, even for op "not_in" (rules/eval.py is the
    source of truth; engine/match._field_cond_mask mirrors it)."""

    name: str
    op: str  # ">=", ">", "<=", "<", "==", "in", "not_in"
    value: object


@dataclass(frozen=True)
class AlertTime:
    """Rule active only in [hour_lo, hour_hi] (inclusive, UTC)
    ([PUB src/aetas.c], P15). ``days``: ISO weekday numbers 1-7 or None."""

    hour_lo: int
    hour_hi: int
    days: tuple[int, ...] | None = None


@dataclass(frozen=True)
class EnrichCond:
    """Post-join condition on a broadcast dimension (SURVEY §2.3).

    dim/field → role_dim.origin|trust_level, tool_dim.blacklisted|category,
    risk_ranges.risk_tag. op: "is" (value in values), "isnot",
    "in_any_range" (risk key falls in some range — values ignored),
    "range_tag_is" (risk_tag in values)."""

    dim: str
    fieldname: str
    op: str
    values: tuple = ()


@dataclass(frozen=True)
class AfterSpec:
    """`after: track K, count C, seconds S` ([PUB src/after.c], C1).

    Reset-window semantics (Sagan, not sliding): per (sid, track_key) keep
    (window_start, count). On event at t: if t > window_start + S →
    window_start=t, count=1; else count+=1. Alert iff count > C.

    track keys (payload transposition of Sagan's by_src/by_dst/by_both/
    by_username): "conv_id" (per-conversation, replayed in turn order),
    "conv_tool" (by_both — the (source, destination) composite: counters
    keyed per (conversation, tool) pair, replayed inside the conversation's
    turn order), "role" and "tool" (GLOBAL per track value across
    conversations, replayed in event-time order — see engine/correlate)."""

    track: str  # "conv_id" | "conv_tool" | "role" | "tool"
    count: int
    seconds: int


@dataclass(frozen=True)
class ThresholdSpec:
    """`threshold: type T, track K, count C, seconds S`
    ([PUB src/threshold.c], C2). Same reset-window counter as AfterSpec.
    limit → alert iff count <= C; threshold → iff count % C == 0;
    suppress → iff count <= C (drop beyond); both → exactly once per
    window, when the count reaches C."""

    type: str  # "limit" | "threshold" | "suppress" | "both"
    track: str
    count: int
    seconds: int


@dataclass(frozen=True)
class FlexbitSpec:
    """flexbits/xbits ([PUB src/flexbit-mmap.c], C3/C4), tracked per
    conv_id. Within a conversation's (turn_idx)-ordered replay:
    - checks (`isset`/`isnotset`) are evaluated against the state BEFORE
      this turn's set/unset actions apply (a turn cannot see its own set);
    - `isset` is true iff the bit was set at ts t0 with expire E and
      (t - t0) <= E (E None → never expires);
    - `set`/`unset` apply after the rule's other predicates pass.
    """

    action: str  # "set" | "unset" | "isset" | "isnotset"
    name: str
    expire: int | None = None  # seconds, meaningful for "set"


@dataclass(frozen=True)
class Rule:
    sid: int
    msg: str
    sink: str  # one of SINKS
    rule_class: str = "policy"
    rev: int = 1
    priority: int = 3
    noalert: bool = False  # flexbit-setter rules: act on state, emit nothing
    # C7 depends_on / dynamic rules ([PUB src/processors/dynamic-rules.c]):
    # this rule is evaluated only if the named sid fired at least once in
    # the run (batch: a first counting pass in engine/pipeline.run;
    # streaming: a go-forward gate; checkpoint.run_resumable refuses it).
    depends_on: int | None = None
    roles: tuple[str, ...] | None = None  # P1 program prefilter
    roles_negated: bool = False
    tools: tuple[str, ...] | None = None  # P2 facility prefilter
    tools_negated: bool = False
    # Snort-style fast_pattern hint: (literal, nocase). Used as a Spark-native
    # prefilter for rules whose main predicate needs the Python UDF (pcre/
    # grok); auto-derived from the first positive absolute content otherwise.
    fast_pattern: tuple[str, bool] | None = None
    contents: tuple[ContentSpec, ...] = ()
    pcres: tuple[PcreSpec, ...] = ()
    meta_contents: tuple[MetaContentSpec, ...] = ()
    groks: tuple[GrokSpec, ...] = ()
    hashes: tuple[HashSpec, ...] = ()
    tokens: tuple[TokenSpec, ...] = ()  # P10/P11 parse_src_ip/port/proto
    field_conds: tuple[FieldCond, ...] = ()
    defaults: tuple[tuple[str, str], ...] = ()  # P14: (field, default) pairs
    alert_time: AlertTime | None = None
    enrich: tuple[EnrichCond, ...] = ()
    after: AfterSpec | None = None
    threshold: ThresholdSpec | None = None
    flexbits: tuple[FlexbitSpec, ...] = ()

    @property
    def has_text_pred(self) -> bool:
        return bool(
            self.contents
            or self.pcres
            or self.meta_contents
            or self.groks
            or self.hashes
            or self.tokens
        )

    @property
    def stateful(self) -> bool:
        return self.after is not None or self.threshold is not None or bool(self.flexbits)

    @property
    def track(self) -> str | None:
        """Counter track key of the after/threshold spec, if any."""
        spec = self.after or self.threshold
        return spec.track if spec is not None else None


@dataclass(frozen=True)
class RuleSet:
    """Validated rule collection.

    Construction-time checks (loud failure beats silent wrong answers):
    - after/threshold track must be "conv_id", "conv_tool", "role", or
      "tool". role/tool-tracked counters are GLOBAL per track value
      (replayed in ts order across conversations on a separate branch —
      see engine/correlate.run_correlate), so THOSE rules may not also use
      flexbits: bits are per-conversation state maintained only by the
      conversation-keyed replay. conv_id and conv_tool rules both run on
      that conv-keyed replay, so they may carry flexbits.
    - sink must be one of SINKS: the writers write only those, so any
      other name would be counted but never written.
    - depends_on may not reference a noalert sid in the same set: dynamic
      enablement is derived from *emitted* alerts, and a state-only parent
      never emits ([PUB src/processors/dynamic-rules.c] reads the output
      stream too).
    - depends_on chains (A→B→C) are refused: batch enablement is derived
      from pass-1 firings only, so a grandchild would silently never
      enable; one level, loudly.
    """

    rules: tuple[Rule, ...]

    def __post_init__(self) -> None:
        by_sid = {r.sid: r for r in self.rules}
        if len(by_sid) != len(self.rules):
            seen: set[int] = set()
            dup = next(r.sid for r in self.rules if r.sid in seen or seen.add(r.sid))
            raise ValueError(f"duplicate sid {dup} in rule set")
        for r in self.rules:
            if r.sink not in SINKS:
                raise ValueError(
                    f"sid {r.sid}: unknown sink {r.sink!r} (sinks are {', '.join(SINKS)})"
                )
            if r.threshold is not None and r.threshold.type not in (
                "limit", "threshold", "suppress", "both",
            ):
                raise ValueError(f"sid {r.sid}: unknown threshold type {r.threshold.type!r}")
            for tk in r.tokens:
                if tk.kind not in ("ip", "port", "proto"):
                    raise ValueError(f"sid {r.sid}: unknown token kind {tk.kind!r}")
                if tk.position < 1:
                    raise ValueError(f"sid {r.sid}: token position must be >= 1")
            spec = r.after or r.threshold
            if spec is not None:
                if spec.track not in ("conv_id", "conv_tool", "role", "tool"):
                    raise ValueError(
                        f"sid {r.sid}: unsupported track {spec.track!r} "
                        "(conv_id, conv_tool, role and tool are implemented)"
                    )
                if spec.track in ("role", "tool") and r.flexbits:
                    raise ValueError(
                        f"sid {r.sid}: {spec.track}-tracked after/threshold "
                        "cannot be combined with flexbits — bits are "
                        "per-conversation state, maintained only by the "
                        "conversation-keyed replay"
                    )
            if r.depends_on is not None:
                parent = by_sid.get(r.depends_on)
                if parent is not None and parent.noalert:
                    raise ValueError(
                        f"sid {r.sid}: depends_on references noalert sid "
                        f"{r.depends_on}, which never emits alerts"
                    )
                if parent is not None and parent.depends_on is not None:
                    # one level only, loudly: the batch two-pass derives
                    # enablement from PASS-1 firings, so a grandchild whose
                    # parent only fires in pass 2 would silently never
                    # enable; the streaming gate keys on the parent sid and
                    # a chained sid would need to be parent and child at
                    # once. Refuse rather than diverge quietly.
                    raise ValueError(
                        f"sid {r.sid}: depends_on chains are unsupported "
                        f"(parent {r.depends_on} itself depends on "
                        f"{parent.depends_on}); dynamic rules are one level"
                    )

    def by_sid(self) -> dict[int, Rule]:
        return {r.sid: r for r in self.rules}

    def sinks(self) -> tuple[str, ...]:
        return tuple(sorted({r.sink for r in self.rules if not r.noalert}))
