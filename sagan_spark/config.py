"""Config-file entry point (S10) — the sagan.yaml analogue.

The reference wires rule paths, input/output plumbing and engine knobs
through one YAML config ([PUB etc/sagan.yaml], SURVEY §2.1 S10). Here the
same role is played by a ``sagan_spark.yaml`` consumed by
``scripts/run_pipeline.py --config``:

    # sagan_spark.yaml
    input: /data/transcripts          # parquet dir / Iceberg identifier
    output: /data/alerts              # sink dir (optional: counts-only)
    mode: batch                       # batch | resumable | stream | dynamic
    rules:                            # .rules files (empty -> canonical set)
      - rules/base.rules
      - rules/extra.rules
    engine:
      shuffle_partitions: 4096
      state_ttl_minutes: 30           # streaming state eviction
      max_files_per_trigger: 1        # batch sizing = the throughput knob (see field note)
      stream_drain: false             # true: AvailableNow backfill drain, then stop
      replay_chunk_rows: 2097152      # bounded-chunk replay threshold (rows)
      track_hwm_cap: 100000           # bounded redelivery guard per track key
      checkpoint_dir: /data/ck
      resume_dir: /data/alerts/_bookmarks
      master: local[32]               # usually left to spark-submit

Parsing: the container has no YAML library, so ``parse_config`` implements
the exact subset above (flat keys, one ``engine:`` mapping, one ``rules:``
list, comments, quoted strings, int/float/bool/null scalars) with LOUD
failures on anything else — a config typo must never silently become a
default. ``dump_config`` emits the same subset; round-trip is tested.
CLI flags override config values (see scripts/run_pipeline.py).
"""

from __future__ import annotations

from dataclasses import dataclass, fields


@dataclass(frozen=True)
class PipelineConfig:
    input: str | None = None
    output: str | None = None
    mode: str = "batch"  # batch | resumable | stream | dynamic
    rules: tuple[str, ...] = ()  # .rules file paths; empty -> CANONICAL
    # engine: section (no match-plan key: the input picks the plan,
    # engine/pipeline.resolve_match_mode)
    shuffle_partitions: int | None = None
    master: str | None = None
    state_ttl_minutes: float | None = None
    # Batch sizing IS the streaming throughput knob: each micro-batch pays
    # a row-count-independent floor (measured, BENCH/TUNING.md r5 — Python
    # round trips + state-store commits + its count and write jobs), so size
    # this so the floor is a small fraction of batch wall; latency-bound
    # deployments instead pick the smallest batch meeting their target.
    max_files_per_trigger: int = 1
    # Backfill drain: Trigger.AvailableNow — process everything currently
    # in the input as rate-limited micro-batches and stop (see
    # streaming.pipeline.run_stream(drain=...)).
    stream_drain: bool = False
    # Batch replay chunking threshold (rows per in-memory replay chunk;
    # see docs/SCALE.md hot-conversation note). None keeps the engine
    # default (2^21); exported to SAGAN_REPLAY_CHUNK_ROWS by
    # run_pipeline before the plan is built.
    replay_chunk_rows: int | None = None
    checkpoint_dir: str | None = None
    resume_dir: str | None = None
    # bounded-state knob for track-keyed streaming operators: max
    # per-conversation redelivery marks kept per track key (LRU evicted)
    track_hwm_cap: int = 100_000

    def __post_init__(self) -> None:
        if self.mode not in ("batch", "resumable", "stream", "dynamic"):
            raise ValueError(f"unknown mode {self.mode!r}")


_TOP_KEYS = {"input", "output", "mode"}
_ENGINE_KEYS = {
    "shuffle_partitions",
    "master",
    "state_ttl_minutes",
    "max_files_per_trigger",
    "stream_drain",
    "replay_chunk_rows",
    "checkpoint_dir",
    "resume_dir",
    "track_hwm_cap",
}


def _scalar(v: str):
    v = v.strip()
    if not v or v in ("null", "~"):
        return None
    if v in ("true", "True"):
        return True
    if v in ("false", "False"):
        return False
    if (v[0] == v[-1] == '"') or (v[0] == v[-1] == "'"):
        return v[1:-1]
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        pass
    return v


def _raw_str(v: str) -> str:
    """Rules entries are always paths: strip surrounding quotes only, never
    coerce through the scalar grammar (``- 0123`` must stay '0123', not
    become int 123 → '123')."""
    v = v.strip()
    if len(v) >= 2 and (v[0] == v[-1] == '"' or v[0] == v[-1] == "'"):
        return v[1:-1]
    return v


def _strip_comment(line: str) -> str:
    """Drop a trailing comment. YAML-compatible rule: ``#`` starts a
    comment only at line start or when preceded by whitespace (so
    ``input: /data/run#1`` keeps its ``#``), and never inside a
    DOUBLE-quoted span. Apostrophes are ordinary characters (``Bob's``
    must not toggle quoting); use double quotes for a value that itself
    contains ``' #'``."""
    out, in_dq = [], False
    for i, ch in enumerate(line):
        if ch == '"':
            in_dq = not in_dq
            out.append(ch)
        elif (
            ch == "#"
            and not in_dq
            and (i == 0 or line[i - 1] in " \t")
        ):
            break
        else:
            out.append(ch)
    return "".join(out).rstrip()


def parse_config(text: str) -> PipelineConfig:
    kw: dict = {}
    rules: list[str] = []
    section: str | None = None  # None | "engine" | "rules"
    for lineno, raw in enumerate(text.splitlines(), 1):
        line = _strip_comment(raw)
        if not line.strip():
            continue
        indented = line[0] in " \t"
        body = line.strip()
        if not indented:
            section = None
            if body == "rules:":
                section = "rules"
                continue
            if body == "engine:":
                section = "engine"
                continue
            if ":" not in body:
                raise ValueError(f"line {lineno}: expected 'key: value', got {body!r}")
            k, _, v = body.partition(":")
            k = k.strip()
            if k not in _TOP_KEYS:
                raise ValueError(f"line {lineno}: unknown top-level key {k!r}")
            kw[k] = _scalar(v)
        elif section == "rules":
            if not body.startswith("- "):
                raise ValueError(f"line {lineno}: rules entries must be '- path'")
            rules.append(_raw_str(body[2:]))
        elif section == "engine":
            if ":" not in body:
                raise ValueError(f"line {lineno}: expected 'key: value', got {body!r}")
            k, _, v = body.partition(":")
            k = k.strip()
            if k not in _ENGINE_KEYS:
                raise ValueError(f"line {lineno}: unknown engine key {k!r}")
            kw[k] = _scalar(v)
        else:
            raise ValueError(f"line {lineno}: indented line outside a section: {body!r}")
    # drop explicit nulls so dataclass defaults apply
    kw = {k: v for k, v in kw.items() if v is not None}
    return PipelineConfig(rules=tuple(rules), **kw)


def load_config(path: str) -> PipelineConfig:
    with open(path) as f:
        return parse_config(f.read())


def dump_config(cfg: PipelineConfig) -> str:
    """Emit the canonical form of the supported subset (round-trip safe:
    parse_config(dump_config(c)) == c)."""

    def fmt(v) -> str:
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "true" if v else "false"
        s = str(v)
        # quote strings the bare-scalar grammar would mangle: a leading
        # '#' (whole-line comment), a ' #' (trailing comment), wrapping
        # quotes (stripped by _scalar), surrounding whitespace, or text
        # that parses as a number/bool/null
        needs_quote = isinstance(v, str) and (
            s.startswith(("#", '"', "'"))
            or " #" in s
            or s != s.strip()
            or s in ("null", "~", "true", "True", "false", "False")
            or _looks_numeric(s)
        )
        if needs_quote:
            if '"' in s:
                raise ValueError(
                    f"cannot dump value containing a double quote: {s!r} "
                    "(the supported subset has no escape syntax)"
                )
            return f'"{s}"'
        return s

    lines = [f"{k}: {fmt(getattr(cfg, k))}" for k in ("input", "output", "mode")]
    if cfg.rules:
        lines.append("rules:")
        lines += [f"  - {fmt(p)}" for p in cfg.rules]
    lines.append("engine:")
    for f_ in fields(cfg):
        if f_.name in _ENGINE_KEYS:
            lines.append(f"  {f_.name}: {fmt(getattr(cfg, f_.name))}")
    return "\n".join(lines) + "\n"


def _looks_numeric(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def load_ruleset(cfg: PipelineConfig):
    """The configured RuleSet: parse + merge the .rules files, or the
    built-in canonical set when none are configured (sid collisions across
    files fail loudly in RuleSet validation)."""
    from .rules.canonical import CANONICAL
    from .rules.model import RuleSet
    from .rules.parser import load_rules

    if not cfg.rules:
        return CANONICAL
    rules: list = []
    for path in cfg.rules:
        rules.extend(load_rules(path).rules)
    return RuleSet(tuple(rules))
