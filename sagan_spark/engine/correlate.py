"""Correlation stage — Sagan's after/threshold/flexbit state, Spark-first.

Reference keeps mmap'ed counter/bit tables shared across threads
([PUB src/after.c, src/threshold.c, src/flexbit-mmap.c]; SURVEY §2.4).
Batch equivalent: state is a pure function of each conversation's
(turn_idx)-ordered matched events, so ONE shuffle reconstructs it exactly.

Physical shape (chosen over groupBy().applyInPandas after profiling —
per-conversation pandas groups average ~10 rows, and per-group Arrow/
pandas overhead made replay 10× slower than the match stage):

    alerts → repartition(conv_id) → sortWithinPartitions
      (conv_id, turn_idx, sid) → mapInPandas over whole partitions

Each task streams its partition once through a single numpy replay loop;
conversation boundaries are detected by conv_id change, so state never
crosses them. Hash-partitioning guarantees a conversation lands in exactly
one partition. Partition memory is bounded by
(alert rows / shuffle partitions) — tune shuffle partitions at scale;
stateless alerts ride the same shuffle and pass through the replay.

Semantics (defined in rules/model.py, re-implemented independently in the
pandas oracle):
- counters (after/threshold): reset-window anchored at the first event of
  the current window — NOT sliding.
- flexbits: within a turn, checks see the state before that turn's
  set/unset actions; counter updates and set/unset happen only when the
  rule's detection (incl. bit checks) passed; after/threshold gate only
  *emission*, not state actions.
- track="role"/"tool" rules (by_username / by_dst analogues) take a
  separate track-column-keyed replay branch (see run_correlate).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..rules.model import Rule, RuleSet


def counter_emit(rule: Rule, counters: dict, key, t: float) -> bool:
    """Shared reset-window counter update + emission decision for
    after/threshold — the ONE implementation used by every engine replay
    site (batch conv/role, streaming conv/role). The pandas oracle keeps
    its own independent copy on purpose (differential tests stay
    meaningful). Mutates ``counters[key]``."""
    spec = rule.after or rule.threshold
    ws, cnt = counters.get(key, (None, 0))
    if ws is None or t > ws + spec.seconds:
        ws, cnt = t, 1
    else:
        cnt += 1
    counters[key] = (ws, cnt)
    if rule.after is not None:
        return cnt > rule.after.count
    if spec.type in ("limit", "suppress"):
        return cnt <= spec.count
    if spec.type == "threshold":
        return cnt % spec.count == 0
    if spec.type == "both":
        return cnt == spec.count
    raise ValueError(spec.type)


class _ReplayCarry:
    """Correlation state carried ACROSS bounded replay chunks of one
    sorted partition (r6 — the implementation behind SURVEY §4.2's
    "chunk replay if > 1e6" spill mitigation). One instance per
    partition; chunk boundaries fall on (conv_id, turn_idx)-run
    boundaries, so a conversation's counters/bits flow through unbroken
    and the non-contiguity guard still sees every conv transition."""

    __slots__ = ("counters", "bits", "cur_conv", "seen_convs")

    def __init__(self) -> None:
        # per current conv: sid (or (sid, tool) for track="conv_tool") ->
        # (window_start, count)
        self.counters: dict = {}
        self.bits: dict[str, tuple[float, float | None]] = {}  # bit -> (set_ts, expire)
        self.cur_conv: str | None = None
        self.seen_convs: set = set()


def _replay_sorted(rules_by_sid: dict[int, Rule], pdf: pd.DataFrame) -> pd.DataFrame:
    """Replay one hash-partition of alerts, pre-sorted by
    (conv_id, turn_idx, sid). Rows of non-stateful sids pass through
    (emitted unconditionally); stateful rows replay in order. Returns the
    rows that *emit*."""
    return _replay_sorted_carry(rules_by_sid, pdf, _ReplayCarry())


def _replay_sorted_carry(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, carry: _ReplayCarry
) -> pd.DataFrame:
    """One chunk of `_replay_sorted`, reading and mutating ``carry``. The
    chunk must start and end on (conv_id, turn_idx)-run boundaries
    (checks see pre-turn state, so a half-seen run would evaluate bit
    checks before the run's remaining set actions are known)."""
    n = len(pdf)
    conv = pdf["conv_id"].to_numpy()
    turn = pdf["turn_idx"].to_numpy()
    sid = pdf["sid"].to_numpy()
    tool = pdf["tool"].to_numpy()
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
    stateful = np.isin(sid, np.fromiter(rules_by_sid.keys(), dtype=np.int64))
    fires = ~stateful  # stateless alerts pass through; stateful must earn it
    idxs = np.flatnonzero(stateful)
    m = len(idxs)

    counters = carry.counters
    bits = carry.bits
    # Correctness guard: state resets on conv CHANGE, so each conv's rows
    # must be one contiguous sorted run. A revisited conv means the
    # partition was NOT (conv_id, turn_idx)-sorted — seen in the wild when
    # Spark's auto-bucketed-scan fallback elided the conv_id exchange but
    # read plain file splits (session.py conf note) — and silently
    # fragmenting per-conv state is the one failure mode worse than
    # crashing. (A conv split ACROSS partitions with each fragment
    # contiguous is not detectable here; the session conf closes the
    # known cause.)
    seen_convs = carry.seen_convs

    i = 0
    while i < m:
        # one (conv, turn) run of stateful rows — checks see pre-turn
        # state, sets apply after the run
        j = i + 1
        while j < m and conv[idxs[j]] == conv[idxs[i]] and turn[idxs[j]] == turn[idxs[i]]:
            j += 1
        if conv[idxs[i]] != carry.cur_conv:
            if carry.cur_conv is not None:
                seen_convs.add(carry.cur_conv)
            if conv[idxs[i]] in seen_convs:
                raise RuntimeError(
                    f"replay partition is not conv-contiguous: conversation "
                    f"{conv[idxs[i]]!r} reappears after other conversations. "
                    "The input partition lost its (conv_id, turn_idx) sort — "
                    "if reading a bucketed table, keep "
                    "spark.sql.sources.bucketing.autoBucketedScan.enabled="
                    "false (engine default, see session.py)."
                )
            counters.clear()
            bits.clear()
            carry.cur_conv = conv[idxs[i]]
        pending_sets: list[tuple[str, str, float, float | None]] = []
        for k in idxs[i:j]:
            rule = rules_by_sid[int(sid[k])]
            t = ts[k]
            detected = True
            for fb in rule.flexbits:
                if fb.action in ("isset", "isnotset"):
                    cur = bits.get(fb.name)
                    is_set = cur is not None and (cur[1] is None or (t - cur[0]) <= cur[1])
                    if (fb.action == "isset") != is_set:
                        detected = False
            if not detected:
                continue
            emit = True
            if (rule.after or rule.threshold) is not None:
                # by_both (track="conv_tool"): the counter key is the
                # (sid, tool) pair WITHIN the conversation — the (src, dst)
                # composite of [PUB src/after.c]'s by_both, transposed
                key = (rule.sid, tool[k]) if rule.track == "conv_tool" else rule.sid
                emit = counter_emit(rule, counters, key, t)
            for fb in rule.flexbits:
                if fb.action in ("set", "unset"):
                    pending_sets.append(
                        (fb.action, fb.name, t, float(fb.expire) if fb.expire is not None else None)
                    )
            fires[k] = emit
        for action, name, t, exp in pending_sets:
            if action == "set":
                bits[name] = (t, exp)
            else:
                bits.pop(name, None)
        i = j
    return pdf.loc[fires]


class _TrackCarry:
    """Chunk-carried state for `_replay_tracked_sorted` (see
    ``_ReplayCarry``). Track replay is strictly row-at-a-time (no
    flexbits on non-conv tracks, enforced at RuleSet construction), so
    chunks may split ANYWHERE in the sorted partition."""

    __slots__ = ("counters", "cur_key", "seen_keys")

    def __init__(self) -> None:
        self.counters: dict[int, tuple[float, int]] = {}  # per current key: sid -> (ws, cnt)
        self.cur_key: object = _UNSET
        self.seen_keys: set = set()


def _replay_tracked_sorted(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, key_col: str
) -> pd.DataFrame:
    """Replay one hash(key_col)-partition pre-sorted by (key_col, ts,
    conv_id, turn_idx, sid) — the non-conv track variant of
    ``_replay_sorted`` serving track="role" (Sagan `by_username`) and
    track="tool" (`by_dst` — the destination analogue in this payload
    transposition). Counters are GLOBAL per (track value, sid) across
    conversations, in event-time order ([PUB src/after.c] keys its mmap
    table by username/dst the same way). Non-conv-tracked rules cannot
    carry flexbits (enforced at RuleSet construction), so no per-turn
    set/check staging is needed. Rows of other sids pass through."""
    return _replay_tracked_carry(rules_by_sid, pdf, key_col, _TrackCarry())


def _replay_tracked_carry(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, key_col: str, carry: _TrackCarry
) -> pd.DataFrame:
    sid = pdf["sid"].to_numpy()
    key = pdf[key_col].to_numpy()
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
    tracked = np.isin(sid, np.fromiter(rules_by_sid.keys(), dtype=np.int64))
    fires = ~tracked
    counters = carry.counters
    seen_keys = carry.seen_keys  # same non-contiguity guard as _replay_sorted
    for k in np.flatnonzero(tracked):
        if key[k] != carry.cur_key:
            if carry.cur_key is not _UNSET:
                seen_keys.add(carry.cur_key)
            if key[k] in seen_keys:
                raise RuntimeError(
                    f"track replay partition is not key-contiguous: "
                    f"{key_col}={key[k]!r} reappears after other keys — "
                    "the partition lost its sort (see _replay_sorted guard)."
                )
            counters.clear()
            carry.cur_key = key[k]
        rule = rules_by_sid[int(sid[k])]
        fires[k] = counter_emit(rule, counters, rule.sid, ts[k])
    return pdf.loc[fires]


_UNSET = object()


def run_correlate(
    alerts: DataFrame, ruleset: RuleSet, scope: str = "linear", buckets: int = 0
) -> DataFrame:
    """Apply stateful correlation.

    ONE shuffle of all alerts by conv_id; stateless rows pass through the
    replay untouched. Strictly one consumer of the match subtree: every
    cost here (shuffle write/read, sort, Arrow, replay) is per-task
    parallel, so nothing recomputes and nothing needs a persist. When
    there is no track branch, the frame returned is the replay's own
    output, partitioned by conv_id and sorted by (conv_id, turn_idx, sid),
    and is tagged ``_sagan_conv_sorted`` so the sink writer skips its own
    conv_id exchange (route.sink_rows): one shuffle of every alert per
    run, and AQE sizes the sink files on this exchange. A stateless-only
    set returns ``alerts`` untouched and a track branch's union loses the
    order, so both leave the sink exchange in place. A branching plan
    cannot beat the one linear plan: exchange reuse
    can NEVER deduplicate a dual-consumer plan whose subtree contains a
    Python stage (MapInPandas does not canonicalize equal across branches
    — verified empirically: a pushdown-barriered identical exchange still
    executed twice), and a persist materialization contends on the block
    manager/disk instead of scaling with cores. ``scope`` names that plan
    and accepts only "linear". ``buckets`` > 0 replays into that many
    partitions: the bucket count of a conv_id-bucketed scan whose
    partitioning reaches here, so the exchange is elided whatever
    spark.sql.shuffle.partitions is.

    Non-conv tracked rules (Sagan `by_username` → role, `by_dst` → tool)
    take a SEPARATE branch per track column: their rows repartition by the
    track column and replay in (ts, conv_id, turn_idx) order with counters
    global per (track value, sid). ``repartition(col)`` hash-partitions
    keys into spark.sql.shuffle.partitions tasks, so effective parallelism
    is min(cardinality, shuffle partitions): a 4-value role track caps at
    4 busy tasks (inherent to global-per-key semantics, not a plan
    defect); a username-cardinality track fills every partition —
    exercised at 10^4 keys in tests/test_track_cardinality.py. These branches
    make the plan dual-consumer, so callers should persist the upstream
    (pipeline.build_alerts does this automatically).
    """
    if scope != "linear":
        raise ValueError(f"unknown correlate scope {scope!r}; only 'linear' exists")
    tracked: dict[str, dict[int, Rule]] = {}
    conv_rules: dict[int, Rule] = {}
    for r in ruleset.rules:
        if not r.stateful:
            continue
        if r.track in ("role", "tool"):
            tracked.setdefault(r.track, {})[r.sid] = r
        else:
            conv_rules[r.sid] = r
    if not tracked and not conv_rules:
        return alerts
    schema = alerts.schema
    # Spill guard (SURVEY §4.2): a partition is normally replayed as one
    # frame (bounded by rows-per-shuffle-partition), but a pathological
    # hot conversation can make one partition's alert slice arbitrarily
    # large — the measured straggler turns stage-dominant around ~3×10⁵
    # matched turns in one conv (BENCH/TUNING.md skew rows). Above
    # chunk_rows the replay streams the SAME sorted rows through
    # bounded-size chunks instead, carrying (counters, bits, guard) state
    # across chunk boundaries — memory bounded by ~chunk_rows + one
    # (conv, turn) run, identical output (tests force a tiny chunk size).
    chunk_rows = int(os.environ.get("SAGAN_REPLAY_CHUNK_ROWS", str(1 << 21)))

    def _make_replay(rules: dict[int, Rule], col: str):
        # same bounded-chunk streaming as the conv replay below — and
        # simpler: track replay is row-at-a-time, so every Arrow batch is
        # a valid chunk boundary and no rebuffering is needed at all
        def replay_tracked(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            carry = _TrackCarry()
            buf: list[pd.DataFrame] = []
            nbuf = 0
            for b in batches:
                if not len(b):
                    continue
                buf.append(b)
                nbuf += len(b)
                if nbuf < chunk_rows:
                    continue
                pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
                out = _replay_tracked_carry(rules, pdf, col, carry)
                if len(out):
                    yield out
                buf, nbuf = [], 0
            if nbuf:
                pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
                out = _replay_tracked_carry(rules, pdf, col, carry)
                if len(out):
                    yield out

        return replay_tracked

    def replay(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = _ReplayCarry()
        buf: list[pd.DataFrame] = []
        nbuf = 0
        for b in batches:
            if not len(b):
                continue
            buf.append(b)
            nbuf += len(b)
            if nbuf < chunk_rows:
                continue
            pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
            conv = pdf["conv_id"].to_numpy()
            turn = pdf["turn_idx"].to_numpy()
            # split at the LAST (conv, turn)-run boundary — a run must
            # never be replayed half-seen (checks see pre-turn state)
            bnd = np.flatnonzero((conv[1:] != conv[:-1]) | (turn[1:] != turn[:-1])) + 1
            if len(bnd) == 0:
                buf = [pdf]  # one giant run (sids × one turn) — keep
                continue  # buffering the already-merged frame, no re-concat
            split = int(bnd[-1])
            out = _replay_sorted_carry(conv_rules, pdf.iloc[:split], carry)
            if len(out):
                yield out
            buf = [pdf.iloc[split:]]
            nbuf = len(pdf) - split
        if nbuf:
            pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
            out = _replay_sorted_carry(conv_rules, pdf, carry)
            if len(out):
                yield out

    branches = []
    handled: list[int] = []
    for col, rules in sorted(tracked.items()):
        sids = list(rules)
        handled += sids
        branches.append(
            alerts.filter(alerts.sid.isin(sids))
            .repartition(col)
            .sortWithinPartitions(col, "ts", "conv_id", "turn_idx", "sid")
            .mapInPandas(_make_replay(rules, col), schema=schema)
        )
    out = alerts.filter(~alerts.sid.isin(handled)) if handled else alerts
    if conv_rules:
        out = (
            out.repartition(*([buckets] if buckets else []), "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx", "sid")
            .mapInPandas(replay, schema=schema)
        )
        if not branches:
            # partitioned by conv_id and sorted by (conv_id, turn_idx, sid)
            # as it stands: route.sink_rows writes it without a second
            # exchange (route.attach_rule_meta carries the tag)
            out._sagan_conv_sorted = True
    for b in branches:
        out = out.unionByName(b)
    return out

