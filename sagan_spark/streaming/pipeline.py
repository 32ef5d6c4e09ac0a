"""Streaming variant (SURVEY §3.2 E3) — Structured Streaming end to end.

The reference consumes an unbounded FIFO ([PUB src/input-pipe.c]); here the
same stages run over ``readStream``:

  file/Iceberg stream → fused match (stream-safe: SQL exprs +
  mapInPandas) → the enrich projection (dims as CASE lookups) →
  ``applyInPandasWithState`` keyed by conv_id for after/threshold/flexbit
  state (carried across micro-batches) → one write of every sink per
  micro-batch (``foreachBatch`` → route.write_sink_rows, partitioned form).

Ordering contract: Sagan guarantees per-source arrival order; the streaming
analogue is per-conversation turn order across micro-batches. Within a
batch each conversation's rows are sorted by turn_idx; across batches the
source must deliver a conversation's turns in non-decreasing order (true
for append-only transcript logs; enforceable with ``maxFilesPerTrigger`` +
chronological file naming). Turns arriving at or below the replayed
high-water mark are DROPPED AND COUNTED (late-data policy, see
_make_state_fn) rather than replayed out of order.

State per conversation is O(#stateful rules + #bits): counters (window
start + count per sid) and bit timestamps, plus the turn high-water mark
and late-drop count, serialized as JSON in the GroupState — the streaming
twin of Sagan's mmap flexbit/threshold tables. ``state_ttl_minutes``
enables ProcessingTimeTimeout eviction of dead conversations (bounded
state at 10^9 conversations); None keeps state forever (tests of
cross-batch semantics use that).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from .. import fsutil
from ..engine import enrich, match, route
from ..engine.correlate import counter_emit
from ..engine.pipeline import observe
from ..io import TRANSCRIPT_SCHEMA
from ..rules.canonical import CANONICAL
from ..rules.model import Rule, RuleSet

STATE_SCHEMA = StructType([StructField("blob", StringType())])


def _replay_batch_incremental(
    rules_by_sid: dict[int, Rule],
    pdf: pd.DataFrame,
    counters: dict,
    bits: dict,
) -> list:
    """Replay one conversation's NEW rows (one micro-batch), mutating the
    carried state. Same semantics as engine/correlate._replay_sorted —
    kept honest by the streaming≡batch differential test. Returns the
    pandas index labels of rows that emit."""
    pdf = pdf.sort_values(["turn_idx", "sid"], kind="mergesort")
    turn = pdf["turn_idx"].to_numpy()
    sid = pdf["sid"].to_numpy()
    tool = pdf["tool"].to_numpy()
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
    emit_rows: list = []
    n = len(pdf)
    i = 0
    while i < n:
        j = i + 1
        while j < n and turn[j] == turn[i]:
            j += 1
        pending_sets: list[tuple[str, str, float, float | None]] = []
        for k in range(i, j):
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
                # state-blob keys are JSON strings; repr() of the tool
                # keeps None distinct from the string 'None'
                key = (
                    f"{rule.sid}|{tool[k]!r}"
                    if rule.track == "conv_tool"
                    else str(rule.sid)
                )
                emit = counter_emit(rule, counters, key, t)
            for fb in rule.flexbits:
                if fb.action in ("set", "unset"):
                    pending_sets.append(
                        (fb.action, fb.name, t, float(fb.expire) if fb.expire is not None else None)
                    )
            if emit:
                emit_rows.append(pdf.index[k])
        for action, name, t, exp in pending_sets:
            if action == "set":
                bits[name] = (t, exp)
            else:
                bits.pop(name, None)
        i = j
    return emit_rows


def _make_role_state_fn(
    role_rules: dict[int, Rule],
    out_cols: list[str],
    ttl_minutes: int | None = None,
    hwm_cap: int = 100_000,
):
    """track="role" (by_username) streaming counters, keyed by the track
    value.

    Ordering semantics: ts-sorted WITHIN a micro-batch, arrival order
    ACROSS batches — the exact analogue of the reference's mmap counters,
    which count in arrival order ([PUB src/after.c]). The batch engine
    replays in global event-time order instead, so streaming ≡ batch holds
    exactly when the source delivers in event-time order (append-only
    logs); out-of-order arrival shifts which events of a window emit, the
    same way it does in the reference.

    Robustness policies, mirroring the conv-keyed branch (_make_state_fn):
    - Redelivery/late guard: a redelivered alert row would increment the
      GLOBAL (track value, sid) counter a second time and shift which
      events emit, so the state blob carries a per-conversation turn
      high-water mark; rows at or below their conversation's mark are
      DROPPED AND COUNTED (``late``). The mark map is BOUNDED at
      ``hwm_cap`` conversations per track key, evicted least-recently-
      updated first (a live track key like a 4-value role never idles, so
      TTL alone cannot bound it): redelivery of a conversation older than
      the cap window goes undetected — the same bounded-memory trade the
      TTL makes, documented rather than an unbounded blob that would grow
      one entry per conversation ever seen and OOM the state store.
    - ``ttl_minutes``: ProcessingTimeTimeout eviction of idle track keys —
      required when the track key is a high-cardinality username column
      (fine to leave None for 4-value role tracks that never go idle);
      an evicted key restarts from empty counters if it resumes."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            blob = json.loads(state.get[0])
            if "counters" not in blob:
                # pre-round-3 flat {sid: [window_start, count]} blob (the
                # format before the hwm/late redelivery guard existed):
                # adopt it as the counters map instead of KeyError'ing a
                # resumed checkpoint; the guard fields start empty, so the
                # first post-migration batch cannot detect redelivery of
                # pre-migration turns — same exposure the old code had.
                counters = {int(k): tuple(v) for k, v in blob.items()}
                hwm, late = {}, 0
            else:
                counters = {int(k): tuple(v) for k, v in blob["counters"].items()}
                hwm = blob.get("hwm", {})
                late = blob.get("late", 0)
        else:
            counters, hwm, late = {}, {}, 0
        parts = [pdf for pdf in pdfs if len(pdf)]
        outs = []
        if parts:
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            late_mask = pdf["turn_idx"] <= pdf["conv_id"].map(
                lambda c: hwm.get(c, -1)
            )
            if late_mask.any():
                late += int(late_mask.sum())
                pdf = pdf.loc[~late_mask]
            for conv, t in pdf.groupby("conv_id")["turn_idx"].max().items():
                # delete-then-insert keeps dict order = recency (JSON
                # round-trips preserve it), making the cap eviction LRU
                hwm.pop(conv, None)
                hwm[conv] = max(-1, int(t))
            if len(hwm) > hwm_cap:
                for conv in list(hwm)[: len(hwm) - hwm_cap]:
                    del hwm[conv]
            pdf = pdf.sort_values(["ts", "conv_id", "turn_idx", "sid"], kind="mergesort")
            ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
            sid = pdf["sid"].to_numpy()
            keep = []
            for i in range(len(pdf)):
                rule = role_rules[int(sid[i])]
                if counter_emit(rule, counters, rule.sid, ts[i]):
                    keep.append(pdf.index[i])
            if keep:
                outs.append(pdf.loc[keep, out_cols])
        state.update(
            (
                json.dumps(
                    {
                        "counters": {str(k): v for k, v in counters.items()},
                        "hwm": hwm,
                        "late": late,
                    }
                ),
            )
        )
        if ttl_minutes is not None:
            state.setTimeoutDuration(int(ttl_minutes * 60_000))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return fn


def _make_dynamic_gate_fn(out_cols: list[str]):
    """C7 dynamic rules, streaming form ([PUB src/processors/dynamic-rules.c]
    enables a dependent rule when its parent fires; the batch transposition
    is engine/pipeline.run's counting pass over the base rules).

    Streaming semantics are GO-FORWARD, like the reference's runtime
    loader: a child alert emits iff its parent fired at an earlier OR
    EQUAL arrival position (earlier micro-batch, earlier (ts, conv, turn)
    within this batch, or the SAME (ts, conv, turn) — the parent sid is
    sorted first at ties, so same-turn children DO emit, matching the
    batch two-pass which always emits them). The batch two-pass re-scans
    the whole input once the parent fires anywhere, so child events that
    ARRIVE strictly before the parent's first fire emit in batch but not
    in streaming — the same window-edge divergence the reference has
    between a cold start and a long-running daemon, documented rather
    than papered over (tested in test_streaming_dynamic).

    One stateful operator keyed by parent sid (cardinality = #dynamic
    parents; the slice is parent+child ALERTS only, so the narrow key is
    not a throughput bottleneck for rare dynamic rules). State is one
    boolean per parent."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        parent_sid = int(key[0])
        on = bool(json.loads(state.get[0]).get("on", False)) if state.exists else False
        parts = [pdf for pdf in pdfs if len(pdf)]
        outs = []
        if parts:
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            # Semantic tie-break: at equal (ts, conv_id, turn_idx) the
            # PARENT row sorts first (not whichever sid happens to be
            # numerically smaller), so a child alert on the same turn as
            # its parent's fire emits — exactly like the batch two-pass.
            pdf = pdf.assign(_child=(pdf["sid"].astype("int64") != parent_sid)).sort_values(
                ["ts", "conv_id", "turn_idx", "_child", "sid"], kind="mergesort"
            ).drop(columns="_child")
            sid = pdf["sid"].to_numpy()
            keep = []
            for i in range(len(pdf)):
                if int(sid[i]) == parent_sid:
                    on = True  # parent alerts always pass AND arm the gate
                    keep.append(pdf.index[i])
                elif on:
                    keep.append(pdf.index[i])
            if keep:
                outs.append(pdf.loc[keep, out_cols])
        state.update((json.dumps({"on": on}),))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return fn


def _make_state_fn(ruleset: RuleSet, out_cols: list[str], ttl_minutes: int | None = None):
    """State function with two production policies (SURVEY §2.7):

    - TTL (``ttl_minutes``): dead conversations are evicted via
      ProcessingTimeTimeout — the streaming twin of Sagan's flexbit
      expiry sweep. On timeout the group's state is removed; if the
      conversation later resumes it restarts from empty state (counters
      re-anchor, bits re-set) — documented, bounded-memory behavior.
    - Late-turn policy: the ordering contract is per-conversation
      non-decreasing turn_idx across micro-batches; a turn at or below the
      replayed high-water mark would corrupt reset-window/bit state if
      replayed, so it is DROPPED and counted (``late`` in the state blob)
      instead of silently corrupting — drop-and-count, the documented
      late-data policy.
    """
    rules_by_sid = {r.sid: r for r in ruleset.rules if r.stateful}

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            blob = json.loads(state.get[0])
            counters = {k: tuple(v) for k, v in blob["counters"].items()}
            bits = {k: tuple(v) for k, v in blob["bits"].items()}
            last_turn = blob.get("last_turn", -1)
            late = blob.get("late", 0)
        else:
            counters, bits = {}, {}
            last_turn, late = -1, 0
        # Accumulate ALL Arrow chunks for this key first: a micro-batch may
        # deliver one group as several chunks with no cross-chunk ordering
        # guarantee, and replay is order-sensitive — concat, then ONE
        # sort + replay (mirrors engine/correlate's concat-then-sort).
        parts = [pdf for pdf in pdfs if len(pdf)]
        outs = []
        if parts:
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            late_mask = pdf["turn_idx"] <= last_turn
            if late_mask.any():
                late += int(late_mask.sum())
                pdf = pdf.loc[~late_mask]
            if len(pdf):
                last_turn = max(last_turn, int(pdf["turn_idx"].max()))
                keep = _replay_batch_incremental(rules_by_sid, pdf, counters, bits)
                if keep:
                    outs.append(pdf.loc[keep, out_cols])
        state.update(
            (
                json.dumps(
                    {"counters": counters, "bits": bits, "last_turn": last_turn, "late": late}
                ),
            )
        )
        if ttl_minutes is not None:
            state.setTimeoutDuration(int(ttl_minutes * 60_000))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return fn


def build_stream(
    spark: SparkSession,
    input_dir: str,
    ruleset: RuleSet = CANONICAL,
    max_files_per_trigger: int = 1,
    state_ttl_minutes: int | None = None,
    track_hwm_cap: int = 100_000,
) -> DataFrame:
    """The streaming alert DataFrame (unstarted query).

    NOTE: the stateful stage is one unified operator keyed by
    (_skind, _skey) — see the comment at its construction site. Spark
    does not support changing a query's stateful-operator layout between
    restarts, so checkpoints written by the pre-unification per-domain
    layout cannot be resumed; restart those streams with a fresh
    checkpoint dir (the exactly-once batch=<id> sink layout is unaffected
    and readable throughout). ``run_stream`` detects such checkpoints and
    refuses with that message up front (check_checkpoint_layout) instead
    of letting Spark fail with an opaque state-schema error."""
    from ..packaging import ensure_shipped

    ensure_shipped(spark)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    # always fused: micro-batch scans carry no bucket partitioning, so the
    # batch engine's hybrid choice (pipeline.resolve_match_mode) never applies
    matched = match.run_match(stream, ruleset, mode="fused")
    enriched = enrich.attach_dims(matched)

    tracked: dict[str, dict[int, Rule]] = {}
    for r in ruleset.rules:
        if r.stateful and r.track in ("role", "tool"):
            tracked.setdefault(r.track, {})[r.sid] = r
    tracked_sids = [sid for d in tracked.values() for sid in d]
    conv_sids = [
        r.sid for r in ruleset.rules if r.stateful and r.sid not in tracked_sids
    ]

    children_by_parent: dict[int, list[int]] = {}
    for r in ruleset.rules:
        if r.depends_on is not None:
            children_by_parent.setdefault(r.depends_on, []).append(r.sid)
    by_sid = ruleset.by_sid()
    for p, csids in children_by_parent.items():
        # dynamic rules must be stateless in streaming: a stateful CHILD's
        # counters would run inside the replay even while the rule is
        # disabled (batch pass-2 only ever counts enabled events), and a
        # stateful PARENT would need its post-replay emissions to feed the
        # gate — a second stateful hop Spark cannot chain. Refuse loudly.
        parent_rule = by_sid.get(p)
        if parent_rule is not None and parent_rule.stateful:
            raise ValueError(
                f"sid {p}: stateful dynamic PARENT rules are not supported "
                "in streaming (gating needs the parent's post-replay "
                "emissions, which would chain two stateful operators)"
            )
        for c in csids:
            if by_sid[c].stateful:
                raise ValueError(
                    f"sid {c}: stateful dynamic rules are not supported "
                    "in streaming (its after/threshold state would "
                    "count events arriving while the rule is disabled)"
                )
    parents = list(children_by_parent)
    children = [c for cs in children_by_parent.values() for c in cs]
    special_sids = conv_sids + tracked_sids + parents + children

    correlated = enriched
    if special_sids:
        # ONE stateful operator for every state domain. Spark rejects a
        # streaming query containing more than one applyInPandasWithState
        # ("Multiple applyInPandasWithStates are not supported" — found
        # empirically when combining conv-stateful and dynamic rules), so
        # the conv replay, the role/tool track counters and the dynamic
        # gate all share a single operator keyed by the composite
        # (_skind, _skey): ("conv", conv_id) / ("role", role) /
        # ("tool", tool) / ("dyn", parent sid). The state function
        # dispatches on the domain; state blobs stay per-domain-key, so
        # semantics and state sizes are identical to separate operators.
        #
        # extracted (map) is dropped through the state path: Arrow state
        # output with MapType is fragile across versions, and no stateful
        # canonical rule extracts fields. Re-attachable via grok re-run if
        # a rule set ever needs both.
        all_rows = enriched.drop("extracted")
        out_schema = all_rows.schema
        out_cols = [f.name for f in out_schema.fields]
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_minutes is not None
            else GroupStateTimeout.NoTimeout
        )

        branches: list[tuple[list[int], str, F.Column]] = []
        if conv_sids:
            branches.append((conv_sids, "conv", F.col("conv_id")))
        for col, rules in sorted(tracked.items()):
            # TTL applies to track keys too — a high-cardinality username
            # track needs idle-key eviction like conversations
            branches.append((list(rules), col, F.col(col)))
        if children_by_parent:
            key_entries: list = []
            for p, cs in children_by_parent.items():
                key_entries += [F.lit(p), F.lit(str(p))]
                for c in cs:
                    key_entries += [F.lit(c), F.lit(str(p))]
            branches.append(
                (parents + children, "dyn",
                 F.element_at(F.create_map(*key_entries), F.col("sid")))
            )
        # Rows of NON-stateful sids flow through the SAME operator under a
        # no-state "pass" domain instead of a filter+union bypass branch
        # (r7). The union looked free but doubled the batch's real cost:
        # its two branches each contain the match mapInPandas subtree, and
        # Python stages are never exchange-reuse-deduplicated (the batch
        # engine's linear-plan rule — verified empirically there), so
        # every micro-batch scanned and matched its files TWICE. The pass
        # domain yields its input unchanged and never touches state or
        # timers (nothing is ever stored for its keys, so checkpoint
        # layout and resume compatibility are unchanged, and TTL's empty
        # micro-batches never see them). Its key is a deterministic
        # synthetic spread of conv_id — many more distinct values than
        # shuffle partitions so the extra exchanged rows balance
        # (guide §2.5), while each group stays large enough that the
        # per-group pandas overhead is noise.
        kind_expr = F.lit("pass")
        key_expr = F.pmod(F.xxhash64("conv_id"), F.lit(4096)).cast("string")
        for sids, kname, kcol in reversed(branches):
            cond = F.col("sid").isin(sids)
            kind_expr = F.when(cond, F.lit(kname)).otherwise(kind_expr)
            key_expr = F.when(cond, kcol).otherwise(key_expr)

        conv_fn = _make_state_fn(ruleset, out_cols, state_ttl_minutes)
        track_fns = {
            col: _make_role_state_fn(rules, out_cols, state_ttl_minutes, track_hwm_cap)
            for col, rules in tracked.items()
        }
        gate_fn = _make_dynamic_gate_fn(out_cols)

        def dispatch(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
            kind, val = key
            if kind == "conv":
                yield from conv_fn((val,), pdfs, state)
            elif kind in track_fns:
                yield from track_fns[kind]((val,), pdfs, state)
            elif kind == "pass":  # stateless passthrough — no state, no timer
                for pdf in pdfs:
                    yield pdf[out_cols]
            else:  # "dyn" — the gate never arms a timer, so never times out
                yield from gate_fn((int(val),), pdfs, state)

        special = (
            all_rows
            .withColumn("_skind", kind_expr)
            .withColumn("_skey", key_expr)
        )
        correlated = special.groupBy("_skind", "_skey").applyInPandasWithState(
            dispatch,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    return route.attach_rule_meta(correlated, ruleset)


def make_batch_writer(out_dir: str, sinks: tuple[str, ...]):
    """The ``foreachBatch`` body: every sink of a micro-batch in one write
    job of route.write_sink_rows' partitioned form — EXACTLY-ONCE via
    idempotent per-batch overwrite: foreachBatch re-executes a micro-batch
    after a failure between the write and the checkpoint commit, so a
    plain append would duplicate that batch's rows. Each (sink, batch)
    lands in its own ``<sink>/batch=<id>`` Parquet directory, cleared and
    rewritten by a replay of the same batch id. Readers see one Parquet
    tree per sink (``batch`` surfaces as an int partition column via
    standard partition discovery).

    The batch is persisted and counted first: an empty batch writes
    NOTHING (a quiet stream must not accumulate one directory per trigger
    forever; a replay skips it alike), and the count sizes the write at
    one file per sink per ~500k rows (no AQE in streaming to coalesce
    it); a sink with no rows in the batch gets no directory. Sinks written
    by the pre-``batch=`` flat-append layout are detected and refused with
    a migration message: mixing the two layouts breaks partition discovery
    for every reader. The listing goes through the Hadoop FileSystem API
    (fsutil.fs_listdir), so the guard fires on ``s3a://``/``hdfs://`` sink
    paths too — exactly the deployments most likely to hold a stale
    layout; only a genuinely absent directory is treated as
    nothing-to-check."""
    legacy_checked = False

    def _check_legacy(spark: SparkSession) -> None:
        for sink in sinks:
            sink_dir = out_dir.rstrip("/") + "/" + sink
            try:
                entries = fsutil.fs_listdir(spark, sink_dir)
            except FileNotFoundError:  # absent — first write to this sink
                continue
            if any(e.startswith("part-") for e in entries):
                raise RuntimeError(
                    f"sink directory {sink_dir} contains flat part-* files from "
                    "the pre-batch=<id> append layout; move them aside (e.g. "
                    "into a batch=-1/ subdirectory) before resuming — mixed "
                    "layouts break parquet partition discovery"
                )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal legacy_checked
        batch_df.persist()
        try:
            # one job fills the cache and counts it (a count() action is two
            # or three under AQE)
            counted, read = observe(batch_df, [F.count(F.lit(1)).alias("rows")])
            counted.write.format("noop").mode("overwrite").save()
            n = read()["rows"]
            if n == 0:
                return
            if not legacy_checked:
                _check_legacy(batch_df.sparkSession)
                legacy_checked = True
            # coalesce reads the cached blocks without a shuffle
            rows = batch_df.coalesce(max(1, -(-n // 500_000))).sortWithinPartitions(
                "conv_id", "turn_idx", "sid"
            )
            route.write_sink_rows(rows, out_dir, partition=f"batch={batch_id}")
        finally:
            batch_df.unpersist()

    return write_batch


#: The key schema of the unified stateful operator — the ONLY layout this
#: engine version can resume. Pre-unification checkpoints keyed their
#: (single) stateful operator by the domain column directly (conv_id, or
#: role/tool for tracked counters), and Spark cannot change a query's
#: stateful-operator layout between restarts.
_UNIFIED_KEY_COLS = ["_skind", "_skey"]


def check_checkpoint_layout(spark: SparkSession, checkpoint_dir: str, has_stateful: bool) -> None:
    """Refuse, LOUDLY and actionably, to resume a checkpoint whose
    stateful-operator layout does not match this engine version — instead
    of letting Spark surface an opaque state-schema/provider stack trace
    minutes into the restart. Reads the state store's recorded key schema
    (``state/0/<part>/_metadata/schema``: Java writeUTF framing around two
    JSON struct strings — key schema first) through the Hadoop FS API, so
    the guard fires on ``s3a://``/``hdfs://`` checkpoints too. The sink
    legacy-layout guard in make_batch_writer got this treatment in r4;
    this is the checkpoint twin.

    A partition whose schema file holds no '{' that parses as a struct is
    skipped, and a checkpoint with no readable partition passes: the
    guard cannot tell such a layout from its own, and refusing would
    block a valid resume after a change of Spark's framing, so Spark's own
    state-schema check decides (tests/test_checkpoint_guard.py forces
    both unreadable shapes)."""
    ck = checkpoint_dir.rstrip("/")
    state_dir = ck + "/state/0"
    try:
        entries = fsutil.fs_listdir(spark, state_dir)
    except FileNotFoundError:
        # No state dir. Fresh checkpoint → fine. But a checkpoint with
        # COMMITTED batches and no state was written by a STATELESS query:
        # Spark cannot ADD a stateful operator on restart any more than it
        # can drop one, and fails opaquely later — the inverse of the
        # has_stateful=False case below. (offsets-only with no commits =
        # a stateful query interrupted before its first commit; batch 0
        # replays from scratch, resume is legitimate.)
        if has_stateful:
            try:
                committed = any(
                    c.isdigit() for c in fsutil.fs_listdir(spark, ck + "/commits")
                )
            except FileNotFoundError:
                committed = False
            if committed:
                raise RuntimeError(
                    f"checkpoint {checkpoint_dir} was written by a STATELESS "
                    "query (committed batches, no state store) but the "
                    "current ruleset has stateful rules — Spark cannot add "
                    "a stateful operator on restart. Start this ruleset "
                    "with a FRESH checkpoint dir (the batch=<id> sink "
                    "output remains readable throughout)."
                )
        return
    for e in entries:
        if not e.isdigit():
            continue
        schema_path = f"{state_dir}/{e}/_metadata/schema"
        if not fsutil.fs_exists(spark, schema_path):
            continue
        raw = fsutil.fs_read_bytes(spark, schema_path)
        # The schema file is Java writeUTF framing around two JSON struct
        # strings (key schema first). Rather than reverse-engineering every
        # framing version, try each '{' until one parses as a struct: a
        # framing length byte that happens to equal 0x7b ('{', schema length
        # ≡ 123 mod 256) makes the FIRST brace garbage — an uncaught
        # JSONDecodeError would crash the valid resume this guard protects.
        key_schema = None
        text = raw.decode("utf-8", "replace")
        j = text.find("{")
        while j >= 0:
            try:
                cand, _ = json.JSONDecoder().raw_decode(text[j:])
            except json.JSONDecodeError:
                cand = None
            if isinstance(cand, dict) and isinstance(cand.get("fields"), list):
                key_schema = cand
                break
            j = text.find("{", j + 1)
        if key_schema is None:
            continue  # unreadable schema framing → fail open on this partition
        names = [f["name"] for f in key_schema.get("fields", [])]
        if not has_stateful:
            raise RuntimeError(
                f"checkpoint {checkpoint_dir} contains stateful-operator "
                f"state (keyed by {names}) but the current ruleset has no "
                "stateful rules — Spark cannot drop a stateful operator on "
                "restart. Start this ruleset with a FRESH checkpoint dir "
                "(the batch=<id> sink output remains readable throughout)."
            )
        if names != _UNIFIED_KEY_COLS:
            raise RuntimeError(
                f"checkpoint {checkpoint_dir} was written by a "
                "pre-unification engine version: its stateful operator is "
                f"keyed by {names}, but this version runs ONE unified "
                f"operator keyed by {_UNIFIED_KEY_COLS}. Spark cannot "
                "migrate stateful-operator layouts between restarts — "
                "restart the stream with a FRESH checkpoint dir; the "
                "exactly-once batch=<id> sink layout is unaffected and "
                "stays readable (already-written batches are never "
                "re-emitted once their source files are aged out of the "
                "input directory, so point the fresh run at the unread "
                "remainder)."
            )
        # Found and validated one partition's schema — layouts agree.
        # Checking operator 0 only is CORRECT because this engine runs
        # exactly ONE stateful operator per query (Spark refuses multiple
        # applyInPandasWithStates; see the CLAUDE.md invariant — extend the
        # unified dispatch, never add a second operator). If that invariant
        # ever changes, extend this guard to state/<op> for every operator.
        return


def run_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ruleset: RuleSet = CANONICAL,
    max_files_per_trigger: int = 1,
    state_ttl_minutes: int | None = None,
    trigger_processing_time: str | None = None,
    track_hwm_cap: int = 100_000,
    drain: bool = False,
):
    """Start the streaming pipeline; every sink is written via foreachBatch
    by route's one writer (idempotent per-batch parquet directories —
    exactly-once under micro-batch replay, see make_batch_writer).
    Returns the StreamingQuery.

    Batch sizing IS the throughput knob (measured, BENCH/TUNING.md r5):
    each micro-batch pays a row-count-independent floor (Python round
    trips + state-store commits + its count and write jobs) — a
    ``stream.batch_s`` of 0.97 s for 6,250-row batches (perfbench
    dense_sinks, local[2] on 4 CPUs) — so size
    ``max_files_per_trigger`` so that floor is a small fraction of the
    batch's wall — the bench's production-sized batch ran the same input
    2.7× faster than quarter-sized batches with identical output.
    Latency-bound deployments set the floor instead: the smallest batch
    that meets the latency target, accepting the per-batch overhead.

    ``drain=True`` (backfill runs): Trigger.AvailableNow — process
    everything currently in ``input_dir`` as rate-limited micro-batches
    (``max_files_per_trigger`` still honored, so state-store pressure
    stays bounded) and STOP, instead of idling for new files. The query
    terminates on its own; await it with ``awaitTermination()``.
    Incompatible with ``trigger_processing_time``.

    NOTE: with ``state_ttl_minutes`` set, Structured Streaming schedules
    batches CONTINUOUSLY to evaluate processing-time timers — always pass
    ``trigger_processing_time`` (e.g. "1 minute") alongside TTL, or the
    engine busy-loops empty batches; ``processAllAvailable()`` also never
    settles under pending timers, so TTL deployments should monitor via
    listeners/output instead."""
    if drain and trigger_processing_time is not None:
        raise ValueError("drain=True (AvailableNow) excludes trigger_processing_time")
    has_stateful = any(r.stateful or r.depends_on is not None for r in ruleset.rules)
    check_checkpoint_layout(spark, checkpoint_dir, has_stateful)
    alerts = build_stream(
        spark, input_dir, ruleset, max_files_per_trigger, state_ttl_minutes,
        track_hwm_cap=track_hwm_cap,
    )
    writer = (
        alerts.writeStream.foreachBatch(make_batch_writer(out_dir, ruleset.sinks()))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if drain:
        writer = writer.trigger(availableNow=True)
    elif trigger_processing_time is not None:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()
