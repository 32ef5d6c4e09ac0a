"""End-to-end batch pipeline: parse → match → enrich → correlate → route.

The Spark re-expression of Sagan's per-event loop (SURVEY §3.2 E1). The
default match_mode="auto" resolves to the fused plan below on ordinary
input, and to the zero-exchange hybrid plan when the scan is bucketed by
conv_id and every rule is native (resolve_match_mode). Fused plan shape
(asserted by tests/test_plan_shape.py):

  ONE parquet/Iceberg scan (ReadSchema pruned to the 6 transcript columns)
    → Project: native-rule CASE array → `_nsids` [whole-stage codegen]
    → Filter: native hit OR UDF fast-pattern     [JVM-side candidate prune]
    → MapInPandas fused matcher                  ← the JVM↔Py boundary
    → BroadcastHashJoin ×2 + BroadcastNestedLoopJoin (attach dims)
    → Exchange hashpartitioning(conv_id)         [the ONLY shuffle before sinks]
    → Sort within partitions → MapInPandas replay (stateless pass through)
    → literal-map rule meta
    → Observation counts → noop write, or (out_dir) route.sink_rows:
      Exchange(conv_id) → Sort → line CASE → Observation counts
      → route.write_sink_rows: MapInArrow writer of every sink

Strictly linear: every stage has one consumer, so nothing recomputes and
nothing needs a persist (counts ride the single action via the Observation
API; with out_dir that action is route.write_sinks' one-pass writer).
Exceptions that DO persist: rule sets with role-tracked counters (two
replay branches), run_dynamic with out_dir (each pass's alerts feed its
count and the union's write), and route's Spark-writer fallback for an
out_dir executors cannot open.

Every rule-dependent expression of that plan (native predicates and
`_nsids`, the prefilter, rule meta, the line CASE, the alert counters) is
Spark SQL text rendered in Python and parsed by the JVM in one call each,
so building the plan costs the same few hundred py4j round trips for 13
rules as for 58.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..datagen import dims as dimsmod
from ..rules.canonical import CANONICAL
from ..rules.model import RuleSet
from . import correlate, enrich, match, route
from .. import io as iomod


logger = logging.getLogger("sagan_spark.pipeline")


def _scan_bucketed_by(df: DataFrame, col: str) -> bool:
    """True iff EVERY leaf relation of ``df``'s plan is a file scan bucketed
    by exactly ``[col]`` (Spark native bucketing — the same planner
    distribution Iceberg's bucket transform provides on a real cluster).
    With ``autoBucketedScan`` pinned off (session.py) a bucketed relation
    is always read bucketed, so the scan's HashPartitioning(col) is real.
    Detection failure of any kind returns False (callers fall back to the
    shuffle-inserting plan, which is always correct)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        n = leaves.size()
        if n == 0:
            return False
        for i in range(n):
            try:
                spec = leaves.apply(i).relation().bucketSpec()
                if not spec.isDefined():
                    return False
                cols = spec.get().bucketColumnNames()
                if cols.size() != 1 or cols.apply(0) != col:
                    return False
            except Exception:
                return False  # non-file leaf (e.g. LocalRelation): no buckets
        return True
    except Exception:
        return False


def resolve_match_mode(
    input_df: DataFrame, ruleset: RuleSet, match_mode: str = "auto"
) -> str:
    """Resolve ``match_mode="auto"`` to a concrete plan.

    auto → "hybrid" iff every rule is native-compilable AND the input scan
    is bucketed by conv_id: the all-native hybrid plan is a SINGLE scan
    with zero Python stages before the replay (native rules explode
    JVM-side), so the scan's bucket partitioning survives to the conv_id
    replay and the Exchange is elided entirely — the measured 100-TB
    headline plan (tests/test_bucketed_layout.py, docs/SCALE.md). The
    fused mode's MapInPandas reports UnknownPartitioning and always
    re-inserts that exchange, so on a bucketed table defaults would
    silently pay a shuffle the engine can provably skip.

    auto → "fused" otherwise (any Python-path rule, or an unbucketed
    scan): one scan, JVM candidate pruning, one Arrow crossing — the
    scan-dominated default measured in BENCH/BASELINE.md.

    An EXPLICIT mode is honored as given; if it leaves the elision on the
    table (fused on a bucketed all-native workload) a log line says so
    rather than second-guessing the caller.
    """
    all_native = all(match.native_compilable(r) for r in ruleset.rules)
    if match_mode != "auto":
        if all_native and match_mode != "hybrid" and _scan_bucketed_by(input_df, "conv_id"):
            logger.info(
                "input is bucketed by conv_id and every rule is native-"
                "compilable: match_mode='hybrid' (or 'auto') would elide "
                "the conv_id exchange entirely; explicit %r keeps it",
                match_mode,
            )
        return match_mode
    if all_native and _scan_bucketed_by(input_df, "conv_id"):
        logger.info(
            "auto match_mode → 'hybrid': bucketed conv_id scan + all-native "
            "rules, replay exchange elided"
        )
        return "hybrid"
    return "fused"


@dataclass
class PipelineResult:
    alerts: DataFrame  # routed alert rows; only run_dynamic(out_dir=...) caches them, per pass
    sink_counts: dict[str, int]
    sid_counts: dict[int, int]
    metrics: dict  # A3 stats ([PUB src/stats-json.c])

    def unpersist(self) -> None:
        unpersist_alerts(self.alerts)


def unpersist_alerts(alerts: DataFrame) -> None:
    """Unpersist ``alerts`` and every intermediate build_alerts cached for
    it (the enriched frame of role-/tool-tracked rule sets) — long-lived
    sessions would otherwise accumulate one cached DataFrame per run."""
    alerts.unpersist()
    for inner in getattr(alerts, "_sagan_persisted", ()):
        inner.unpersist()


def build_alerts(
    spark: SparkSession,
    input_df: DataFrame,
    ruleset: RuleSet = CANONICAL,
    fold_dims: bool = True,
    match_mode: str = "auto",
) -> DataFrame:
    """The alert DataFrame (lazy).

    Plan: scan → match (resolve_match_mode: fused or hybrid) → broadcast
    enrich joins → ONE conv_id Exchange → sorted partition replay
    (stateless alerts pass through inside it) → literal-map rule meta.
    Strictly linear: the scan + match subtree has exactly one consumer, so
    nothing recomputes and nothing needs a persist; every stage cost is
    per-task parallel (scales with cores/executors). See
    correlate.run_correlate for why branching alternatives don't scale.
    The one exception: role-/tool-tracked stateful rules add a track-keyed
    replay branch, so the enriched frame is persisted and handed to the
    caller for release (unpersist_alerts).
    """
    from ..packaging import ensure_shipped

    ensure_shipped(spark)
    match_mode = resolve_match_mode(input_df, ruleset, match_mode)
    matched = match.run_match(input_df, ruleset, fold_dims=fold_dims, mode=match_mode)
    enriched = enrich.attach_dims(
        matched,
        dimsmod.role_dim(spark),
        dimsmod.tool_dim(spark),
        dimsmod.risk_ranges(spark),
        dimsmod.bluedot_dim(spark) if not fold_dims else None,
    )
    if not fold_dims:
        enriched = enrich.apply_enrich_filters(enriched, ruleset)
        # bd_* are filter-only attributes of the unfolded path (folded mode
        # never attaches them) — drop after filtering so PipelineResult.alerts
        # has the SAME schema in both modes
        enriched = enriched.drop("bd_category", "bd_score")
    # non-conv tracked rules (by_username → role, by_dst → tool) split the
    # plan into a conv-keyed and one-or-more track-keyed replay branches —
    # dual consumers of the match subtree, so persist it (MapInPandas
    # subtrees are never exchange-reuse-deduped).
    has_track_branch = any(
        r.stateful and r.track in ("role", "tool") for r in ruleset.rules
    )
    if has_track_branch:
        enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    correlated = correlate.run_correlate(enriched, ruleset)
    out = route.attach_rule_meta(correlated, ruleset)
    if has_track_branch:
        # hand the cache handle to callers (unpersist_alerts)
        out._sagan_persisted = (enriched,)
    return out


def observe(df: DataFrame, aggs: list) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` observing ``aggs``, and a reader of their values for after the
    action that runs it.

    AQE replaces a shuffle stage whose output is empty with an empty
    relation, and the CollectMetrics node inside that stage leaves the
    executed plan with it: the observation never fires and its JVM row
    cannot convert. That happens to the input observation on an all-empty
    input, and would happen to an alerts observation under write_sinks'
    exchange on every run with no alerts — so run observes the alerts
    above that exchange (route.sink_rows), where the observation fires
    with zero counts. The reader then aggregates the same metrics over the
    unobserved ``df`` (an Observation is single-use): extra jobs, only on
    those degenerate runs."""
    obs = Observation()  # unnamed → unique (plans may be unioned, e.g. run_dynamic)

    def read() -> dict:
        try:
            return dict(obs.get)
        except Exception:
            return df.agg(*aggs).first().asDict()

    return df.observe(obs, *aggs), read


def observe_input(df: DataFrame) -> tuple[DataFrame, Callable[[], dict]]:
    """Observe the input metrics (rows in, approx distinct conversations,
    time span — the stats-json analogue) on ``df``: they ride whatever
    action runs the plan. Returns the observed frame and a reader for after
    that action."""
    return observe(
        df,
        [
            F.count(F.lit(1)).alias("rows_in"),
            F.approx_count_distinct("conv_id").alias("convs_approx"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
        ],
    )


def observe_alerts(
    alerts: DataFrame, ruleset: RuleSet, read_input: Callable[[], dict]
) -> tuple[DataFrame, Callable[[], tuple[dict, dict, dict]]]:
    """Observe the alert total and the A1 per-sid / A2 per-sink counters
    ([PUB src/stats.c]) on ``alerts``: Sagan bumps them as each alert
    passes its output queue, never in a second pass. Returns the observed
    frame, carrying ``alerts``' cache handles (unpersist_alerts), and a
    reader of ``(sink_counts, sid_counts, metrics)`` for after its first
    action. Under a persist, both observations fire on the action that
    fills the cache."""
    match.check_sql_literals(alerts.sparkSession)
    sinks = ruleset.sinks()
    sids = sorted(r.sid for r in ruleset.rules if not r.noalert)
    # one struct of every counter, rendered as SQL: one JVM call whatever
    # the rule count
    counts = ", ".join(
        [
            "'alerts', count(1)",
            *[
                f"{match._sql_str('sink_' + s)}, sum(CASE WHEN (`sink` = {match._sql_str(s)}) THEN 1 ELSE 0 END)"
                for s in sinks
            ],
            *[f"'sid_{s}', sum(CASE WHEN (`sid` = {s}) THEN 1 ELSE 0 END)" for s in sids],
        ]
    )
    observed, read_alerts = observe(alerts, [F.expr(f"named_struct({counts}) AS counts")])
    observed._sagan_persisted = getattr(alerts, "_sagan_persisted", ())

    def read() -> tuple[dict, dict, dict]:
        got = read_alerts()["counts"].asDict()
        sink_counts = {s: got[f"sink_{s}"] for s in sinks if got[f"sink_{s}"]}
        sid_counts = {s: got[f"sid_{s}"] for s in sids if got[f"sid_{s}"]}
        return sink_counts, sid_counts, {**read_input(), "alerts": got["alerts"] or 0}

    return observed, read


def run(
    spark: SparkSession,
    input_path: str,
    ruleset: RuleSet = CANONICAL,
    out_dir: str | None = None,
    fold_dims: bool = True,
    match_mode: str = "auto",
) -> PipelineResult:
    """Execute the pipeline.

    Per-sink and per-sid counts and the input metrics ride the action that
    runs anyway, via the Observation API: no count job, no second pass.
    Without ``out_dir`` that action is ONE noop write; with it, the one
    pass of route.write_sinks that writes every sink, and the alert counts
    are observed on the rows its writer consumes (route.sink_rows): above
    the sink exchange, where AQE keeps the observation on a run with no
    alerts. Nothing is persisted (role-tracked rule sets aside:
    PipelineResult.unpersist).
    """
    alerts, read_input = _alerts(spark, input_path, ruleset, fold_dims, match_mode)
    if out_dir is None:
        observed, read_counts = observe_alerts(alerts, ruleset, read_input)
        _noop(observed)
    else:
        observed, read_counts = observe_alerts(route.sink_rows(alerts), ruleset, read_input)
        route.write_sink_rows(observed, out_dir)
    return PipelineResult(alerts, *read_counts())


def _alerts(
    spark: SparkSession, input_path: str, ruleset: RuleSet, fold_dims: bool, match_mode: str
) -> tuple[DataFrame, Callable[[], dict]]:
    """The alerts of ``input_path``, built over an input observation, and
    that observation's reader (observe_input)."""
    df, read_input = observe_input(
        iomod.read_table(spark, input_path, columns=iomod.TRANSCRIPT_COLUMNS)
    )
    return build_alerts(spark, df, ruleset, fold_dims=fold_dims, match_mode=match_mode), read_input


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_dynamic(
    spark: SparkSession,
    input_path: str,
    ruleset: RuleSet = CANONICAL,
    out_dir: str | None = None,
    fold_dims: bool = True,
    match_mode: str = "auto",
) -> PipelineResult:
    """C7 depends_on / dynamic rules ([PUB src/processors/dynamic-rules.c]),
    two-pass batch semantics: pass 1 runs all independent rules; a dependent
    rule is enabled for pass 2 iff its parent sid fired at least once in
    pass 1. Only the tiny fired-sid set crosses to the driver. Dependent
    rules re-scan the input — acceptable because dynamic rules are rare and
    pass 2 can also be narrowed by its own fast patterns.

    With ``out_dir``, each pass's alerts are persisted under the noop write
    that fires its counts, and the union of the passes is written from
    those caches (released by PipelineResult.unpersist)."""
    base = RuleSet(tuple(r for r in ruleset.rules if r.depends_on is None))
    dependents = [r for r in ruleset.rules if r.depends_on is not None]

    def run_pass(rs: RuleSet) -> PipelineResult:
        alerts, read_input = _alerts(spark, input_path, rs, fold_dims, match_mode)
        alerts, read_counts = observe_alerts(alerts, rs, read_input)
        if out_dir is not None:
            alerts.persist(StorageLevel.MEMORY_AND_DISK)
        _noop(alerts)
        return PipelineResult(alerts, *read_counts())

    res = run_pass(base)
    if dependents:
        fired = set(res.sid_counts)
        enabled = tuple(r for r in dependents if r.depends_on in fired)
        if enabled:
            res2 = run_pass(RuleSet(enabled))
            for k, v in res2.sink_counts.items():
                res.sink_counts[k] = res.sink_counts.get(k, 0) + v
            res.sid_counts.update(res2.sid_counts)
            union = res.alerts.unionByName(res2.alerts)
            # keep both passes and their cache handles reachable from the result
            union._sagan_persisted = tuple(
                frame
                for a in (res.alerts, res2.alerts)
                for frame in (a, *getattr(a, "_sagan_persisted", ()))
            )
            res.alerts = union
    if out_dir is not None:
        route.write_sinks(res.alerts, out_dir)
    return res
