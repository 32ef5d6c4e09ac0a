"""End-to-end batch pipeline: parse → match → enrich → correlate → route.

The Spark re-expression of Sagan's per-event loop (SURVEY §3.2 E1). The
input picks the match plan, no option does (resolve_match_mode): the fused
plan below on ordinary input, and the zero-exchange hybrid plan when the
scan is bucketed by conv_id and every rule is native. Enrich conditions
are always folded into the match stage. Fused plan shape (asserted by
tests/test_plan_shape.py):

  ONE parquet/Iceberg scan (ReadSchema pruned to the 6 transcript columns;
    a parquet path is read with their known schema: no inference job)
    → Project: native-rule CASE array → `_nsids` [whole-stage codegen]
    → Filter: native hit OR UDF fast-pattern     [JVM-side candidate prune]
    → MapInPandas fused matcher                  ← the JVM↔Py boundary
    → Project: dims as CASE lookups (attach_dims; no join, no broadcast)
    → Exchange hashpartitioning(conv_id)         [the ONLY shuffle]
    → Sort within partitions → MapInPandas replay (stateless pass through)
    → literal-map rule meta
    → Observation counts → noop write, or (out_dir) route.sink_rows:
      line CASE → Observation counts
      → route.write_sink_rows: MapInArrow writer of every sink

With out_dir that is two Spark jobs: the exchange's map stage and the
writer. The replay's output is already partitioned by conv_id and sorted,
so the sink rows take it as it stands; a rule set with no conv replay
(stateless only) or with role-/tool-tracked branches gets its conv_id
exchange and sort in route.sink_rows instead.

Strictly linear: every stage has one consumer, so nothing recomputes and
nothing needs a persist (counts ride the single action via the Observation
API; with out_dir that action is route.write_sinks' one-pass writer).
Exceptions that DO persist: rule sets with role-tracked counters (two
replay branches) and route's Spark-writer fallback for an out_dir
executors cannot open. A rule set with depends_on rules runs a counting
pass of its base rules first (run), which persists nothing either.

Every rule-dependent expression of that plan (native predicates and
`_nsids`, the prefilter, rule meta, the line CASE, the alert counters) is
Spark SQL text rendered in Python and parsed by the JVM in one call each,
so building the plan costs the same few hundred py4j round trips for 13
rules as for 58.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..rules.canonical import CANONICAL
from ..rules.model import RuleSet
from . import correlate, enrich, match, route
from .. import io as iomod


def _scan_bucketed_by(df: DataFrame, col: str) -> int:
    """The bucket count of ``df``'s scan iff EVERY leaf relation of its plan
    is a file scan bucketed by exactly ``[col]`` into the same number of
    buckets (Spark native bucketing — the same planner distribution
    Iceberg's bucket transform provides on a real cluster), else 0. With
    ``autoBucketedScan`` pinned off (session.py) a bucketed relation is
    always read bucketed, so the scan's HashPartitioning(col) is real.
    Detection failure of any kind returns 0 (callers fall back to the
    shuffle-inserting plan, which is always correct)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        counts = set()
        for i in range(leaves.size()):
            try:
                spec = leaves.apply(i).relation().bucketSpec()
                if not spec.isDefined():
                    return 0
                cols = spec.get().bucketColumnNames()
                if cols.size() != 1 or cols.apply(0) != col:
                    return 0
                counts.add(spec.get().numBuckets())
            except Exception:
                return 0  # non-file leaf (e.g. LocalRelation): no buckets
        return counts.pop() if len(counts) == 1 else 0
    except Exception:
        return 0


def resolve_match_mode(input_df: DataFrame, ruleset: RuleSet) -> str:
    """The match plan for ``ruleset`` over ``input_df``, read off the input.

    "hybrid" iff the rule set is non-empty, every rule is native-compilable
    AND the input scan is bucketed by conv_id: the all-native hybrid plan
    is a SINGLE scan with zero Python stages before the replay (native
    rules explode JVM-side), so the scan's bucket partitioning survives to
    the conv_id replay and the Exchange is elided entirely — the measured
    100-TB headline plan (tests/test_bucketed_layout.py, docs/SCALE.md).
    The fused plan's MapInPandas reports UnknownPartitioning and always
    re-inserts that exchange, so on such a table it would pay a shuffle
    the engine can provably skip.

    "fused" otherwise (any Python-path rule, no rule at all, or an
    unbucketed scan): one scan, JVM candidate pruning, one Arrow crossing —
    the scan-dominated default measured in BENCH/BASELINE.md.
    """
    all_native = bool(ruleset.rules) and all(
        match.native_compilable(r) for r in ruleset.rules
    )
    if all_native and _scan_bucketed_by(input_df, "conv_id"):
        return "hybrid"
    return "fused"


@dataclass
class PipelineResult:
    alerts: DataFrame  # routed alert rows, lazy; role-/tool-tracked sets cache a frame under them
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
) -> DataFrame:
    """The alert DataFrame (lazy).

    Plan: scan → match (resolve_match_mode: fused or hybrid) → enrich
    projection → ONE conv_id Exchange → sorted partition replay
    (stateless alerts pass through inside it) → literal-map rule meta,
    tagged ``_sagan_conv_sorted`` when the replay's layout reaches it
    (correlate.run_correlate).
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
    mode = resolve_match_mode(input_df, ruleset)
    matched = match.run_match(input_df, ruleset, mode=mode)
    enriched = enrich.attach_dims(matched)
    # non-conv tracked rules (by_username → role, by_dst → tool) split the
    # plan into a conv-keyed and one-or-more track-keyed replay branches —
    # dual consumers of the match subtree, so persist it (MapInPandas
    # subtrees are never exchange-reuse-deduped).
    has_track_branch = any(
        r.stateful and r.track in ("role", "tool") for r in ruleset.rules
    )
    if has_track_branch:
        enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # the hybrid plan keeps the scan's bucket partitioning: replaying into
    # that many partitions lets the planner elide the conv_id exchange
    buckets = _scan_bucketed_by(input_df, "conv_id") if mode == "hybrid" else 0
    correlated = correlate.run_correlate(enriched, ruleset, buckets=buckets)
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
    cannot convert. That happens to the input observation on a run with
    no alerts (it sits under the empty conv_id exchange), and would happen
    to an alerts observation under that exchange — so run observes the
    alerts above the last one (route.sink_rows), where the observation
    fires with zero counts. The reader then aggregates the same metrics
    over the unobserved ``df`` (an Observation is single-use): extra jobs,
    only on those degenerate runs."""
    obs = Observation()  # unnamed → unique per call

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
) -> PipelineResult:
    """Execute the pipeline.

    Per-sink and per-sid counts and the input metrics ride the action that
    runs anyway, via the Observation API: no count job, no second pass.
    Without ``out_dir`` that action is ONE noop write; with it, the one
    pass of route.write_sinks that writes every sink, and the alert counts
    are observed on the rows its writer consumes (route.sink_rows): above
    the last conv_id exchange, where AQE keeps the observation on a run
    with no alerts. Nothing is persisted (role-tracked rule sets aside:
    PipelineResult.unpersist).

    C7 depends_on ([PUB src/processors/dynamic-rules.c]): a dependent rule
    runs only if its parent sid fired somewhere in the input. When the set
    holds one, a first pass runs the base rules alone as a noop write, and
    only its fired-sid set reaches the driver. The run itself is then the
    one pass above over the base rules plus the enabled dependents, so
    they share one conversation replay and flexbits set by either kind
    are seen by both; which dependents are enabled is still decided by
    the first pass alone. When none is enabled and there is no
    ``out_dir``, the first pass is the run and is returned as it is.
    """
    if any(r.depends_on is not None for r in ruleset.rules):
        base = RuleSet(tuple(r for r in ruleset.rules if r.depends_on is None))
        first = run(spark, input_path, base)
        fired = set(first.sid_counts)
        ruleset = RuleSet(
            tuple(r for r in ruleset.rules if r.depends_on is None or r.depends_on in fired)
        )
        if out_dir is None and len(ruleset.rules) == len(base.rules):
            return first  # no dependent enabled: the first pass is the run
        first.unpersist()
    alerts, read_input = _alerts(spark, input_path, ruleset)
    if out_dir is None:
        observed, read_counts = observe_alerts(alerts, ruleset, read_input)
        _noop(observed)
    else:
        observed, read_counts = observe_alerts(route.sink_rows(alerts), ruleset, read_input)
        route.write_sink_rows(observed, out_dir)
    return PipelineResult(alerts, *read_counts())


def _alerts(
    spark: SparkSession, input_path: str, ruleset: RuleSet
) -> tuple[DataFrame, Callable[[], dict]]:
    """The alerts of ``input_path``, built over an input observation, and
    that observation's reader (observe_input)."""
    df, read_input = observe_input(
        iomod.read_table(spark, input_path, columns=iomod.TRANSCRIPT_COLUMNS)
    )
    return build_alerts(spark, df, ruleset), read_input


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()
