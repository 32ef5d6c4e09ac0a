"""The two workloads: inputs, one timed operation, its output check, and
the traced run that times each layer from outside through its public
functions.

Each traced layer span is a ``noop`` write of the cumulative plan prefix
that ends in that layer's function call; self time is the span minus the
span of the prefix it extends (``stats.self_times``). Counts come from
Spark's own metrics for the same executions (UI REST API) or, for
streaming, from ``StreamingQueryProgress``.

A traced run traces every layer, so every per-layer metric is a
measurement: the transcript layers on the ``dense_sinks`` input and
``ops.dedup`` on the ``dedup_docs`` input of the same seed, whichever
workload was asked for. The Spark runtime counters and the tracing
overhead are those of the requested workload's own operation.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

from . import inputs
from .probes import node_rows
from .stats import fingerprint, median, self_times

# name → (unit, better)
PER_LAYER = {
    "io.scan_s": ("s", "lower"),
    "io.rows": ("count", "lower"),
    "match.self_s": ("s", "lower"),
    "match.candidate_rows": ("count", "lower"),
    "match.rows_out": ("count", "lower"),
    "match.hit_ratio": ("ratio", "higher"),
    "enrich.self_s": ("s", "lower"),
    "enrich.rows_out": ("count", "lower"),
    "correlate.self_s": ("s", "lower"),
    "correlate.shuffle_bytes": ("B", "lower"),
    "correlate.shuffle_records": ("count", "lower"),
    "correlate.rows_out": ("count", "lower"),
    "correlate.suppressed_ratio": ("ratio", "higher"),
    "correlate.task_skew": ("ratio", "lower"),
    "route.meta_self_s": ("s", "lower"),
    "route.write_s": ("s", "lower"),
    "route.rows_written": ("count", "lower"),
    "route.bytes_written": ("B", "lower"),
    "route.files_written": ("count", "lower"),
    "stream.batch_s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.planning_s": ("s", "lower"),
    "stream.commit_s": ("s", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_bytes": ("B", "lower"),
    "stream.state_commit_s": ("s", "lower"),
    "stream.rows_per_batch": ("count", "higher"),
    "dedup.signature_s": ("s", "lower"),
    "dedup.pairs_s": ("s", "lower"),
    "dedup.pairs": ("count", "lower"),
    "dedup.clusters_s": ("s", "lower"),
    "dedup.survivors_s": ("s", "lower"),
    "dedup.survivors": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.full_span_s": ("s", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.span_to_wall_ratio": ("ratio", "higher"),
}


@dataclass
class Prepared:
    data: str            # input directory of the timed operation
    ref: dict            # reference computed without the engine
    rows: int            # input rows one operation consumes
    scratch: str         # per-run output directory


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


SPAN_REPEATS = 3  # noop writes per span; the span is their median


def _span(rest, df) -> tuple[float, dict]:
    """Median wall time of noop writes of ``df``, and the SQL execution of
    the last one."""
    walls = []
    for _ in range(SPAN_REPEATS):
        prev = rest.last_sql_id()
        t0 = time.perf_counter()
        _noop(df)
        walls.append(time.perf_counter() - t0)
    execs = rest.sql_after(prev)
    return median(walls), (execs[-1] if execs else {})


def _first_counted_rows(execution: dict, start: list[int]) -> float:
    """Output rows of the first node, breadth first from ``start`` down the
    plan, that counts rows (Project and codegen wrappers do not)."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    kids: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        kids.setdefault(e["toId"], []).append(e["fromId"])
    todo = list(start)
    while todo:
        nid = todo.pop(0)
        rows = node_rows(nodes[nid])
        if rows is not None:
            return rows
        todo.extend(sorted(kids.get(nid, [])))
    return 0.0


def _root_rows(execution: dict) -> float:
    """Output rows of the topmost plan node that counts rows."""
    ids = [n["nodeId"] for n in execution.get("nodes", [])]
    return _first_counted_rows(execution, [min(ids)]) if ids else 0.0


def _mapinpandas_rows(execution: dict) -> tuple[float, float]:
    """(rows into, rows out of) the topmost MapInPandas node."""
    mip = [n for n in execution.get("nodes", []) if n["nodeName"] == "MapInPandas"]
    if not mip:
        return 0.0, 0.0
    top = min(mip, key=lambda n: n["nodeId"])
    below = [e["fromId"] for e in execution.get("edges", []) if e["toId"] == top["nodeId"]]
    return _first_counted_rows(execution, below), node_rows(top) or 0.0


def _stages_of(rest, execution: dict) -> list[dict]:
    stage_ids = {s for j in execution.get("successJobIds", [])
                 for s in rest.get(f"/jobs/{j}")["stageIds"]}
    return rest.stages(stage_ids)


def _shuffle_counters(rest, execution: dict) -> dict[str, float]:
    """Exact shuffle write totals of the execution's stages (broadcasts do
    not shuffle, so in the correlate prefix this is the conv_id exchange)
    and the max ÷ median task time of the stages that read it."""
    stages = _stages_of(rest, execution)
    durs = [d for s in stages if s["shuffleReadRecords"] > 0 for d in rest.task_durations_s(s)]
    return {
        "correlate.shuffle_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "correlate.shuffle_records": float(sum(s["shuffleWriteRecords"] for s in stages)),
        "correlate.task_skew": max(durs) / median(durs) if durs and median(durs) > 0 else 0.0,
    }


def _jvm_gc_ms(spark) -> int:
    """Total collection time of the driver JVM's collectors. In local mode
    the driver is the only executor, so this is all GC of the run."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())


def spark_counters(spark, rest, fn):
    """Run ``fn`` and return (its result, its wall time, Spark runtime
    counters of the jobs it launched)."""
    j0 = rest.last_job_id()
    gc0 = _jvm_gc_ms(spark)
    t0 = time.perf_counter()
    result = fn()
    wall = time.perf_counter() - t0
    gc_s = (_jvm_gc_ms(spark) - gc0) / 1000.0
    deadline = time.time() + 10
    while True:
        jobs = rest.jobs_after(j0)
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.1)
    stages = rest.stages({s for j in jobs for s in j["stageIds"]})
    return result, wall, {
        "spark.jobs": float(len(jobs)),
        "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        # JVM-wide, read over JMX: the REST executor totalGCTime only moves
        # with heartbeats, and the stages' task GC time misses collections
        # between tasks, so over a few seconds both often read 0
        "spark.gc_s": gc_s,
    }


def drain(spark, data: str, scratch: str) -> list[dict]:
    """Run ``run_stream`` over the backlog in ``data``, one file per
    trigger, from a fresh checkpoint until it is drained. Returns the
    progress of every non-empty micro-batch."""
    from sagan_spark.streaming import pipeline as sp

    d = os.path.join(scratch, "stream")
    shutil.rmtree(d, ignore_errors=True)
    q = sp.run_stream(spark, data, os.path.join(d, "out"), os.path.join(d, "ck"),
                      max_files_per_trigger=1, drain=True)
    q.awaitTermination()
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def stream_layer(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming metrics of one drain: medians over its
    micro-batches, state size after the last one."""
    dur = [p["durationMs"] for p in progress]
    state = [(p.get("stateOperators") or [{}])[0] for p in progress]
    return {
        "stream.batch_s": median(d["triggerExecution"] for d in dur) / 1000.0,
        "stream.add_batch_s": median(d.get("addBatch", 0) for d in dur) / 1000.0,
        "stream.planning_s": median(d.get("queryPlanning", 0) for d in dur) / 1000.0,
        "stream.commit_s": median(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000.0,
        "stream.state_rows": float(state[-1].get("numRowsTotal", 0)),
        "stream.state_bytes": float(state[-1].get("memoryUsedBytes", 0)),
        "stream.state_commit_s": median(s.get("commitTimeMs", 0) for s in state) / 1000.0,
        "stream.rows_per_batch": median(p["numInputRows"] for p in progress),
    }


def _sink_files(path: str, suffix: str) -> list[str]:
    return sorted(f for f in glob.glob(os.path.join(path, "**", "*" + suffix), recursive=True)
                  if not os.path.basename(f).startswith((".", "_")))


def _parquet_keys(path: str):
    import pyarrow.parquet as pq

    for f in _sink_files(path, ".parquet"):
        t = pq.read_table(f, columns=["conv_id", "turn_idx", "sid"]).to_pydict()
        yield from zip(t["conv_id"], t["turn_idx"], t["sid"])


def _text_lines(path: str):
    for f in _sink_files(path, ".txt"):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                yield (line.rstrip("\n"),)


class Workload:
    name = ""
    spec: dict = {}
    warm_ops = 1  # untimed operations before timing

    def prepare(self, root: str, seed: int, workers: int, scratch: str) -> Prepared:
        raise NotImplementedError

    def op(self, spark, prep: Prepared) -> dict:
        """One operation; returns what ``check`` needs."""
        raise NotImplementedError

    def warm_up(self, spark, prep: Prepared) -> None:
        """Untimed runs before timing. The first run of a plan pays codegen
        and class loading; the next few still speed up while the JIT
        compiles the planner and scheduler paths."""
        for _ in range(self.warm_ops):
            self.op(spark, prep)

    def check(self, prep: Prepared, out: dict) -> str | None:
        """None when the output matches the reference, else the mismatch."""
        raise NotImplementedError

    def trace_layers(self, spark, prep: Prepared, rest) -> tuple[dict[str, float], float]:
        """(per-layer metrics of the layers this operation runs, the span
        of the whole traced operation)."""
        raise NotImplementedError


class DenseSinks(Workload):
    """CANONICAL rules at full plant density: over half the turns become
    alerts, so the conv_id exchange, the sorted replay and the four-sink
    write carry most of the work. Its trace also drains the same files
    through ``run_stream``."""

    name = "dense_sinks"
    spec = {"files": 4, "turns_per_file": 6_250, "plant": 1.0}
    # the cold run takes about 3x a warm one, and the next two still run
    # 10-30% slow while the JIT compiles
    warm_ops = 3

    def prepare(self, root, seed, workers, scratch):
        s = self.spec
        data, ref = inputs.transcripts(root, seed, s["files"], s["turns_per_file"], s["plant"],
                                       workers)
        return Prepared(data, ref, ref["rows"], scratch)

    def op(self, spark, prep):
        from sagan_spark.engine import pipeline

        out_dir = os.path.join(prep.scratch, "sinks")
        res = pipeline.run(spark, prep.data, out_dir=out_dir)
        res.unpersist()
        return {"sink_counts": res.sink_counts, "sid_counts": res.sid_counts, "out_dir": out_dir}

    def check(self, prep, out):
        want_sinks, want_sids = prep.ref["sink_counts"], prep.ref["sid_counts"]
        got_sinks = out["sink_counts"]
        got_sids = {str(k): v for k, v in out["sid_counts"].items()}
        if got_sinks != want_sinks:
            return f"sink counts {got_sinks} != oracle {want_sinks}"
        if got_sids != want_sids:
            return f"sid counts {got_sids} != oracle {want_sids}"
        for sink, want in prep.ref["line_fp"].items():
            got = list(fingerprint(_text_lines(os.path.join(out["out_dir"], sink))))
            if got != want:
                return f"{sink} lines {got} != oracle {want}"
        want = prep.ref["key_fp"].get("unified2", [0, f"{0:016x}"])
        got = list(fingerprint(_parquet_keys(os.path.join(out["out_dir"], "unified2"))))
        if got != want:
            return f"unified2 rows {got} != oracle {want}"
        return None

    def trace_layers(self, spark, prep, rest):
        from sagan_spark import io as iomod
        from sagan_spark.datagen import dims
        from sagan_spark.engine import correlate, enrich, match, pipeline, route

        rs = inputs.canonical_rules()
        raw = iomod.read_table(spark, prep.data, columns=iomod.TRANSCRIPT_COLUMNS)
        m = match.run_match(raw, rs, mode=pipeline.resolve_match_mode(raw, rs))
        e = enrich.attach_dims(m, dims.role_dim(spark), dims.tool_dim(spark), dims.risk_ranges(spark))
        c = correlate.run_correlate(e, rs, scope="linear")
        r = route.attach_rule_meta(c, rs)
        spans, ex = {}, {}
        for name, df in (("io", raw), ("match", m), ("enrich", e), ("correlate", c), ("route", r)):
            spans[name], ex[name] = _span(rest, df)
        own = self_times(spans, {"io": None, "match": "io", "enrich": "match",
                                 "correlate": "enrich", "route": "correlate"})
        cand, m_out = _mapinpandas_rows(ex["match"])
        e_out = _root_rows(ex["enrich"])
        c_out = _root_rows(ex["correlate"])
        out = {
            "io.scan_s": spans["io"],
            "io.rows": _root_rows(ex["io"]),
            "match.self_s": own["match"],
            "match.candidate_rows": cand,
            "match.rows_out": m_out,
            "match.hit_ratio": m_out / cand if cand else 0.0,
            "enrich.self_s": own["enrich"],
            "enrich.rows_out": e_out,
            "correlate.self_s": own["correlate"],
            **_shuffle_counters(rest, ex["correlate"]),
            "correlate.rows_out": c_out,
            "correlate.suppressed_ratio": 1.0 - c_out / e_out if e_out else 0.0,
            "route.meta_self_s": own["route"],
            **self._trace_write(r, prep),
        }
        drain(spark, prep.data, prep.scratch)  # the first drain is cold
        out.update(stream_layer(drain(spark, prep.data, prep.scratch)))
        return out, spans["route"] + out["route.write_s"]

    def _trace_write(self, alerts, prep) -> dict[str, float]:
        from pyspark import StorageLevel

        from sagan_spark.engine import route

        out_dir = os.path.join(prep.scratch, "trace_sinks")
        cached = alerts.persist(StorageLevel.MEMORY_AND_DISK)
        cached.count()
        t0 = time.perf_counter()
        route.write_sinks(cached, out_dir)
        write_s = time.perf_counter() - t0
        cached.unpersist()
        files = [f for f in glob.glob(os.path.join(out_dir, "*", "*"))
                 if not os.path.basename(f).startswith((".", "_"))]
        rows = sum(1 for s in inputs.TEXT_SINKS for _ in _text_lines(os.path.join(out_dir, s)))
        rows += sum(1 for _ in _parquet_keys(os.path.join(out_dir, "unified2")))
        return {"route.write_s": write_s, "route.rows_written": float(rows),
                "route.bytes_written": float(sum(os.path.getsize(f) for f in files)),
                "route.files_written": float(len(files))}


class DedupDocs(Workload):
    """The ``ops.dedup`` chain shingles → minhash_signature →
    lsh_candidate_pairs → dedup_clusters → dedup_survivors, with bench.py's
    parameters, over a seeded corpus shaped like the repository's reference
    documents table: the only workload that runs ``ops.dedup``."""

    name = "dedup_docs"
    spec = {"docs": 5000, "files": 1}
    # the chain keeps speeding up for about eight runs (6.4 s cold, 2.7,
    # 2.3, 2.0, ... then 1.6-2.0 s) while the JIT compiles; timed runs
    # started on that slope made the median swing by a quarter between runs
    warm_ops = 6

    def prepare(self, root, seed, workers, scratch):
        data, ref = inputs.documents(root, seed, self.spec["docs"], self.spec["files"])
        return Prepared(data, ref, ref["docs"], scratch)

    def _chain(self, spark, data):
        from sagan_spark.ops import dedup as D

        d = spark.read.parquet(data)
        sig = D.minhash_signature(D.shingles(d), num_hashes=8)
        pairs = D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
        return d, sig, pairs

    def op(self, spark, prep):
        from sagan_spark.ops import dedup as D

        d, _, pairs = self._chain(spark, prep.data)
        return {"survivors": D.dedup_survivors(d, D.dedup_clusters(pairs)).count()}

    def check(self, prep, out):
        if out["survivors"] != prep.ref["survivors"]:
            return f"{out['survivors']} survivors != oracle {prep.ref['survivors']}"
        return None

    def trace_layers(self, spark, prep, rest):
        from sagan_spark.ops import dedup as D

        # Each step reads its input materialized (localCheckpoint, outside
        # the spans), so every span is that step's own time: the chain is
        # staged this way anyway, since dedup_clusters materializes its
        # edge list before labelling.
        d, sig, _ = self._chain(spark, prep.data)
        spans, ex = {}, {}
        spans["signature"], _ = _span(rest, sig)
        sig = sig.localCheckpoint()
        pairs = D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
        spans["pairs"], ex["pairs"] = _span(rest, pairs)
        pairs = pairs.localCheckpoint()
        t0 = time.perf_counter()
        clusters = D.dedup_clusters(pairs)
        _noop(clusters)
        spans["clusters"] = time.perf_counter() - t0
        spans["survivors"], ex["survivors"] = _span(rest, D.dedup_survivors(d, clusters))
        return {
            "dedup.signature_s": spans["signature"],
            "dedup.pairs_s": spans["pairs"],
            "dedup.pairs": _root_rows(ex["pairs"]),
            "dedup.clusters_s": spans["clusters"],
            "dedup.survivors_s": spans["survivors"],
            "dedup.survivors": _root_rows(ex["survivors"]),
        }, sum(spans.values())


WORKLOADS = {w.name: w for w in (DenseSinks(), DedupDocs())}


def traced_run(spark, rest, wl: Workload, preps: dict[str, Prepared], tally) -> dict[str, float]:
    """Every per-layer metric: each workload's layers traced on its own
    input (the other workload warmed up first, untimed), then one untraced
    operation of ``wl``, checked, for the Spark counters and the overhead
    line."""
    out: dict[str, float] = {}
    for w in WORKLOADS.values():
        if w is not wl:
            w.warm_up(spark, preps[w.name])
        layers, span = w.trace_layers(spark, preps[w.name], rest)
        out.update(layers)
        if w is wl:
            full = span
    prep = preps[wl.name]
    res, untraced, counters = spark_counters(spark, rest, lambda: wl.op(spark, prep))
    tally.record(wl.check(prep, res) is None)
    out.update(counters)
    out.update({"trace.full_span_s": full, "trace.untraced_wall_s": untraced,
                "trace.span_to_wall_ratio": full / untraced})
    return out
