"""Routing + sinks — Sagan's output-plugin fan-out (SURVEY §2.1 S4-S7, A2).

Each alert row gets (msg, rule_class, sink, rev, priority) from literal
maps of the rule set (a broadcast rule dim past LITERAL_MAP_MAX_RULES),
then fans out per sink:
- fast / syslog: byte-stable text lines built with `format_string`
  (never Python str() of timestamps — SURVEY §7.4.3).
- eve: newline-delimited JSON via `to_json(struct(...))` with a fixed
  field order ([PUB src/output-plugins/eve.c] analogue).
- unified2: Parquet row set in write_sinks (queryable form) PLUS a real
  length-prefixed binary record stream (write_unified2_binary — type/len
  framing per the public unified2 spec, big-endian u32 fields, serialized
  entirely JVM-side).
- external program (S8): pipe_to_program streams formatted lines into a
  subprocess per partition.

The rule-meta maps, the noalert filter, the three line formatters and the
line CASE built from them are Spark SQL text, rendered here in Python
(every literal through match._sql_str) and parsed by the JVM in one call
each, whatever the rule count; callers still get Columns.

Write shape: one pass, one writer for every alert sink. The alerts take
one repartition(conv_id) + sortWithinPartitions (each conversation in one
file per sink, stable per-file order, no global sort; AQE coalesces the
exchange, which also sizes the files), one projection adds the formatted
text line (sink_rows), and one executor-side Arrow writer (mapInArrow over
pyarrow.fs) streams every sink's part file from that pass
(write_sink_rows). The driver qualifies a bare out_dir through Hadoop
first, so it lands where Spark's writers would put it. Counts ride an
Observation on the same action, placed on sink_rows' output
(pipeline.run). The same writer has a partitioned form, every sink as
Parquet under ``<sink>/<partition>/``, for the stream's micro-batches
(``batch=<id>``) and resumable units (``unit=<uid>``). An out_dir that
pyarrow cannot open on executors takes Spark's own writers instead, one
job per sink over the persisted rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rules.model import SINKS, RuleSet
from .match import _sql_in, _sql_lit, _sql_str, check_sql_literals

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_ISO = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def rule_dim(spark: SparkSession, ruleset: RuleSet) -> DataFrame:
    rows = [
        (r.sid, r.rev, r.msg, r.rule_class, r.priority, r.sink, r.noalert)
        for r in ruleset.rules
    ]
    return spark.createDataFrame(
        rows, "sid long, rev int, msg string, rule_class string, priority int, sink string, noalert boolean"
    )


# Above this rule count attach_rule_meta switches from literal maps to a
# broadcast join: five map literals × N rules embed ~10N entries in the
# plan, and past a few hundred rules planning/codegen cost grows with N on
# EVERY query while the broadcast join's cost stays flat (measured at 57 vs
# 1,044 rules — see BENCH/TUNING.md "rule-meta switch"; that measurement
# built the maps Column by Column, and the value was not re-measured once
# they became one SQL text each).
LITERAL_MAP_MAX_RULES = 500


def attach_rule_meta(
    alerts: DataFrame,
    ruleset: RuleSet,
    max_literal_rules: int = LITERAL_MAP_MAX_RULES,
) -> DataFrame:
    """Attach rule metadata and drop noalert (state-only) rows.

    The rule dim is a compile-time constant, so for ordinary rule-set
    sizes we fold it into literal-map lookups (`element_at(map(...))`) —
    O(1) per row inside whole-stage codegen, zero exchange. Each map and
    the noalert filter are rendered as Spark SQL text in Python and reach
    the JVM in one call each, whatever the rule count. Past
    ``max_literal_rules`` rules the embedded-literal plan itself becomes
    the cost (Sagan-realistic catalogs run thousands of rules), so large
    rule sets take a broadcast hash join against `rule_dim` instead —
    still no shuffle of the fact side, one tiny broadcast. Both paths
    yield identical rows AND column order (equality-tested)."""
    check_sql_literals(alerts.sparkSession)
    noalert_sids = [r.sid for r in ruleset.rules if r.noalert]
    out = alerts
    if noalert_sids:
        out = out.filter(f"(NOT {_sql_in('`sid`', noalert_sids)})")
    live = [r for r in ruleset.rules if not r.noalert]

    if len(live) > max_literal_rules:
        dim = rule_dim(alerts.sparkSession, ruleset).drop("noalert")
        joined = out.join(F.broadcast(dim), "sid", "left")
        # restore the literal path's column order (join moves sid first)
        return joined.select(
            *out.columns, "rev", "msg", "rule_class", "priority", "sink"
        )

    def lit_map(fn) -> str:
        entries = ", ".join(f"{r.sid}, {_sql_lit(fn(r))}" for r in live)
        return f"element_at(map({entries}), `sid`)"

    return out.withColumns(
        {
            "rev": F.expr(f"CAST({lit_map(lambda r: r.rev)} AS INT)"),
            "msg": F.expr(lit_map(lambda r: r.msg)),
            "rule_class": F.expr(lit_map(lambda r: r.rule_class)),
            "priority": F.expr(f"CAST({lit_map(lambda r: r.priority)} AS INT)"),
            "sink": F.expr(lit_map(lambda r: r.sink)),
        }
    )


def _nn(name: str) -> str:
    """Sink fields render null role/tool as '-' (format_string would print
    'null' and to_json would drop the key — both diverge from the oracle's
    formatting). The transcript contract makes conv_id/turn_idx/ts/text
    non-null for routed rows; role/tool may legitimately be null."""
    return f"coalesce(`{name}`, '-')"


# The text sinks' lines as Spark SQL text: _sink_line composes them into
# one CASE, and sink_lines parses one.
_FAST_LINE = (
    "format_string("
    + _sql_str("%s  [**] [1:%d:%d] %s [**] [Classification: %s] [Priority: %d] %s:%d %s %s - %s")
    + f", date_format(`ts`, {_sql_str(TS_FMT)}), `sid`, `rev`, `msg`, `rule_class`, `priority`,"
    f" `conv_id`, `turn_idx`, {_nn('role')}, {_nn('tool')}, `text`)"
)
_EVE_JSON = (
    f"to_json(struct(date_format(`ts`, {_sql_str(TS_FMT_ISO)}) AS `timestamp`, `sid`, `rev`,"
    " `msg`, `rule_class` AS `classification`, `priority`, `conv_id`, `turn_idx`,"
    f" {_nn('role')} AS `role`, {_nn('tool')} AS `tool`, `text`))"
)
_SYSLOG_LINE = (
    # facility 13 (log audit) * 8 + severity
    f"format_string({_sql_str('<%d>%s %s sagan[%d]: %s: %s')}, (`priority` + {8 * 13}),"
    f" date_format(`ts`, {_sql_str(TS_FMT_ISO)}), `conv_id`, `sid`, `msg`, `text`)"
)
_LINE_SQL = {"fast": _FAST_LINE, "eve": _EVE_JSON, "syslog": _SYSLOG_LINE}
TEXT_SINKS = tuple(s for s in SINKS if s in _LINE_SQL)


def sink_lines(alerts: DataFrame, sink: str) -> DataFrame:
    """Formatted output lines for one text sink, with sort keys attached."""
    check_sql_literals(alerts.sparkSession)
    return alerts.filter(F.col("sink") == sink).select(
        "conv_id", "turn_idx", "sid", F.expr(_LINE_SQL[sink]).alias("line")
    )


def _u32(col: F.Column) -> F.Column:
    """Big-endian uint32 bytes from an integer Column (hex → lpad → unhex),
    pure JVM expression — no Python in the serializer."""
    return F.unhex(F.lpad(F.hex(col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))), 8, "0"))


def unified2_record() -> F.Column:
    """S6: binary unified2-style framing ([PUB Snort unified2 spec]:
    4-byte record type + 4-byte length header, big-endian u32 body fields).
    Body transposes the IDS-event fields onto the transcript payload:

        event_id(crc32 conv), turn_idx, ts_sec, ts_usec,
        generator_id(=1), sid, rev, priority

    Field-for-field byte compatibility with Snort consumers isn't claimed
    (no IP tuple in this payload); the framing, endianness and record
    discipline are real, so a length-prefixed reader walks the file."""
    body = F.concat(
        _u32(F.crc32(F.encode(F.col("conv_id"), "utf-8"))),
        _u32(F.col("turn_idx")),
        _u32(F.unix_timestamp(F.col("ts").cast("timestamp"))),
        _u32(F.date_format("ts", "SSSSSS").cast("long")),
        _u32(F.lit(1)),
        _u32(F.col("sid")),
        _u32(F.col("rev")),
        _u32(F.col("priority")),
    )
    return F.concat(_u32(F.lit(7)), _u32(F.length(body)), body)


def _executor_fs_ok(uri: str) -> bool:
    """Can ``pyarrow.fs`` open this qualified URI (fsutil.fs_qualify) — the
    only FS layer available on Python executors, which have no JVM
    gateway? ``file:`` and ``s3://`` yes; ``hdfs://`` only when libhdfs is
    loadable — probed HERE on the driver (same wheel, same environment
    class) so the Spark-side path is chosen up front instead of failing
    task-side."""
    import pyarrow.fs as pafs

    if uri.startswith("file:"):
        return True
    try:
        pafs.FileSystem.from_uri(uri)
        return True
    except Exception:
        return False


def _arrow_fs(uri: str):
    """``(pyarrow FileSystem, base path)`` of a qualified URI
    (fsutil.fs_qualify). Called where the files are written, executors
    included."""
    import pyarrow.fs as pafs

    fs, base = pafs.FileSystem.from_uri(uri)
    return fs, base.rstrip("/")


def write_unified2_binary(
    alerts: DataFrame, out_dir: str, staging_dir: str | None = None
) -> None:
    """Write the unified2 sink as length-prefixed binary record files, one
    file per conv_id-hash partition (Sagan spools unified2 to local files
    the same way; on a cluster, point out_dir at shared storage).

    The per-partition write runs on EXECUTORS, where there is no JVM
    gateway for the Hadoop FileSystem API — portability comes from
    ``pyarrow.fs`` instead: ``file:`` via LocalFileSystem, ``s3://`` via
    pyarrow's bundled S3 support (same library the Arrow parquet path
    already ships). Bare paths are first qualified on the driver as
    Spark's writers would (fsutil.fs_qualify).

    Schemes pyarrow cannot open (``hdfs://`` without libhdfs on the
    executors) take the STAGED path: executors write the same part files
    to ``staging_dir`` — any pyarrow-reachable shared location (NFS
    ``file://``, ``s3://``) — and the driver then promotes each staged
    file to ``out_dir`` through the JVM Hadoop FileSystem (full scheme
    support, atomic temp+rename per file via fsutil) and deletes the
    staging tree. Alert-sink volume is ≪1% of input, so the driver-side
    promotion copy is bounded; the direct path remains zero-copy."""
    from .. import fsutil

    spark = alerts.sparkSession
    uri = fsutil.fs_qualify(spark, out_dir)
    recs = (
        alerts.filter(F.col("sink") == "unified2")
        .repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx", "sid")
        .select(unified2_record().alias("rec"))
    )
    direct = _executor_fs_ok(uri)
    if not direct and staging_dir is None:
        raise ValueError(
            f"unified2 out_dir {out_dir!r} is not reachable from Python "
            "executors (pyarrow.fs cannot open the scheme — e.g. hdfs:// "
            "without libhdfs); pass staging_dir= pointing at a shared "
            "pyarrow-reachable location (file:// NFS mount, s3://) and the "
            "driver will promote the staged files."
        )
    target = uri if direct else fsutil.fs_qualify(spark, staging_dir)

    def dump(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf = b"".join(r.rec for r in rows)
        if buf:
            fs, base = _arrow_fs(target)
            fs.create_dir(base, recursive=True)  # idempotent across tasks
            with fs.open_output_stream(f"{base}/part-{pid:05d}.u2") as f:
                f.write(buf)

    recs.foreachPartition(dump)
    if not direct:
        try:
            staged = fsutil.fs_list_files(spark, staging_dir, suffix=".u2")
        except FileNotFoundError:
            staged = []  # zero unified2 alerts → nothing was staged
        for src in staged:
            name = src.rstrip("/").rsplit("/", 1)[-1]
            fsutil.fs_write_bytes(
                spark,
                out_dir.rstrip("/") + "/" + name,
                fsutil.fs_read_bytes(spark, src),
            )
        fsutil.fs_delete(spark, staging_dir)


def pipe_to_program(alerts: DataFrame, sink: str, argv: list[str]) -> int:
    """S8: external-program sink ([PUB src/output-plugins/external.c]) —
    stream a sink's formatted lines to a subprocess on each executor, one
    process per partition (the per-partition imperative case where an RDD
    is the right tool). Returns the number of lines piped; raises if any
    program exits non-zero."""
    lines = sink_lines(alerts, sink).sortWithinPartitions("conv_id", "turn_idx", "sid")

    def feed(rows):
        import subprocess

        proc = subprocess.Popen(argv, stdin=subprocess.PIPE, text=True)
        n = 0
        try:
            for r in rows:
                proc.stdin.write(r.line + "\n")
                n += 1
            proc.stdin.close()
        except BrokenPipeError:  # program died mid-stream → surface via rc
            pass
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"external sink {argv!r} exited {rc}")
        yield n

    return int(lines.rdd.mapPartitions(feed).sum())


def _sink_line() -> F.Column:
    """The text sinks' output line as one CASE on sink; null on unified2
    rows."""
    return F.expr(
        "coalesce("
        + ", ".join(f"CASE WHEN (`sink` = {_sql_str(s)}) THEN {sql} END" for s, sql in _LINE_SQL.items())
        + ")"
    )


def _sink_dir(base: str, sink: str, partition: str | None) -> str:
    return f"{base}/{sink}" if partition is None else f"{base}/{sink}/{partition}"


def _part_name(sink: str, pid: int, partition: str | None = None) -> str:
    text = partition is None and sink in TEXT_SINKS
    return f"part-{pid:05d}.{'txt' if text else 'parquet'}"


def _part_writer(out_dir: str, partition: str | None):
    """The mapInArrow body of write_sink_rows: streams one task's sorted
    batches into one part file per sink it meets, never holding the
    partition: ``part-<pid>.txt`` of the text line for a text sink of the
    batch form, ``part-<pid>.parquet`` of the alerts' columns otherwise.
    Each file is written under its directory's ``_temporary/`` and moved
    to its name once the task has written everything, so a retried task
    replaces its file and readers never see a partial one. Yields the
    sinks it wrote."""

    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        fs, base = _arrow_fs(out_dir)
        pid = ctx.partitionId()
        tmp = f"_temporary/{pid}-{ctx.taskAttemptId()}"
        streams, parquet = {}, {}
        try:
            for batch in batches:
                for sink in SINKS:
                    rows = batch.filter(pc.equal(batch.column("sink"), sink))
                    if rows.num_rows == 0:
                        continue
                    if sink not in streams:
                        d = _sink_dir(base, sink, partition)
                        fs.create_dir(f"{d}/_temporary")
                        streams[sink] = fs.open_output_stream(f"{d}/{tmp}")
                    if partition is None:  # batch form: rows carry _line
                        if sink in TEXT_SINKS:
                            text = "\n".join(rows.column("_line").to_pylist()) + "\n"
                            streams[sink].write(text.encode("utf-8"))
                            continue
                        rows = rows.drop_columns(["_line"])
                    if sink not in parquet:
                        parquet[sink] = pq.ParquetWriter(streams[sink], rows.schema)
                    parquet[sink].write_batch(rows)
        finally:
            for writer in parquet.values():
                writer.close()
            for stream in streams.values():
                stream.close()
        for sink in streams:
            d = _sink_dir(base, sink, partition)
            fs.move(f"{d}/{tmp}", f"{d}/{_part_name(sink, pid, partition)}")
        yield pa.RecordBatch.from_pydict({"sink": list(streams)}, pa.schema([("sink", pa.string())]))

    return write


def sink_rows(alerts: DataFrame) -> DataFrame:
    """The rows write_sink_rows writes: ``alerts`` exchanged by conv_id,
    sorted by (conv_id, turn_idx, sid) within partitions, with the text
    sinks' line as ``_line``. An Observation on this frame sits above the
    exchange, where AQE keeps it even when there are no rows
    (pipeline.run)."""
    check_sql_literals(alerts.sparkSession)
    return (
        alerts.repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx", "sid")
        .withColumn("_line", _sink_line())
    )


def write_sinks(alerts: DataFrame, out_dir: str) -> None:
    """Write every sink to ``out_dir/<sink>`` in one pass: text sinks as
    UTF-8 lines (``part-<pid>.txt``, byte-identical to Spark's text
    writer), unified2 as Parquet with the alerts' columns. Rows are
    exchanged by conv_id and sorted by (conv_id, turn_idx, sid), so each
    conversation sits in one file per sink, in order.

    Like ``mode("overwrite")``, the four sink directories are cleared
    first; a sink with no rows gets one empty part file and stays
    readable; each directory ends with ``_SUCCESS`` and no
    ``_temporary``. A bare ``out_dir`` resolves as it does for Spark's
    writers (fsutil.fs_qualify). One job, no persist. An ``out_dir`` that
    pyarrow cannot open on executors (``_executor_fs_ok``) is written by
    Spark's writers instead, one job per sink over the persisted rows."""
    write_sink_rows(sink_rows(alerts), out_dir)


def write_sink_rows(rows: DataFrame, out_dir: str, partition: str | None = None) -> None:
    """write_sinks for rows already shaped by ``sink_rows``.

    With ``partition`` (``batch=<id>``, ``unit=<uid>``) it writes the
    partitioned form instead: every sink as Parquet with the rows' columns
    (``_line`` dropped) under ``out_dir/<sink>/<partition>/``. Only that
    directory is cleared and replaced, so rewriting a partition is
    idempotent, and a sink with no rows gets nothing. The rows keep the
    caller's partitioning and order: each task writes one file per sink
    it meets."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .. import fsutil
    from ..packaging import ensure_shipped

    if partition is not None and "_line" in rows.columns:
        rows = rows.drop("_line")
    target = fsutil.fs_qualify(rows.sparkSession, out_dir)
    if not _executor_fs_ok(target):
        _write_sinks_spark(rows, out_dir, partition)
        return
    ensure_shipped(rows.sparkSession)  # the writer runs this module on executors
    fs, base = _arrow_fs(target)
    for sink in SINKS:
        d = _sink_dir(base, sink, partition)
        if fs.get_file_info(d).type != pafs.FileType.NotFound:
            fs.delete_dir(d)
    written = {
        r.sink for r in rows.mapInArrow(_part_writer(target, partition), "sink string").collect()
    }
    for sink in SINKS if partition is None else written:
        d = _sink_dir(base, sink, partition)
        fs.create_dir(d)
        if fs.get_file_info(f"{d}/_temporary").type != pafs.FileType.NotFound:
            fs.delete_dir(f"{d}/_temporary")
        if sink not in written:  # batch form: an empty sink stays readable
            with fs.open_output_stream(f"{d}/{_part_name(sink, 0)}") as f:
                if sink == "unified2":  # Parquet readers need the schema
                    pq.write_table(to_arrow_schema(rows.drop("_line").schema).empty_table(), f)
        fs.open_output_stream(f"{d}/_SUCCESS").close()


def _write_sinks_spark(rows: DataFrame, out_dir: str, partition: str | None) -> None:
    """write_sink_rows through Spark's own writers, for an ``out_dir`` that
    only the JVM can open: one job per sink over the persisted rows, which
    keep their partitioning and order. The partitioned form first collects
    which sinks the rows touch, and clears the partition of the others."""
    from pyspark import StorageLevel

    from .. import fsutil

    rows.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        touched = SINKS
        if partition is not None:
            touched = {r.sink for r in rows.select("sink").distinct().collect()}
        for sink in SINKS:
            path = _sink_dir(out_dir.rstrip("/"), sink, partition)
            if sink not in touched:
                fsutil.fs_delete(rows.sparkSession, path)
                continue
            part = rows.filter(F.col("sink") == sink)
            if partition is None and sink in TEXT_SINKS:
                part.select("_line").write.mode("overwrite").text(path)
            else:
                part.drop("_line").write.mode("overwrite").parquet(path)
    finally:
        rows.unpersist()
