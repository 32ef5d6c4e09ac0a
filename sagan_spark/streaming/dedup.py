"""Streaming incremental dedup: micro-batches of new documents against the
persistent MinHash index (ops/dedup_index), with transactional index
maintenance.

Each micro-batch is signed ONCE; the signatures serve three uses:

1. cross-batch candidates — join against every PRIOR batch's stored
   signatures (corpus text is never read; see ops/dedup_index);
2. within-batch candidates — self-join of the batch's own signatures
   (a < b, so each unordered pair appears once);
3. the index append — the signatures land under ``batch=<id>`` so the
   NEXT batch sees this one as corpus.

Exactly-once under micro-batch replay, the same way the alert sinks get it
(pipeline.make_batch_writer → route.write_sink_rows, which clears and
rewrites each sink's ``batch=<id>``): every write is an idempotent per-batch-id
directory overwrite — pairs to ``<pairs_out>/batch=<id>``, signatures to
``<index_root>/batch=<id>`` — and the cross-batch join reads only
``batch < id`` partitions (partition-pruned), so a REPLAYED batch recomputes
exactly what the original computed even though its own signatures may
already be on disk. Order ids by arrival and the union of all batches'
pairs equals the one-shot batch run's pair set (equality-tested) —
**uncapped** (``max_bucket=None``), or for band buckets that stay under
the cap at every batch prefix. With a cap the two INTENTIONALLY
diverge: the cap tests combined bucket membership *as of each batch*
(corpus-so-far + delta; the within-batch self-join counts the batch on
both sides, so its effective member cap is half the cross-batch one),
so pairs admitted before a bucket went hot STAY found — a later flood
of boilerplate cannot retroactively un-find earlier duplicates —
while a one-shot run over the final corpus drops the whole bucket.
Pinned by test_stream_dedup_capped_keeps_pre_hot_pairs.

The index root is fully batch-partitioned (an initial corpus bootstraps as
``batch=-1`` via init_dedup_stream_index), carries the same atomic params
manifest as the path index, and compacts with
compact_dedup_stream_index once the stream is stopped — many tiny
``batch=`` directories are the file-count fragmentation the batch index's
compactor exists for.

This query has NO stateful operator (all state lives in the index files),
so it composes freely with the rule pipeline's single
applyInPandasWithState query — they are separate streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..ops import dedup_index as DI


def init_dedup_stream_index(
    corpus: DataFrame,
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
) -> None:
    """Bootstrap the streaming index: sign the existing corpus into
    ``batch=-1`` (before every stream batch id), then the manifest (last —
    crashed bootstraps are unreadable, as with write_dedup_index). An
    EMPTY corpus still writes the manifest: the stream starts from
    nothing and the index grows batch by batch."""
    spark = corpus.sparkSession
    sig = DI.build_dedup_index(corpus, text_col, id_col, w, num_hashes)
    sig.write.mode("overwrite").parquet(index_root.rstrip("/") + "/batch=-1")
    DI._write_manifest(spark, index_root, w, num_hashes, id_col)


def read_stream_index(
    spark: SparkSession, index_root: str, w: int = 3, num_hashes: int = 8
) -> DataFrame:
    """All stored signatures with their ``batch`` partition column,
    after the same loud manifest/param check as the path index. Absent
    batch directories (empty bootstrap, nothing streamed yet) read as an
    empty frame with the right schema."""
    m = DI.read_manifest(spark, index_root)
    DI._check_params(m, w, num_hashes, index_root)
    root = index_root.rstrip("/")
    if not any(
        e.startswith("batch=") for e in fsutil.fs_listdir(spark, root)
    ):
        return spark.createDataFrame(
            [], f"{m['id_col']} long, sig array<string>, batch int"
        )
    return spark.read.option("basePath", root).parquet(root + "/batch=*")


def make_dedup_batch_fn(
    index_root: str,
    pairs_out: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = 1000,
    min_est: float | None = None,
):
    """The foreachBatch body (exposed for tests, which call it directly to
    prove replay idempotence). Writes NOTHING for an empty batch — same
    deterministic-skip contract as make_batch_writer."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sig = DI.build_dedup_index(batch_df, text_col, id_col, w, num_hashes)
        sig.persist()
        try:
            if sig.limit(1).count() == 0:
                return
            prior = (
                read_stream_index(spark, index_root, w, num_hashes)
                .where(F.col("batch") < F.lit(int(batch_id)))
                .drop("batch")
            )
            cross = DI.candidates_from_sigs(
                prior, sig, id_col=id_col, bands=bands,
                rows_per_band=rows_per_band, max_bucket=max_bucket,
                min_est=min_est,
            )
            within = DI.candidates_from_sigs(
                sig, sig, id_col=id_col, bands=bands,
                rows_per_band=rows_per_band, max_bucket=max_bucket,
                min_est=min_est,
            ).where(F.col("a") < F.col("b"))
            root = pairs_out.rstrip("/")
            cross.unionByName(within).write.mode("overwrite").parquet(
                f"{root}/batch={int(batch_id)}"
            )
            sig.write.mode("overwrite").parquet(
                f"{index_root.rstrip('/')}/batch={int(batch_id)}"
            )
        finally:
            sig.unpersist()

    return process_batch


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    pairs_out: str,
    checkpoint_dir: str,
    schema: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = 1000,
    min_est: float | None = None,
    max_files_per_trigger: int = 1,
    trigger_processing_time: str | None = None,
    drain: bool = False,
):
    """Start the streaming dedup query over a parquet file stream of
    documents. The index must exist (init_dedup_stream_index — refuses
    loudly otherwise, and refuses param mismatches). Returns the
    StreamingQuery. ``drain=True`` = Trigger.AvailableNow backfill, as in
    pipeline.run_stream; the same ~seconds-per-batch fixed cost applies,
    so size ``max_files_per_trigger`` accordingly (BENCH/TUNING.md r5)."""
    if drain and trigger_processing_time is not None:
        raise ValueError("drain=True (AvailableNow) excludes trigger_processing_time")
    m = DI.read_manifest(spark, index_root)
    DI._check_params(m, w, num_hashes, index_root)
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(input_dir).schema)
    docs = reader.parquet(input_dir)
    writer = (
        docs.writeStream.foreachBatch(
            make_dedup_batch_fn(
                index_root, pairs_out, text_col, id_col, w, num_hashes,
                bands, rows_per_band, max_bucket, min_est,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if drain:
        writer = writer.trigger(availableNow=True)
    elif trigger_processing_time is not None:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()


def compact_dedup_stream_index(
    spark: SparkSession, src_root: str, dst_root: str, num_files: int = 32
) -> None:
    """Merge all ``batch=`` directories into a single ``batch=-1`` tree at
    ``dst_root`` (row-identical signatures, manifest copied — tested).
    Run with the stream STOPPED: a batch landing mid-compaction would be
    silently absent from the copy. Compact-then-swap (write dst, repoint
    the stream config, retire src) is the caller's atomic cutover, as with
    the batch index; the stream's checkpoint is unaffected because batch
    ids live in the CHECKPOINT, not the index — after a swap the next
    batch id simply appends its directory to the compacted root."""
    m = DI.read_manifest(spark, src_root)
    sigs = read_stream_index(spark, src_root, m["w"], m["num_hashes"]).drop("batch")
    sigs.repartition(num_files).write.mode("overwrite").parquet(
        dst_root.rstrip("/") + "/batch=-1"
    )
    DI._write_manifest(spark, dst_root, m["w"], m["num_hashes"], m["id_col"])
