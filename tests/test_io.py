"""io.read_table/write_table: parquet backend, column pruning reaches the
scan, partitioned writes round-trip."""

from __future__ import annotations

import pytest

from sagan_spark import io as iomod


def test_read_table_prunes_columns(spark, tiny_path):
    df = iomod.read_table(spark, tiny_path, columns=["conv_id", "ts"])
    assert df.columns == ["conv_id", "ts"]
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ReadSchema: struct<conv_id:string,ts:timestamp_ntz>" in plan


def test_write_table_partitioned_roundtrip(spark, tiny_path, tmp_path):
    df = iomod.read_table(spark, tiny_path).limit(500)
    out = str(tmp_path / "io_out")
    iomod.write_table(df, out, partition_by=["role"])
    back = iomod.read_table(spark, out)
    assert back.count() == 500
    assert set(back.columns) == set(iomod.TRANSCRIPT_COLUMNS)
    # partition pruning on the partition column
    one_role = back.where(back.role == "assistant")
    plan = one_role._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(role" in plan


def _rewrite(src: str, dst: str, fn) -> str:
    """The transcript files of ``src`` rewritten to ``dst`` as ``fn`` (a
    pyarrow Table → Table) makes them, as a producer other than datagen
    writes them."""
    import glob
    import os

    import pyarrow.parquet as pq

    os.makedirs(dst)
    for f in sorted(glob.glob(os.path.join(src, "*.parquet")))[:2]:
        pq.write_table(fn(pq.read_table(f)), os.path.join(dst, os.path.basename(f)))
    return dst


def _cast(column: str, typ):
    """A rewrite casting ``column`` to the pyarrow type ``typ``."""
    return lambda t: t.set_column(
        t.schema.get_field_index(column), column, t.column(column).cast(typ)
    )


def test_transcript_read_runs_no_job(spark, tiny_path):
    from conftest import jobs_of

    df, jobs = jobs_of(
        spark, lambda: iomod.read_table(spark, tiny_path, columns=iomod.TRANSCRIPT_COLUMNS)
    )
    assert jobs == 0
    assert df.schema == iomod.TRANSCRIPT_SCHEMA
    assert df.schema == spark.read.parquet(tiny_path).schema


def test_utc_adjusted_ts_gives_the_inferred_reads_alerts(spark, tiny_path, tmp_path):
    """A ts written UTC-adjusted (Spark's TIMESTAMP, not TIMESTAMP_NTZ)
    reads as its UTC wall clock: the alerts equal those of the inferred
    read, which keeps the column's own type."""
    import pyarrow as pa

    from sagan_spark.engine import pipeline

    utc = _rewrite(tiny_path, str(tmp_path / "utc"), _cast("ts", pa.timestamp("us", tz="UTC")))
    inferred = spark.read.parquet(utc)
    assert dict(inferred.dtypes)["ts"] == "timestamp"
    known = iomod.read_table(spark, utc, columns=iomod.TRANSCRIPT_COLUMNS)
    assert known.collect() == spark.read.parquet(utc).selectExpr(
        *iomod.TRANSCRIPT_COLUMNS[:-1], "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    ).collect()

    def rows(alerts):
        cols = ["conv_id", "turn_idx", "sid", "CAST(ts AS STRING) AS ts", "msg", "sink"]
        return sorted(tuple(r) for r in alerts.selectExpr(*cols).collect())

    want = rows(pipeline.build_alerts(spark, inferred))
    got = pipeline.run(spark, utc)
    assert want and rows(got.alerts) == want
    assert sum(got.sink_counts.values()) == len(want)


@pytest.mark.parametrize(
    "column, rewrite",
    [
        ("turn_idx", _cast("turn_idx", "int64")),
        ("turn_idx", _cast("turn_idx", "string")),
        ("ts", _cast("ts", "string")),
        ("conv_id", lambda t: t.drop_columns(["conv_id"])),
        ("conv_id", lambda t: t.rename_columns(["conversation_id", *t.column_names[1:]])),
    ],
    ids=["turn_idx-int64", "turn_idx-string", "ts-string", "conv_id-missing", "conv_id-misspelled"],
)
def test_unreadable_column_fails_naming_it(spark, tiny_path, tmp_path, column, rewrite):
    """A column Spark cannot read as its TRANSCRIPT_SCHEMA type, or a key
    column the file lacks (the known schema would read it as NULL and
    replay every row as one conversation), fails the run, and the error
    names it; no alerts come out of a wrong read."""
    from sagan_spark.engine import pipeline

    bad = _rewrite(tiny_path, str(tmp_path / "bad"), rewrite)
    with pytest.raises(Exception, match=rf"\[{column}\]"):
        pipeline.run(spark, bad)


def test_unsigned_turn_idx_past_int_range_fails_naming_it(spark, tmp_path):
    """An unsigned 32-bit turn_idx past 2^31 reads wrapped to a negative
    INT under the known schema (plain encoding); the read refuses it."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": pa.array([1, 2**31 + 5, 2**32 - 1], pa.uint32()),
            "role": ["user"] * 3,
            "text": ["hi"] * 3,
            "tool": pa.array([None] * 3, pa.string()),
            "ts": pa.array([dt.datetime(2025, 1, 1)] * 3, pa.timestamp("us")),
        }
    )
    path = tmp_path / "u32"
    path.mkdir()
    pq.write_table(t, str(path / "part-0.parquet"), use_dictionary=False)
    df = iomod.read_table(spark, str(path), columns=iomod.TRANSCRIPT_COLUMNS)
    with pytest.raises(Exception, match=r"\[turn_idx\]"):
        df.collect()
    assert iomod.read_table(spark, str(path), columns=["role", "text"]).count() == 3
