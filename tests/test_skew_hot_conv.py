"""Pathological hot-conversation evidence (docs/SCALE.md "skew is
bounded" claim): one conversation with 10^4 MATCHED stateful turns —
every turn enters the conv-keyed replay, the worst case the salting
design note says must stay correct (state is order-dependent per conv, so
the conversation must NOT be split). Correctness here; the 10^5-turn
straggler-ratio measurement was made with scripts/skew_bench.py (last
held at commit 00ec0fe), with results in BENCH/TUNING.md.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sagan_spark.datagen.transcripts import PLANT, SCHEMA, gen_chunk

HOT_CONV = "convhot00"
N_HOT = 10_000


def hot_conv_pdf(n_turns: int, seed: int = 3) -> pd.DataFrame:
    """One conversation where EVERY turn matches the retry after-rule
    (sid 1000010): gaps of 10s keep the 300s window saturated, so the
    replay group is the full conversation and almost every turn alerts."""
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "conv_id": [HOT_CONV] * n_turns,
            "turn_idx": pd.array(range(n_turns), dtype="int32"),
            "role": ["assistant"] * n_turns,
            "text": [PLANT["p_retry"]] * n_turns,
            "tool": ["none"] * n_turns,
            "ts": pd.Series(
                pd.Timestamp("2025-02-01") + pd.to_timedelta(np.arange(n_turns) * 10, unit="s")
            ).astype("datetime64[us]"),
        }
    )
    # shuffled physical order: the engine must not lean on file order
    return pdf.iloc[rng.permutation(n_turns)].reset_index(drop=True)


@pytest.fixture(scope="module")
def hot_table(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hot") / "tx")
    os.makedirs(d)
    bg = gen_chunk(0, 300, seed=11, hot_cap=2000)
    pq.write_table(
        pa.Table.from_pandas(bg, schema=SCHEMA, preserve_index=False),
        os.path.join(d, "part-00000.parquet"),
    )
    hot = hot_conv_pdf(N_HOT)
    pq.write_table(
        pa.Table.from_pandas(hot, schema=SCHEMA, preserve_index=False),
        os.path.join(d, "part-00001.parquet"),
    )
    return d, pd.concat([bg, hot], ignore_index=True)


def test_hot_conv_pipeline_equals_oracle(spark, hot_table):
    """10^4 matched turns in ONE conversation: batch output must equal the
    pure-Python oracle exactly — the replay's chronological in-group sort
    and window semantics survive group size."""
    from sagan_spark.engine import pipeline
    from sagan_spark.oracle.pandas_engine import run_oracle
    from sagan_spark.rules.canonical import CANONICAL

    d, pdf = hot_table
    res = pipeline.run(spark, d)
    ora = run_oracle(pdf, CANONICAL)
    assert res.sid_counts == ora.sid_counts
    got = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in res.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    want = {(a["conv_id"], a["turn_idx"], a["sid"]) for a in ora.alerts}
    assert got == want
    # the hot conv really is pathological: nearly every turn alerted
    hot_alerts = sum(1 for c, _, s in got if c == HOT_CONV and s == 1000010)
    assert hot_alerts > 0.8 * N_HOT  # reset-window semantics skip a few per window
    res.unpersist()


def test_salted_repartition_balances_stateless_hot_conv(spark, hot_table):
    """engine/skew.py on the same table's STATELESS prefix: a plain
    conv_id repartition concentrates the hot conversation's 10^4 rows in
    one partition; salting spreads them ~salt_buckets ways."""
    from pyspark.sql import functions as F

    from sagan_spark.engine.skew import hot_convs, salted_repartition

    d, _ = hot_table
    df = spark.read.parquet(d)

    def max_part(sdf):
        return (
            sdf.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    plain = max_part(df.repartition(32, "conv_id"))
    salted = max_part(salted_repartition(df, "conv_id", salt_buckets=16, num_partitions=32))
    assert plain >= N_HOT  # the hot conv pins one partition
    assert salted < plain / 3  # salting spreads it (16 buckets over 32 parts)

    # and the detection op surfaces the planted hot conversation (the
    # background profile itself tops out at 5000-turn convs)
    hots = {r.conv_id: r.n_turns for r in hot_convs(df, threshold_turns=6000).collect()}
    assert hots == {HOT_CONV: N_HOT}
