#!/usr/bin/env python
"""Extra benchmarks backing OPTIMIZATION_r07.md's A/B claims.

``bench.py`` is frozen for cross-round measurement; the round's
decision-driving comparisons live here so they are reproducible from the
tree (guide §1: measure first — every "X was measured faster than Y"
claim in the round notes maps to a leg below).

Usage:
  python bench_extra.py [ab ...]          # default: all
  SPARK_GRAFT_SF_DIR=/path python bench_extra.py simhash cluster

A/Bs:
  simhash   kernel vs Column path for simhash_portable (full query shape)
  spread    repartition-after-read on tiny vs compute-heavy legs
  cluster   dedup_clusters loop (current code) + pair-chain timing
  union     the dual-consumer union cost over a Python-stage subtree
            (why streaming routes stateless rows through the state op)
  events    events_as_transcripts JSON-once restructure evidence

Each leg prints min-of-N and the raw walls; run on an idle box and
compare WITHIN one invocation (cross-window comparisons are noise — see
BENCH/BASELINE.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from sagan_spark.session import get_spark  # noqa: E402


def _t(name, fn, n=4):
    walls = []
    for _ in range(n):
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
    print(f"  {name:40s} min={min(walls):.3f} {walls}")
    return min(walls)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def ab_simhash(spark, sf):
    from sagan_spark.ops import dedup as D

    print("== simhash: mapInPandas kernel vs explode+17-aggregate Column path")
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def q(df):
        return df.select(
            F.countDistinct("simhash").alias("dh"),
            F.sum("simhash").cast("long").alias("hs"),
            F.count("*").alias("n"),
        )

    _t("kernel (default)", lambda: _noop(q(D.simhash_portable(d, bits=16))))
    _t("column path (kernel=False)", lambda: _noop(q(D.simhash_portable(d, bits=16, kernel=False))))


def ab_spread(spark, sf):
    print("== spread: repartition-after-read — wins only when per-row work is heavy")
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    q1 = (
        lambda df: df.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sq"))
    )
    _t("tpch_q1-style agg, bare scan", lambda: _noop(q1(li)))
    _t("tpch_q1-style agg, spread", lambda: _noop(q1(li.repartition(32))))
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    from sagan_spark.ops.dedup import embedding_near_dups

    _t("embedding_near_dups, bare scan", lambda: _noop(embedding_near_dups(emb, dim=64)))
    _t("embedding_near_dups, spread", lambda: _noop(embedding_near_dups(emb.repartition(32), dim=64)))


def ab_cluster(spark, sf):
    from sagan_spark.ops import dedup as D

    print("== cluster: dedup chain split (sig+pairs vs loop vs survivors)")
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    t0 = time.time()
    sig = D.minhash_signature(D.shingles(d), num_hashes=8)
    pairs = D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2).localCheckpoint()
    n = pairs.count()
    print(f"  sig+pairs (cold, checkpointed): {time.time() - t0:.3f}s pairs={n}")
    _t("dedup_clusters (auto tier)", lambda: D.dedup_clusters(pairs, max_iters=25).count())
    # force the distributed loop on the same graph: the driver-local
    # collect tier vs the loop it replaces below _COLLECT_EDGE_BYTES
    saved = D._COLLECT_EDGE_BYTES
    try:
        D._COLLECT_EDGE_BYTES = 0
        _t("dedup_clusters loop (forced)", lambda: D.dedup_clusters(pairs, max_iters=25).count())
    finally:
        D._COLLECT_EDGE_BYTES = saved


def ab_union(spark, sf):
    from sagan_spark import io as iomod
    from sagan_spark.datagen import dims as dimsmod
    from sagan_spark.engine import enrich, match
    from sagan_spark.rules.canonical import CANONICAL

    print("== union: dual-consumer plan over a Python-stage subtree executes it twice")
    tx = "/tmp/sagan_bench_tx_v2_15000_42_c500_ps1.0"
    if not os.path.exists(tx):
        print("  (bench transcript table absent — run bench.py once first)")
        return
    raw = iomod.read_table(spark, tx, columns=iomod.TRANSCRIPT_COLUMNS)
    matched = match.run_match(raw, CANONICAL, fold_dims=True, mode="fused")
    enriched = enrich.attach_dims(
        matched, dimsmod.role_dim(spark), dimsmod.tool_dim(spark), dimsmod.risk_ranges(spark)
    )
    special = [r.sid for r in CANONICAL.rules if r.stateful]
    _t("single consumer", lambda: _noop(enriched))
    both = enriched.filter(F.col("sid").isin(special)).unionByName(
        enriched.filter(~F.col("sid").isin(special))
    )
    _t("filter+union dual consumer", lambda: _noop(both))


def ab_events(spark, sf):
    import __spark_entry__ as entry

    print("== events: transcripts mapping (JSON parsed once below the window)")
    _t("events_as_transcripts", lambda: _noop(entry.events_as_transcripts(spark, sf)))


ABS = {
    "simhash": ab_simhash,
    "spread": ab_spread,
    "cluster": ab_cluster,
    "union": ab_union,
    "events": ab_events,
}


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    which = sys.argv[1:] or list(ABS)
    spark = get_spark(
        app_name="sagan_bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.range(0, cpus * 4, 1, cpus)
        .mapInPandas(lambda it: it, "id: long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    for name in which:
        ABS[name](spark, sf)
    spark.stop()


if __name__ == "__main__":
    main()
