"""Deduplication operators for training-data pipelines at 100 TB scale.

- exact_dedup: hash-groupBy on a fingerprint — ONE shuffle on the hash,
  map-side partial aggregation; survivor = min(id).
- minhash signatures: portable construction so SQL oracles can replicate:
  shingles = w-word windows; hash h_i(s) = md5(i || ':' || shingle) taken
  as the first 16 hex chars (64-bit, compared lexicographically — order
  is identical to numeric on the hex prefix). Signature = per-seed min.
- LSH candidate pairs: band the signature, shuffle on (band_idx,
  band_hash), pair within buckets — candidate generation cost is
  O(sum over buckets |bucket|²) instead of O(n²); at 10^9 docs this is
  the only feasible shape, and the bucket join is a plain groupBy.
- simhash64: 64-bit sign-aggregated token hashes via xxhash64; near-dup
  when hamming distance small (popcount via bit ops).
- ngram_jaccard: exact Jaccard on token n-gram sets for a candidate pair
  set (used to verify LSH candidates; explode + groupBy, no UDF).

Spark-first: everything below is Column expressions + explode/groupBy;
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivor row ids: min(id) per md5(text). Columns: (fp, doc_id)."""
    fp = F.md5(F.encode(F.col(text_col), "utf-8")).alias("fp")
    return df.select(fp, F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))


def _shingle_arrays(text_col: str, w: int):
    """Column of the per-row DISTINCT non-empty w-word shingle array —
    the array-valued core shared by the exploded `shingles` form and the
    shuffle-free signature fast path."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    idxs = F.sequence(F.lit(0), F.greatest(n - F.lit(w), F.lit(0)))
    sh = F.transform(
        idxs,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
    )
    return F.filter(F.array_distinct(sh), lambda s: F.length(s) > 0)


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", w: int = 3) -> DataFrame:
    """Distinct w-word shingles per doc: (id, shingle). Pure SQL HOFs:
    tokens → transform over sliding offsets → filter full windows.

    The returned DataFrame carries provenance (`_sagan_shingles`) so that
    minhash_signature can rebuild the per-doc shingle ARRAY from the
    source and skip the explode → groupBy shuffle entirely (min over the
    array ≡ min over the exploded distinct rows — r7 fast path)."""
    out = df.select(
        F.col(id_col), F.explode(_shingle_arrays(text_col, w)).alias("shingle")
    )
    out._sagan_shingles = {"df": df, "text_col": text_col, "id_col": id_col, "w": w}
    return out


def minhash_signature(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """(id, sig array<string>): per-seed min of md5-based shingle hashes.

    Portable: md5(seed || ':' || shingle) first 16 hex chars.

    Plan (r7): when ``sh`` comes straight from `shingles` (provenance
    attribute), the whole shingle → hash → per-seed-min computation runs
    in ONE mapInPandas kernel over (id, text) — ZERO shuffle, and the
    md5s run through hashlib's C implementation instead of 8 interpreted
    higher-order-function passes (Spark HOFs are CodegenFallback, and
    the transform/slice/concat_ws shingle construction alone cost more
    than the whole Python kernel — measured at sf1.0: 23.9s exploded /
    38.1s array-HOF / ~2s kernel for the 50k-doc signature). The kernel
    reproduces the JVM semantics exactly on ASCII text — Python
    str.lower()/split(" ")/" ".join match Spark lower()/split/concat_ws,
    and hashlib md5 hex == Spark md5 — and the equality is pinned by
    test_minhash_fast_path_equals_exploded_path (including empty/null/
    short-text edge rows). Any other input takes the original
    explode → groupBy path — map-side combine keeps that shuffle tiny."""
    src = getattr(sh, "_sagan_shingles", None)
    if src is not None and src["id_col"] == id_col:
        import pandas as pd

        text_col, w = src["text_col"], src["w"]
        prefixes = [f"{i}:".encode() for i in range(num_hashes)]

        def sign(batches):
            import hashlib

            md5 = hashlib.md5
            # Near-dup corpora repeat shingles heavily across documents
            # (that is WHY minhash works), so memoize each distinct
            # shingle's hash vector per task — measured −31% on a
            # replica-family 10× corpus, neutral on sf0.1. Bounded: past
            # the cap the memo stops growing (lookups keep paying off for
            # the hot shingles already cached).
            memo: dict[str, list] = {}
            memo_cap = 1 << 17
            for pdf in batches:
                ids: list = []
                sigs: list = []
                for did, text in zip(pdf[id_col].values, pdf[text_col].values):
                    if text is None or (isinstance(text, float) and pd.isna(text)):
                        continue
                    toks = text.lower().split(" ")
                    upper = max(len(toks) - w, 0)
                    seen: set = set()
                    mins = [None] * num_hashes
                    for i in range(upper + 1):
                        s = " ".join(toks[i : i + w])
                        if not s or s in seen:
                            continue
                        seen.add(s)
                        hs = memo.get(s)
                        if hs is None:
                            sb = s.encode("utf-8")
                            hs = [md5(p + sb).hexdigest()[:16] for p in prefixes]
                            if len(memo) < memo_cap:
                                memo[s] = hs
                        for k in range(num_hashes):
                            h = hs[k]
                            if mins[k] is None or h < mins[k]:
                                mins[k] = h
                    if mins[0] is None:  # no non-empty shingle → no sig row
                        continue
                    ids.append(did)
                    sigs.append(mins)
                # object dtype both ways: an empty batch would otherwise
                # default to float64 columns, which Arrow cannot convert
                # to array<string>
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(ids, dtype="object"),
                        "sig": pd.Series(sigs, dtype="object"),
                    }
                )

        id_type = dict(src["df"].select(id_col).dtypes)[id_col]
        narrow = src["df"].select(F.col(id_col), F.col(text_col))
        # single-file inputs scan as 1 task (row-group granularity) and
        # would serialize the kernel on one core — spread them first;
        # no-op whenever the scan already has ≥ cores splits
        spark = narrow.sparkSession
        p = spark.sparkContext.defaultParallelism
        if narrow.rdd.getNumPartitions() < p:
            narrow = narrow.repartition(p)
        return narrow.mapInPandas(sign, schema=f"{id_col} {id_type}, sig array<string>")
    aggs = [
        F.min(F.substring(F.md5(F.encode(F.concat(F.lit(f"{i}:"), F.col("shingle")), "utf-8")), 1, 16)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    Shuffle key = (band_idx, band_hash); self-join happens per bucket.

    ``max_bucket`` caps the per-bucket pair blow-up: a degenerate bucket
    (empty/boilerplate docs all sharing one band hash) costs O(|bucket|²)
    pairs — at 10^9 docs a single 10^6-doc bucket alone is 10^12 pairs.
    Buckets larger than the cap are DROPPED from candidate generation
    (their members are near-identical boilerplate, which exact dedup
    already collapses); use lsh_bucket_stats to surface how many buckets/
    docs a given cap drops instead of silently truncating. None = uncapped.

    Plan (r7): ONE aggregation on the band key (collect_list of member
    ids), then pair generation from the sorted member array — instead of
    the former banded self-join. Identical pair set (i < j over the
    sorted members ≡ l.id < r.id within the bucket, then distinct), but:
    one exchange of (band, id) rows instead of sort-merge-joining both
    sides, the cap is a free size() filter on the collected array instead
    of a window pass, and per-row memory stays bounded by ONE bucket's
    member list (each member row pairs with its slice of the array, so no
    |bucket|²-sized array is ever materialized). With the signature
    kernel (minhash_signature fast path) the uncapped pair-count leg
    measured 27.0s → 1.7s at sf1.0 (50k docs, min-of-3).
    """
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws("|", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band_idx", "band_hash"),
    )
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.collect_list(id_col).alias("_members")
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("_members") <= max_bucket)
    members = buckets.select(
        F.array_sort("_members").alias("_m")
    ).select(F.posexplode("_m").alias("_i", "a"), F.col("_m"))
    return (
        members.select(
            F.col("a"),
            F.explode(
                F.slice(F.col("_m"), F.col("_i") + 2, F.size("_m") - F.col("_i") - 1)
            ).alias("b"),
        )
        # a < b strictly (the sorted slice gives a <= b; equality can only
        # arise from duplicate ids in the input, which the old self-join's
        # l.id < r.id condition also excluded)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def lsh_bucket_stats(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Observability for the bucket cap: one row with total buckets,
    over-cap (dropped) buckets, and docs touching a dropped bucket —
    the 'no silent caps' companion to lsh_candidate_pairs."""
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws("|", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band_idx", "band_hash"),
    )
    cap = F.lit(max_bucket if max_bucket is not None else (1 << 62))
    per_bucket = banded.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("n"), F.countDistinct(id_col).alias("docs")
    )
    return per_bucket.agg(
        F.count("*").alias("buckets"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).cast("long").alias("dropped_buckets"),
        F.sum(F.when(F.col("n") > cap, F.col("docs")).otherwise(0)).cast("long").alias(
            "docs_in_dropped"
        ),
    )


# Below this optimizer-estimated input size the simhash kernel skips its
# spread repartition: per-token md5 with a memo is light enough that on a
# tiny corpus the exchange costs more than single-task execution saves
# (sf0.1 A/B: 0.38s unspread vs 0.49s spread; 10x: 1.58s vs 0.70s — the
# crossover is input size; the threshold sits centrally between the
# two measured estimates, 0.25MB and 2.5MB). The heavier minhash kernel (8 md5s per
# SHINGLE) stays unconditionally spread — it wins at every measured size.
_SPREAD_MIN_BYTES = 1024 * 1024


def _est_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated size of ``df`` (bytes), or None when the
    internals probe fails — callers must treat None as 'large' so a
    Spark-upgrade breakage degrades to the scale-safe spread plan."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Cached-size ceiling (bytes, the optimizer's estimate of the materialized
# symmetrized edge cache) under which the component labels are computed
# on the DRIVER from the collected edge list instead of running the
# iterative loop at all: each distributed round costs several scheduler
# round-trips + a localCheckpoint, a fixed ~0.3s/round on an otherwise-
# idle local[32] box, which dominates end-to-end time on the small pair
# graphs a sane dedup corpus produces. Bytes, not rows: string ids make
# the collect many times larger per edge than int64 ids, and a driver OOM
# is not recoverable by any fallback. 16 MiB is ~1M int64 edges (200k
# edges measure 3.2 MB) but only ~400k edges of 16-character string ids
# (8.0 MB per 200k) — broadcast-dim-table territory for the 2g driver.
# Module level so tests can force the loop on small fixtures.
_COLLECT_EDGE_BYTES = 16 << 20


def _clusters_local(edges: DataFrame):
    """Driver-side min-label components over a small COLLECTED edge list.

    Same algorithm as the distributed loop (neighbor-min + pointer
    jumping over monotone node-id labels → identical fixed point: min
    member id per component), vectorized in numpy over np.unique codes —
    sorted uniques make min-over-codes ≡ min-over-ids for int AND string
    ids. Returns (nodes, labels) arrays in the edge column's value space;
    the caller has already dropped pairs with a NULL endpoint."""
    import numpy as np

    tbl = edges.toArrow()
    src = np.asarray(tbl.column("src").to_pandas())
    dst = np.asarray(tbl.column("dst").to_pandas())
    uniq, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    cs, cd = inv[: len(src)], inv[len(src):]
    labels = np.arange(len(uniq), dtype=np.int64)
    while True:
        new = labels.copy()
        # neighbor-min (edges arrive symmetrized, so one direction covers
        # both); np.minimum.at is unbuffered — repeated targets accumulate
        np.minimum.at(new, cs, labels[cd])
        changed = bool((new != labels).any())
        while True:  # pointer jump to ITS fixed point: labels are codes,
            j = new[new]  # only ever decrease, so this is monotone
            if (j == new).all():
                break
            new = j
        labels = new
        if not changed:
            return uniq, uniq[labels]


def dedup_clusters(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iters: int = 20
) -> DataFrame:
    """Duplicate GROUPS from candidate pairs: connected components, each
    node labeled with the min doc id of its component — the final step of
    the dedup chain (exact/LSH/cosine pairs → clusters → keep one survivor
    per cluster). Returns (doc_id, cluster).

    Algorithm (r7): min-label propagation WITH pointer jumping — each
    round every node takes min(own label, neighbors' labels) and then
    follows its label's own label (``L(v) ← L(L(v))``). The jump doubles
    the distance information travels per round, so convergence needs
    O(log diameter) rounds instead of O(diameter): a plain propagation
    loop failed to converge in 20 rounds on the sf1.0 documents table
    (long near-dup chains), where this converges in a handful. Labels
    only ever decrease and stay node ids, so the fixed point is identical
    to plain propagation (min id of the component — union-find/DuckDB
    differential-tested).

    100 TB shape: the edge list is persisted ONCE pre-partitioned on its
    join key, so the per-round neighbor join never re-exchanges the
    (large) edge side; neighbor-min is a union + groupBy whose map-side
    partial aggregation ships ~|nodes| rows per round, not |edges|; the
    pointer-jump probe is the round's only other exchange. SMALL graphs
    (materialized edge cache estimated ≤ ``_COLLECT_EDGE_BYTES``, 16 MiB
    — broadcast-dim-table territory) skip the distributed loop entirely:
    the cached edge list collects to the driver and the same
    neighbor-min + pointer-jump recurrence runs vectorized in numpy
    (_clusters_local) — rounds-many scheduler round-trips at a fixed
    ~0.3s each become one collect job. An unavailable size estimate or
    any failure of the local solve falls back to the loop.

    Pairs with a NULL endpoint are dropped before anything else: a NULL
    is not a document, so it neither joins a cluster nor labels one (a
    pair (NULL, x) leaves x unclustered unless another pair links it).
    Lineage is truncated EVERY round (localCheckpoint of the neighbor-min
    aggregate — the round's heavy work executes exactly once; the cheap
    jump join re-runs from the materialized RDD) — labels appear twice
    per round and the aggregate twice, so an un-truncated plan quadruples
    per round and kills the driver in plan analysis long before any
    executor works hard. The driver sees only a one-row convergence
    count per round.

    Output columns are always (``doc_id``, ``cluster``) regardless of the
    input pair column names (dedup_survivors relies on that contract).
    Raises after ``max_iters`` non-converged rounds on the distributed
    paths (loud beats silently wrong clusters) — with jumping, 20 rounds
    covers diameters ~2^20; the driver-local path always runs to its
    (identical) fixed point.
    """
    import threading

    from pyspark import StorageLevel
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    def _obs_changed(obs: Observation) -> int | None:
        """Bounded read of the per-round convergence metric. The
        observation is driven by the localCheckpoint materialization —
        verified on this Spark, but listener delivery is asynchronous and
        version-coupled, so a bounded wait with a None(→count-job)
        fallback keeps a future regression slow-once instead of hung."""
        out: dict = {}

        def _read() -> None:
            try:
                out["v"] = obs.get.get("changed")
            except Exception:
                pass

        t = threading.Thread(target=_read, daemon=True)
        t.start()
        t.join(10.0)
        if "v" not in out:
            return None
        return int(out["v"] or 0)

    spark = pairs.sparkSession
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # ONE persisted copy of the edge list, pre-partitioned on its join key:
    # every round's neighbor join reuses this partitioning, so the (large)
    # edge side never crosses an exchange again — only the (small) label
    # table moves per round.
    edges = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = edges.count()  # materialize the cache before the loop
    if n_edges == 0:  # no pairs → no clusters (and no loop jobs at all)
        edges.unpersist()
        return edges.select(
            F.col("dst").alias("doc_id"), F.col("dst").alias("cluster")
        )
    # read only AFTER the count: an estimate taken before the cache is
    # materialized sticks to the cached plan as a ~2^64 placeholder
    est = _est_size_bytes(edges)
    if est is not None and est <= _COLLECT_EDGE_BYTES:
        # Small graph: solve on the driver from the (already materialized)
        # edge cache — a capped collect the size of a broadcast dim table
        # replaces rounds-many distributed jobs whose per-round fixed cost
        # dominates at this scale. Same fixed point as the loop (see
        # _clusters_local); the loop below stays the at-scale shape and
        # the fallback if the local solve fails in any way.
        try:
            nodes, labels = _clusters_local(edges)
        except Exception:
            pass
        else:
            import pandas as pd

            node_t = edges.schema["dst"].dataType
            out = spark.createDataFrame(
                pd.DataFrame({"doc_id": nodes, "cluster": labels}),
                schema=T.StructType(
                    [
                        T.StructField("doc_id", node_t, True),
                        T.StructField("cluster", node_t, True),
                    ]
                ),
            )
            edges.unpersist()
            return out
    # The 100-TB shape: |labels| ≤ |edges|, joined co-partitioned with a
    # shuffle-hash hint — the cached edge side never re-exchanges, only
    # the label table moves.
    labels = edges.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").alias("cluster")
    )  # hash(node, sess) — co-partitioned with edges, zero extra exchange
    prev = None  # previous round's materialized label frame
    use_obs = True  # convergence metric rides the checkpoint job
    try:
        for i in range(max_iters):
            # neighbors' labels: co-partitioned hash join (edges cached as
            # hash(dst, parts); labels is hash(node, parts) every round)
            nb = (
                edges.join(labels.hint("shuffle_hash"), edges.dst == labels.node)
                .select(F.col("src").alias("node"), F.col("cluster"))
                .withColumn("_own", F.lit(False))
            )
            cand = nb.unionByName(labels.withColumn("_own", F.lit(True)))
            # groupBy directly (no pre-repartition): partial map-side
            # aggregation collapses the per-edge rows to per-node rows
            # BEFORE the exchange — the round's one label shuffle ships
            # ~|nodes| rows, not |edges|
            agg = (
                cand.groupBy("node")
                .agg(
                    F.min("cluster").alias("c1"),
                    # each node contributes its own label exactly once
                    F.min(F.when(F.col("_own"), F.col("cluster"))).alias("old"),
                )
            )
            # Lineage MUST truncate every round: labels appears twice in
            # the round's plan (neighbor join + union) and agg twice (jump
            # join), so an un-truncated plan quadruples per round — by
            # round 5 the optimizer is walking ~4^5 copies of the full
            # upstream lineage and dies in analysis, not execution.
            # localCheckpoint is eager, materializes only ~|nodes| rows,
            # and replaces the logical plan with a flat LogicalRDD; its
            # blocks are reclaimed by the ContextCleaner when the frame
            # is garbage-collected. The checkpoint sits HERE — after the
            # round's heavy work (neighbor join + groupBy), before the
            # jump join — so the heavy subtree executes exactly once per
            # round: checkpointing AFTER the jump instead was measured
            # ~20% slower on a 1.3M-edge graph (the jump join's two agg
            # inputs are NOT exchange-reuse-deduplicated, so the groupBy
            # ran twice per round), while the jump join itself is cheap
            # to re-run from the materialized RDD (two ~|nodes| exchanges).
            # Convergence metric rides the SAME materialization via the
            # Observation API — no separate count job per round. Counting
            # pre-jump (old != c1) is equivalent to the old post-jump
            # count: old ≥ c1 ≥ L(c1) always (labels are monotone member
            # ids), so either difference being empty squeezes all three
            # equal, and neighbor-min stability IS the component-min
            # fixed point (where the jump is the identity).
            changed: int | None = None
            if use_obs:
                obs = Observation()
                agg = agg.observe(
                    obs,
                    F.sum((F.col("old") != F.col("c1")).cast("long")).alias("changed"),
                )
            agg = agg.localCheckpoint()
            if use_obs:
                changed = _obs_changed(obs)
                if changed is None:
                    use_obs = False  # broken surface: count jobs from here on
            # pointer jump: follow the freshly-computed label's own label.
            # c1 is always a node id, so the left join always matches.
            jump = agg.select(F.col("node").alias("_jn"), F.col("c1").alias("_jc"))
            merged = (
                agg.join(jump.hint("shuffle_hash"), agg.c1 == F.col("_jn"), "left")
                .select(
                    "node",
                    "old",
                    F.coalesce("_jc", "c1").alias("cluster"),
                )
            )
            if changed is None:
                changed = merged.where(F.col("old") != F.col("cluster")).count()
            if prev is not None:
                prev.unpersist()
            prev = agg
            labels = merged.select("node", "cluster").repartition(F.col("node"))
            if changed == 0:
                # at the fixed point the jump is the identity (see above),
                # so the checkpointed aggregate IS the answer — the final
                # round's jump join never executes
                return agg.select(F.col("node").alias("doc_id"), F.col("c1").alias("cluster"))
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds — "
            f"component diameter exceeds ~2^{max_iters} under pointer "
            "jumping; the pair graph is not a dedup graph"
        )
    finally:
        edges.unpersist()


def dedup_survivors(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per duplicate cluster (min id — matching exact_dedup's
    survivor rule); rows in no cluster pass through. ``clusters`` is
    dedup_clusters output and always has columns (doc_id, cluster);
    ``id_col`` names the id column of ``df`` only. Anti-join on the
    non-survivor set: only duplicate ids shuffle, the corpus doesn't."""
    losers = clusters.where(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def dedup_survivors_ranked(
    df: DataFrame,
    clusters: DataFrame,
    order_col: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked survivor selection: keep the cluster member that
    maximizes ``order_col`` (e.g. ops/text.quality_score — a curation
    pipeline keeps the best-written duplicate, not the lowest id;
    deterministic id tiebreak). Rows in no cluster pass through.

    Shape at scale: only the clustered slice (duplicates, a small fraction
    of the corpus) joins and takes the per-cluster window; the corpus
    itself only anti-joins the loser-id set — same discipline as
    dedup_survivors."""
    from pyspark.sql import Window

    members = df.select(F.col(id_col), order_col.alias("_rank")).join(
        clusters.withColumnRenamed("doc_id", id_col), on=id_col
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_rank").desc(), F.col(id_col).asc()
    )
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs: (a, b, jaccard).

    |A∩B| from a join of shingle sets restricted to candidate pairs;
    |A∪B| = |A|+|B|−|A∩B|. Set sizes broadcast back via two joins.
    """
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    sha = sh.select(F.col(id_col).alias("a"), "shingle")
    shb = sh.select(F.col(id_col).alias("b"), F.col("shingle").alias("shingle_b"))
    inter = (
        pairs.join(sha, on="a")
        .join(shb, on="b")
        .where(F.col("shingle") == F.col("shingle_b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "a").withColumnRenamed("sz", "sza"), on="a")
        .join(sizes.withColumnRenamed(id_col, "b").withColumnRenamed("sz", "szb"), on="b")
        .select(
            "a",
            "b",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4).alias(
                "jaccard"
            ),
        )
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.25,
    nbits: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with cos ≥
    ``threshold``, candidates restricted to pairs sharing a random-
    hyperplane LSH bucket (sign signature over ``nbits`` seeded planes).

    Scale shape: bucket key = the packed signature, so candidate
    generation is a self-equi-join on the bucket (same discipline as the
    MinHash LSH path — never all-pairs; expected bucket size n/2^nbits).
    Exact cosine re-check inside the bucket keeps precision exact;
    recall is the LSH trade documented in ops/similarity. ``threshold``
    and ``nbits`` tune the precision/recall/bucket-size triangle: near-dup
    vectors (cos → 1) collide in almost every bucket, so real corpora use
    nbits 16-24 at 10^9 vectors."""
    from .similarity import _hyperplanes, cosine, lsh_signature

    if dim is None:
        # dim inference costs one eager first() job — pass dim explicitly
        # in pipelines that know their embedding width
        row = emb.select(vec_col).first()
        if row is None:  # empty corpus → empty pair set, correct schema
            return emb.sparkSession.createDataFrame(
                [], "a long, b long, cos double"
            )
        dim = len(row[0])
    planes = _hyperplanes(dim, nbits)
    sig = emb.select(
        F.col(id_col), F.col(vec_col), lsh_signature(F.col(vec_col), planes).alias("_sig")
    )
    left = sig.alias("l")
    right = sig.alias("r")
    cos = cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
    return (
        left.join(
            right,
            (F.col("l._sig") == F.col("r._sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .where(cos >= F.lit(float(threshold)))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round(cos, 6).alias("cos"),
        )
    )


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Cross-engine-reproducible SimHash variant: token hash = first 8 hex
    chars of md5(token) as int; bit b of the fingerprint = majority vote of
    token-hash bit b (every occurrence votes). ``bits`` kept small so the
    SQL oracle (one aggregate per bit) stays readable.

    Plan (r7): the whole tokenize → md5 → majority-vote runs in
    ONE mapInPandas kernel over (id, text) — ZERO shuffle (the explode →
    17-partial-aggregate groupBy is gone), hashlib's C md5 instead of one
    JVM md5 per token OCCURRENCE (the kernel memoizes per distinct token,
    which the aggregate form cannot), and numpy popcount-style bit sums.
    Python lower()/split(" ")/utf-8-md5 reproduce the JVM expressions
    exactly on ASCII (same discipline as the minhash_signature fast path;
    pinned by test_simhash_kernel_equals_column_path, against the original
    Column path kept in tests/test_ops.py, incl. null/empty/non-ASCII/
    double-space rows)."""
    import pandas as pd

    def sim_kernel(batches):
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        memo: dict[str, int] = {}
        shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            ids: list = []
            sims: list = []
            for did, text in zip(pdf[id_col].values, pdf[text_col].values):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue
                hs = []
                for tok in text.lower().split(" "):
                    if not tok:
                        continue
                    h = memo.get(tok)
                    if h is None:
                        h = int(md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                        memo[tok] = h
                    hs.append(h)
                n = len(hs)
                if n == 0:  # no non-empty token → no row (groupBy semantics)
                    continue
                arr = np.asarray(hs, dtype=np.uint64)
                bit_sums = ((arr[:, None] >> shifts) & 1).sum(axis=0)
                sim = int(((bit_sums * 2 > n).astype(np.uint64) << shifts).sum())
                ids.append(did)
                sims.append(sim)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "simhash": pd.Series(sims, dtype="object"),
                }
            )

    id_type = dict(df.select(id_col).dtypes)[id_col]
    narrow = df.select(F.col(id_col), F.col(text_col))
    # single-file inputs scan as 1 task (row-group granularity) and
    # would serialize the kernel on one core — spread them first;
    # no-op whenever the scan already has ≥ cores splits, SKIPPED
    # when the input is tiny (see _SPREAD_MIN_BYTES)
    spark = narrow.sparkSession
    p = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < p:
        sz = _est_size_bytes(narrow)
        if sz is None or sz >= _SPREAD_MIN_BYTES:
            narrow = narrow.repartition(p)
    return narrow.mapInPandas(sim_kernel, schema=f"{id_col} {id_type}, simhash long")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc from whitespace tokens: (id, simhash).

    Each bit b of xxhash64(token) votes ±1; simhash bit = majority.
    Implemented as explode→groupBy with bit-arithmetic aggregates
    (sum of extracted bits vs token count) — no UDF, two narrow shuffles.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    h = toks.select(id_col, F.xxhash64("tok").alias("h"))
    bit_sums = h.groupBy(id_col).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(64)
        ],
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a, b):
    """Population count of XOR — Spark has bit_count since 3.3."""
    return F.bit_count(a.bitwiseXOR(b))
