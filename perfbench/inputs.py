"""Seeded inputs and their references, computed without the engine.

Transcript workloads get a parquet directory written by
``datagen.transcripts.write_transcripts`` and a reference from the pandas
oracle (``oracle.pandas_engine.run_oracle``), run file by file in child
interpreters: every CANONICAL rule keeps its state per
conversation and every file holds whole conversations, so per-file results
sum exactly. ``dedup_docs`` gets a generated corpus shaped like the
repository's reference documents table and a pure-Python
MinHash/LSH/union-find reference.

Everything is cached per (spec, seed) under the work directory, so a rerun
with the same seed skips generation; none of it is inside any timing.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import numpy as np

from .stats import fingerprint

TEXT_SINKS = ("fast", "eve", "syslog")


def canonical_rules():
    from sagan_spark.rules.canonical import CANONICAL

    return CANONICAL


def _cached(path: str, build) -> dict:
    """Return the reference stored at ``path``/ref.json, building the
    directory first when it is absent or incomplete."""
    ref_file = os.path.join(path, "ref.json")
    if os.path.exists(ref_file):
        with open(ref_file) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ref = build(path)
    tmp = ref_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, ref_file)
    return ref


def _oracle_file(path: str) -> dict:
    """Oracle over one transcript file: counts, sink lines and row keys."""
    import pandas as pd

    from sagan_spark.oracle.pandas_engine import format_line, run_oracle

    res = run_oracle(pd.read_parquet(path), canonical_rules())
    lines: dict[str, list[str]] = defaultdict(list)
    keys: dict[str, list[tuple]] = defaultdict(list)
    for a in res.alerts:
        keys[a["sink"]].append((a["conv_id"], int(a["turn_idx"]), int(a["sid"])))
        if a["sink"] in TEXT_SINKS:
            lines[a["sink"]].append(format_line(a, a["sink"]))
    return {
        "sink_counts": res.sink_counts,
        "sid_counts": {str(k): v for k, v in res.sid_counts.items()},
        "lines": dict(lines),
        "keys": dict(keys),
    }


def _oracle_files(files: list[str], workers: int) -> list[dict]:
    """``_oracle_file`` over each file, ``workers`` child interpreters at a
    time (plain subprocesses: nothing outlives the call)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))}
    out = []
    for i in range(0, len(files), workers):
        procs = [subprocess.Popen([sys.executable, "-m", "perfbench.inputs", f],
                                  stdout=subprocess.PIPE, env=env)
                 for f in files[i:i + workers]]
        for p in procs:
            stdout, _ = p.communicate()
            if p.returncode:
                raise RuntimeError(f"oracle subprocess exited {p.returncode}")
            out.append(json.loads(stdout))
    return out


def _trim_turns(path: str, turns: int) -> int:
    """Cut one transcript file to exactly ``turns`` rows (when it has that
    many): whole conversations in conv_id order, then a turn prefix of the
    next one. A fixed row count per file keeps a workload's size the same
    for every seed; the 1% of 5000+-turn conversations would otherwise
    swing it by tens of percent. Row order is kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sagan_spark.datagen.transcripts import SCHEMA

    df = pq.read_table(path).to_pandas()
    sizes = df.groupby("conv_id").size().sort_index()
    whole = sizes.index[sizes.cumsum() <= turns]
    left = turns - int(sizes[whole].sum())
    nxt = sizes.index[len(whole)] if len(whole) < len(sizes) else None
    keep = df["conv_id"].isin(whole) | ((df["conv_id"] == nxt) & (df["turn_idx"] < left))
    pq.write_table(pa.Table.from_pandas(df[keep], schema=SCHEMA, preserve_index=False), path)
    return int(keep.sum())


def transcripts(root: str, seed: int, files: int, turns_per_file: int, plant_scale: float,
                workers: int) -> tuple[str, dict]:
    """(input dir, reference) for a transcript workload: ``files`` parquet
    files of ``turns_per_file`` turns from ``write_transcripts``."""
    from sagan_spark.datagen.transcripts import write_transcripts

    tag = f"tx-f{files}-t{turns_per_file}-p{plant_scale}-s{seed}"
    path = os.path.join(root, tag)

    def build(path: str) -> dict:
        data = os.path.join(path, "data")
        # ~43 turns per conversation even without the rare 5000+-turn
        # ones: 1/30 of the target in conversations never falls short
        chunk = max(1, turns_per_file // 30)
        write_transcripts(data, n_convs=files * chunk, seed=seed, chunk_convs=chunk,
                          plant_scale=plant_scale)
        paths = sorted(glob.glob(os.path.join(data, "*.parquet")))
        rows = sum(_trim_turns(f, turns_per_file) for f in paths)
        parts = _oracle_files(paths, workers)
        ref = {"rows": rows, "files": len(paths), "sink_counts": {}, "sid_counts": {},
               "line_fp": {}, "key_fp": {}}
        for part in parts:
            for field_ in ("sink_counts", "sid_counts"):
                for k, v in part[field_].items():
                    ref[field_][k] = ref[field_].get(k, 0) + v
        for sink in ref["sink_counts"]:
            ref["key_fp"][sink] = list(fingerprint(k for p in parts for k in p["keys"].get(sink, [])))
            if sink in TEXT_SINKS:
                ref["line_fp"][sink] = list(fingerprint((ln,) for p in parts for ln in p["lines"].get(sink, [])))
        return ref

    ref = _cached(path, build)
    return os.path.join(path, "data"), ref


# --- documents ------------------------------------------------------------

# The shape of the repository's reference corpus, the sf0.1 `documents`
# table that bench.py's dedup legs read (5,000 rows, measured; see
# README.md): 30 words drawn uniformly, 10-99 words per document drawn
# uniformly, and 5% of the documents a copy of another document (any
# position, copies included) with " dup" appended.
DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
             "merge order part query row scan slow small sort spark stream table the value "
             "vector window").split()
DOC_LANGS = (("en", "zh", "es", "fr", "de"), (0.40, 0.15, 0.15, 0.15, 0.15))
DOC_SOURCES = 20
DOC_COPY_SHARE = 0.05


def gen_documents(n_docs: int, seed: int) -> dict[str, list]:
    """Seeded columns (doc_id, text, lang, source, n_chars) of a corpus
    shaped like the reference one above."""
    rng = np.random.default_rng([seed, 4099])
    vocab = np.array(DOC_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, size=n_docs)
    words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lengths)]
    copies = np.flatnonzero(rng.random(n_docs) < DOC_COPY_SHARE)
    for i in copies:
        src = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": list(rng.choice(DOC_LANGS[0], size=n_docs, p=DOC_LANGS[1])),
        "source": [f"src{i % DOC_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def dedup_reference(texts: list[str], w: int = 3, num_hashes: int = 8, bands: int = 4,
                    rows_per_band: int = 2, max_bucket: int = 1000) -> dict:
    """Survivor and candidate-pair counts of the MinHash → LSH → connected
    components → min-id survivor chain, in plain Python (doc id = index)."""
    prefixes = [f"{i}:".encode() for i in range(num_hashes)]
    memo: dict[str, list[str]] = {}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for did, text in enumerate(texts):
        toks = text.lower().split(" ")
        shingles = {" ".join(toks[i:i + w]) for i in range(max(len(toks) - w, 0) + 1)} - {""}
        if not shingles:
            continue
        hs = []
        for s in shingles:
            if s not in memo:
                memo[s] = [hashlib.md5(p + s.encode()).hexdigest()[:16] for p in prefixes]
            hs.append(memo[s])
        sig = [min(h[k] for h in hs) for k in range(num_hashes)]
        for b in range(bands):
            buckets[(b, "|".join(sig[b * rows_per_band:(b + 1) * rows_per_band]))].append(did)
    parent = list(range(len(texts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = set()
    for members in buckets.values():
        if len(members) < 2 or len(members) > max_bucket:
            continue
        members = sorted(set(members))
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b))
            ra, rb = find(a), find(members[0])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    roots = {find(x) for x in range(len(texts))}
    return {"docs": len(texts), "pairs": len(pairs), "survivors": len(roots)}


def documents(root: str, seed: int, n_docs: int, n_files: int) -> tuple[str, dict]:
    """(parquet dir of (doc_id, text), reference) for ``dedup_docs``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"docs-n{n_docs}-f{n_files}-s{seed}")

    def build(path: str) -> dict:
        cols = gen_documents(n_docs, seed)
        data = os.path.join(path, "data")
        os.makedirs(data)
        tbl = pa.table({"doc_id": pa.array(cols["doc_id"], pa.int64()), "text": cols["text"],
                        "lang": cols["lang"], "source": cols["source"],
                        "n_chars": pa.array(cols["n_chars"], pa.int64())})
        for i, rows in enumerate(np.array_split(np.arange(n_docs), n_files)):
            pq.write_table(tbl.slice(rows[0], len(rows)), os.path.join(data, f"part-{i:05d}.parquet"))
        return dedup_reference(cols["text"])

    ref = _cached(path, build)
    return os.path.join(path, "data"), ref


if __name__ == "__main__":
    print(json.dumps(_oracle_file(sys.argv[1])))
