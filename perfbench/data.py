"""Seeded inputs for the benchmark workloads, and their exact answers.

Every input is a pure function of ``seed``: the pages come from the
library's own ``generate_pages(seed=...)``; the documents mirror the
structure of ``tools/gen_sf1.py:gen_documents`` with the seed mixed into
every hash. Each table is written once per run as exactly ``tasks``
parquet files, and the session reads it back one scan task per file (see
``run.start_session``), so the task count is fixed rather than left to
Spark's split packing.

Exact answers are computed here, once per seed, outside the library: with
pyarrow over the written pages, from the generated texts for the planted
duplicates, and with Spark built-ins for the sketch families.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


@dataclass
class Dataset:
    """A materialised input: the frame the timed call reads, its size, and
    whatever exact answers its check needs."""

    df: DataFrame
    path: str
    rows: int
    truth: dict = field(default_factory=dict)


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# --------------------------------------------------------------------------
# pages (pages_text_lang, pages_host_day)
# --------------------------------------------------------------------------

def gen_pages(spark: SparkSession, path: str, rows: int, tasks: int, seed: int, n_hosts: int) -> None:
    from phphll_spark.sources.pages import generate_pages

    df = generate_pages(spark, rows, n_hosts=n_hosts, seed=seed, partitions=tasks)
    _write(
        df.select(
            "url", "text", "lang",
            F.regexp_extract("url", "//([^/]+)/", 1).alias("host"),
            F.to_date("warc_ts").alias("day"),
        ),
        path,
    )


def exact_distinct(path: str, keys: list[str], col: str) -> dict[tuple, int]:
    """Exact distinct count of ``col`` per group, read from the written
    parquet with pyarrow's hash aggregation: no Spark job, and nothing the
    library computes."""
    table = pq.read_table(path, columns=[*keys, col])
    counts = table.group_by(keys).aggregate([(col, "count_distinct")]).to_pylist()
    return {tuple(r[k] for k in keys): int(r[f"{col}_count_distinct"]) for r in counts}


def item_counts(path: str, keys: list[str], item_col: str, n_top: int, seed: int) -> dict[tuple, dict]:
    """Per group: the row count ``n`` and the exact count of a sample of
    items (the group's ``n_top`` most frequent, plus about one in 500 picked
    by a seeded hash), read from the written parquet without Spark."""
    pdf = pq.read_table(path, columns=[*keys, item_col]).to_pandas()
    counts = pdf.groupby([*keys, item_col], dropna=False).size().rename("c").reset_index()
    counts = counts.sort_values(["c", item_col], ascending=[False, True], kind="stable")
    out: dict[tuple, dict] = {}
    for g, grp in counts.groupby(keys, dropna=False, sort=False):
        g = g if isinstance(g, tuple) else (g,)
        items = dict(zip(grp[item_col].head(n_top), grp["c"].head(n_top)))
        for item, c in zip(grp[item_col], grp["c"]):
            if zlib.crc32(f"sample:{seed}:{item}".encode()) % 500 == 0:
                items[item] = c
        out[g] = {"n": int(grp["c"].sum()), "items": {str(k): int(v) for k, v in items.items()}}
    return out


# --------------------------------------------------------------------------
# documents with planted duplicate clusters (near_dup_docs)
# --------------------------------------------------------------------------

VOCAB = [
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "agg", "filter", "query",
    "a", "big", "key", "window", "part", "vector", "table", "stream",
    "join", "data", "the", "customer", "index", "merge", "shuffle",
    "broadcast", "cache", "plan", "codegen", "arrow", "parquet", "stage",
    "task", "executor",
] + [f"w{i}" for i in range(1960)]
BLOCK = 50


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64's finalizer, uint64 to uint64 (wraps on overflow)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _h(seed: int, tag: str, *cols: np.ndarray) -> np.ndarray:
    """A 64-bit hash of (seed, tag, cols...), elementwise over the columns."""
    h = _mix64(np.full(len(cols[0]), zlib.crc32(f"docs:{seed}:{tag}".encode()), dtype=np.uint64))
    for c in cols:
        h = _mix64(h ^ np.asarray(c).astype(np.uint64))
    return h


def gen_documents(path: str, rows: int, tasks: int, seed: int) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """Blocks of 50 ids; the block leader is unique text. Other ids copy
    the leader verbatim with ~2% chance (kind 1) or copy it and append two
    id-specific words with ~3% chance (kind 2); the rest are unique (kind 0).
    Words are a Zipf-ish pick (squared uniform fraction of the vocabulary),
    15-74 per text. Built in the driver with numpy and written with pyarrow
    as ``tasks`` parquet files of contiguous ids, so no Spark job runs
    before the first set-up ends. Returns (doc ids, kinds, texts)."""
    ids = np.arange(rows, dtype=np.int64)
    blk = ids // BLOCK * BLOCK
    r = _h(seed, "dup", ids) % np.uint64(100)
    kind = np.where(ids == blk, 0, np.where(r < 2, 1, np.where(r < 5, 2, 0))).astype(np.int32)
    cid = np.where(kind == 0, ids, blk)
    n_words = (_h(seed, "len", cid) % np.uint64(60) + np.uint64(15)).astype(np.int64)
    vocab = np.array(VOCAB, dtype=object)
    nd1 = vocab[(_h(seed, "nd1", ids) % np.uint64(len(VOCAB))).astype(np.int64)]
    nd2 = vocab[(_h(seed, "nd2", ids) % np.uint64(len(VOCAB))).astype(np.int64)]
    texts = []
    for i in range(rows):
        pos = np.arange(1, n_words[i] + 1)
        u = (_h(seed, "w", np.full(len(pos), cid[i]), pos) % np.uint64(10_000)).astype(np.float64) / 10_000.0
        words = vocab[(u * u * len(VOCAB)).astype(np.int64)]
        text = " ".join(words)
        texts.append(f"{text} {nd1[i]} {nd2[i]}" if kind[i] == 2 else text)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, rows, tasks + 1).astype(np.int64)
    for t in range(tasks):
        a, b = bounds[t], bounds[t + 1]
        table = pa.table({
            "doc_id": pa.array(ids[a:b], pa.int64()),
            "text": pa.array(texts[a:b], pa.string()),
            "kind": pa.array(kind[a:b], pa.int32()),
        })
        pq.write_table(table, os.path.join(path, f"part-{t:05d}.parquet"))
    return ids, kind, texts


def word_shingles(text: str, k: int) -> frozenset:
    """Word k-gram set of normalized text, the library's word-mode rule
    (a nonempty doc under k words is its own single shingle)."""
    words = " ".join(text.lower().split()).split(" ")
    if not words or words == [""]:
        return frozenset()
    if len(words) < k:
        return frozenset([tuple(words)])
    return frozenset(tuple(words[i : i + k]) for i in range(len(words) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def planted_truth(ids: np.ndarray, kinds: np.ndarray, texts: list[str], shingle_k: int, threshold: float) -> dict:
    """Shingle sets of every planted-cluster member (the copies, and the
    leaders of blocks that have one) and the in-block pairs whose exact
    Jaccard reaches the threshold."""
    blocks = {int(i) // BLOCK for i, k in zip(ids, kinds) if k > 0}
    members = [int(i) for i, k in zip(ids, kinds) if k > 0 or (i % BLOCK == 0 and int(i) // BLOCK in blocks)]
    sh = {i: word_shingles(texts[i], shingle_k) for i in members}
    by_block: dict[int, list[int]] = {}
    for i in members:
        by_block.setdefault(i // BLOCK, []).append(i)
    pairs = set()
    for block_ids in by_block.values():
        block_ids.sort()
        for j, a in enumerate(block_ids):
            for b in block_ids[j + 1 :]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    pairs.add((a, b))
    return {"shingles": sh, "pairs": pairs}


# --------------------------------------------------------------------------
# per-group truth for the six sketch families (probed in traced pages runs)
# --------------------------------------------------------------------------

def group_truth(df: DataFrame, keys: list[str], item_col: str, value_col: str, n_sample: int, seed: int) -> dict:
    """Per group: row count, exact distinct items, the sorted values (for
    exact ranks), and the exact count of a sample of items — the group's
    most frequent ones plus hash-picked members."""
    per_group = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.countDistinct(item_col).alias("distinct"),
        F.sort_array(F.collect_list(value_col)).alias("vals"),
    )
    truth = {
        tuple(r[k] for k in keys): {
            "n": int(r["n"]),
            "distinct": int(r["distinct"]),
            "vals": np.asarray(r["vals"], dtype=np.float64),
            "items": {},
        }
        for r in per_group.collect()
    }
    counts = df.groupBy(*keys, item_col).agg(F.count("*").alias("c"))
    rank = F.row_number().over(Window.partitionBy(*keys).orderBy(F.desc("c"), item_col))
    sampled = counts.withColumn("_r", rank).filter(
        (F.col("_r") <= n_sample)
        | (F.pmod(F.xxhash64(F.lit(f"sample:{seed}"), F.col(item_col)), F.lit(997)) < 2)
    )
    for r in sampled.collect():
        truth[tuple(r[k] for k in keys)]["items"][str(r[item_col])] = int(r["c"])
    return truth
