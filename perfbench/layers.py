"""Per-layer probes for the traced run. Each probe times calls into one
module's public functions from outside the library, on the workload's own
data, after the traced timed calls. Layers a workload never enters report
0 and are listed in the record's ``not_exercised``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from workloads import FAMILIES, NearDupDocs, PagesTextLang, SketchFamilies


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _median_time(fn, reps: int) -> float:
    return statistics.median(_timed(fn) for _ in range(reps))


def _noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drop_batches(batches):
    for _ in batches:
        pass
    return iter(())


def arrow_pass(df: DataFrame) -> None:
    """The JVM -> Python Arrow transfer alone: a mapInArrow that reads every
    batch and returns nothing."""
    _noop_sink(df.mapInArrow(_drop_batches, df.schema))


def _value_buffers(df: DataFrame, col: str, n: int = 65_536) -> tuple[np.ndarray, np.ndarray]:
    """One Arrow batch of the string column ``col`` as (bytes, offsets)."""
    arr = df.select(col).limit(n).toArrow().column(0).combine_chunks()
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=len(arr) + 1)
    data = np.frombuffer(bufs[2], dtype=np.uint8, count=int(offsets[-1]))
    return data, offsets


def common(wl, ds) -> dict[str, float]:
    from phphll_spark import kernel

    out: dict[str, float] = {}
    proj = ds.df.select(*wl.scan_cols)
    _noop_sink(proj)  # warm the scan path once
    scan = _median_time(lambda: _noop_sink(proj), 2)
    arrow = _median_time(lambda: arrow_pass(proj), 2)
    out["sources.scan_s"] = scan
    out["spark.arrow_s"] = arrow - scan
    data, offsets = _value_buffers(ds.df, wl.value_col)
    hashes = kernel.murmur64a(data, offsets)
    out["kernel.murmur_mb_per_s"] = len(data) / 1e6 / _median_time(lambda: kernel.murmur64a(data, offsets), 5)
    regs = kernel.empty_registers(14)

    def fold():
        idx, rho = kernel.hash_idx_rho(hashes, 14)
        kernel.update_registers(regs, idx, rho)

    out["kernel.idx_rho_update_s"] = _median_time(fold, 5)
    out["kernel.estimate_us"] = _median_time(lambda: kernel.estimate(regs), 50) * 1e6
    return out


def hll(wl: PagesTextLang, ds) -> tuple[dict[str, float], int]:
    """The HLL layers of the timed call, and the serialized bytes of its
    merged sketches (the call itself returns only estimates)."""
    from phphll_spark import codec
    from phphll_spark.functions import hll_count_sketch, hll_partial_sketches, make_hll_merge_agg

    out: dict[str, float] = {}
    fold_src = ds.df.select(*wl.keys, wl.value_col)
    # the Arrow pass over exactly the fold's input projection
    arrow_fold = _median_time(lambda: arrow_pass(fold_src), 2)
    fold = _median_time(lambda: _noop_sink(hll_partial_sketches(ds.df, wl.keys, wl.value_col, wl.p)), 2)
    out["functions.sketch.fold_s"] = fold - arrow_fold
    partials = hll_partial_sketches(ds.df, wl.keys, wl.value_col, wl.p).persist()
    try:
        out["functions.sketch.partial_rows"] = float(partials.count())
        merge = make_hll_merge_agg(wl.p)
        t = time.perf_counter()
        rows = (
            partials.groupBy(*wl.keys)
            .agg(merge(F.col("sketch")).alias("sketch"))
            .select("sketch", hll_count_sketch(F.col("sketch")).alias("est"))
            .collect()
        )
        out["functions.sketch.merge_s"] = time.perf_counter() - t
    finally:
        partials.unpersist()
    blobs = [bytes(r["sketch"]) for r in rows]
    reps = 20  # a few sketches per workload: time each one many times
    t = time.perf_counter()
    for _ in range(reps):
        sketches = [codec.deserialize(b, wl.p) for b in blobs]
    out["codec.deserialize_us"] = (time.perf_counter() - t) / (reps * len(blobs)) * 1e6
    t = time.perf_counter()
    for _ in range(reps):
        for s in sketches:
            codec.serialize(s.regs)
    out["codec.serialize_us"] = (time.perf_counter() - t) / (reps * len(blobs)) * 1e6
    out["codec.sparse_frac"] = sum(codec.info(b, wl.p)["encoding"] == "sparse" for b in blobs) / len(blobs)
    return out, sum(len(b) for b in blobs)


def dedup(wl: NearDupDocs, ds, call_s: float, verified_pairs: int) -> dict[str, float]:
    from phphll_spark.functions.similarity import minhash_signatures_batch, with_hashed_shingles, with_minhash
    from phphll_spark.functions.text import normalized_text
    from phphll_spark.operators import minhash_candidate_pairs, release_cached

    out: dict[str, float] = {}
    norm = ds.df.select("doc_id", normalized_text("text").alias("_norm"))
    out["functions.similarity.signature_s"] = _timed(
        lambda: _noop_sink(with_minhash(norm, "_norm", shingle_k=wl.shingle_k, unit="word"))
    )
    out["functions.similarity.shingle_s"] = _timed(
        lambda: _noop_sink(with_hashed_shingles(norm, "_norm", shingle_k=wl.shingle_k, unit="word"))
    )
    texts = [r["text"].encode() for r in ds.df.select("text").limit(4096).collect()]
    out["functions.similarity.minhash_docs_per_s"] = len(texts) / _median_time(
        lambda: minhash_signatures_batch(texts, 64, wl.shingle_k), 3
    )
    # the public candidate stage shingles characters (it has no word mode)
    t = time.perf_counter()
    n_cand = minhash_candidate_pairs(
        ds.df, "doc_id", "text", shingle_k=wl.shingle_k, max_bucket_size=wl.max_bucket_size
    ).count()
    out["operators.dedup.candidate_s"] = time.perf_counter() - t
    release_cached(ds.df.sparkSession)
    out["operators.dedup.candidate_pairs"] = float(n_cand)
    out["operators.dedup.verify_s"] = (
        call_s - out["functions.similarity.signature_s"] - out["operators.dedup.candidate_s"]
    )
    out["operators.dedup.useful_frac"] = verified_pairs / n_cand if n_cand else 0.0
    return out


def near_dup(spark, work: str, seed: int, spans) -> tuple[dict[str, float], bool, dict]:
    """The near-dup documents for ``seed``: a cold and two warm-up
    ``dedup_minhash`` calls, three timed ones (every answer checked), then
    the similarity and dedup probes. Returns (layer metrics, all answers
    right, record fields)."""
    wl = NearDupDocs()
    ds = wl.materialise(spark, work, seed)
    ok, quality = True, {}
    for i in range(6):
        with spans.span("near_dup.call" if i >= 3 else "near_dup.warmup"):
            result = wl.call(ds)
        good, quality = wl.check(ds, result)
        ok &= good
    call_s = statistics.median(spans.durations("near_dup.call"))
    return dedup(wl, ds, call_s, len(result)), ok, {"near_dup_call_s": call_s, **quality}


def families(ds, seed: int, spans) -> tuple[dict[str, float], bool]:
    """Each of the six sketch families over the pages, by (lang, day): urls
    for the item sketches, text length for the quantile sketches. Every
    answer is checked against exact per-group answers."""
    fams = SketchFamilies(["lang", "day"], "url", "_len")
    df = ds.df.select("lang", "day", "url", F.length("text").cast("double").alias("_len"))
    truth = fams.truth(df, seed)
    out: dict[str, float] = {}
    result = {}
    for f in FAMILIES:
        with spans.span(f"sketches.{f}"):
            result[f] = fams.call(df, f)
        out[f"sketches.{f}_s"] = spans.durations(f"sketches.{f}")[-1]
        out[f"sketches.{f}_bytes"] = float(sum(len(b) for b in result[f].values()))
    return out, fams.check(result, truth)
