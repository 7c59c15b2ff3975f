#!/usr/bin/env python
"""Benchmark harness: the headline queries at one tier.

  python bench.py        # sf0.1, the per-round headline record
  python bench.py sf1    # sf1 tables from tools/gen_sf1.py (documents 5M =
                         # 1000x, events 10M = 100x, lineitem 6M = 10x,
                         # embeddings 200k = 100x); also writes BENCH_sf1.json

$SPARK_GRAFT_SF_DIR overrides the tier's table dir. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, ..., "cpus": N}

At sf0.1 the pages ingest measure runs first: the flagship pipeline of
SURVEY.md §3.3 (scan → hash → per-partition registers → merge → estimate)
over a generated Common-Crawl-style table cached under .bench_cache/.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession, functions as F

from __spark_entry__ import _portable_quality_expr, queries
from phphll_spark.functions import hll_global_distinct, text as T
from phphll_spark.operators import dedup_exact_keep, dedup_minhash, release_cached
from phphll_spark.sources import load_table
from phphll_spark.sources.pages import generate_pages_parquet

REPO = os.path.dirname(os.path.abspath(__file__))

# the sf0.1 tier's environment-settable values
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PAGES_ROWS = int(os.environ.get("SPARK_GRAFT_PAGES_ROWS", "8000000"))

HEADLINE = [
    "hll_global_parts_bound",
    "hll_users_per_event_type_bound",
    "hll_users_per_day_bound",
    "hll_users_sliding_week_bound",
    "hll_merge_assoc_per_lang",
    "hll_rollup_lang_source_bound",
    "dedup_exact_docs",
    "dedup_paragraph_docs",
    "dedup_minhash_docs",
    "corpus_clean_stats",
    "decontaminate_docs",
    "stratified_sample_stats",
    "cap_per_source_stats",
    "mg_heavy_event_types",
    "dedup_url_docs",
    "token_stats_per_lang",
    "quality_score_docs",
    "dedup_span_docs",
    "session_stats_users",
    "topk_cosine_neighbors",
    "ann_ivf_recall",
    "simhash_docs",
    "pricing_summary",
]
# (streaming_daily_users_eq is deliberately NOT a headline: its wall time
# is availableNow micro-batch fixed overhead, not engine throughput — the
# driver's correctness gate still runs it against its oracle.)

# A query whose first rep takes this long runs once: the box is shared and
# such a query dominates the total either way.
SECOND_REP_UNDER_S = 120

# sf1 runs the near-dup queries in the production configuration, word
# 5-gram shingles, instead of the oracle-paired char 5-grams. Measured at
# sf1 (BENCH.md): boilerplate char-grams correlate the minhashes of
# unrelated docs, so char shingles put 4,404 docs in the hottest LSH
# bucket and produce 282M candidate pairs (113M even capped at 64); word
# shingles give max bucket 12 and 7.1M candidates on the same corpus.
WORD_MH = dict(
    threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512, shingle_unit="word"
)


def dedup_minhash_word(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_minhash(docs, "doc_id", "text", **WORD_MH)


def corpus_clean_word(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    survivors = dedup_exact_keep(docs, "doc_id", "text")
    near = dedup_minhash(survivors, "doc_id", "text", **WORD_MH)
    losers = near.select(F.col("id_b").alias("doc_id")).distinct()
    cleaned = survivors.join(losers, "doc_id", "left_anti")
    kept = cleaned.withColumn("_q", _portable_quality_expr("text")).filter(F.col("_q") >= 0.3)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(T.token_count("text")).alias("total_tokens")
    )


@dataclass(frozen=True)
class Tier:
    sf_dir: str  # table dir; $SPARK_GRAFT_SF_DIR overrides it in every tier
    cpus: int  # the run is pinned to the first `cpus` CPUs it may use
    driver_memory: str
    min_shuffle_partitions: int  # shuffle partitions = max(pinned CPUs, this)
    pages_rows: int  # pages-ingest rows; 0 = not measured
    overrides: dict  # headline name -> query run instead of __spark_entry__'s
    metric: str
    record_rows: bool  # record each query's result row count
    notes: dict  # constant keys appended to the record
    output: str | None  # also write the record here (indented)


TIERS = {
    "sf0.1": Tier(
        sf_dir=SF_DIR,
        cpus=CPUS,
        driver_memory="16g",
        min_shuffle_partitions=8,
        pages_rows=PAGES_ROWS,
        overrides={},
        metric="headline queries + pages ingest (approx distinct) wall time",
        record_rows=False,
        notes={},
        output=None,
    ),
    "sf1": Tier(
        sf_dir=os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".bench_cache", "sf1")),
        cpus=16,
        driver_memory="24g",
        min_shuffle_partitions=32,
        pages_rows=0,
        overrides={"dedup_minhash_docs": dedup_minhash_word, "corpus_clean_stats": corpus_clean_word},
        metric="sf1 headline wall time (documents 5M / events 10M / lineitem 6M / embeddings 200k)",
        record_rows=True,
        notes={
            "near_dup_config": "word 5-gram shingles + max_bucket_size=512 "
            "(production; char = oracle setting, see BENCH.md)"
        },
        output=os.path.join(REPO, "BENCH_sf1.json"),
    ),
}


def pin(cpus: int) -> int:
    """Bind this process to the first ``cpus`` CPUs of its current affinity
    set and return how many it kept. The JVM and the Python workers started
    afterwards inherit the set; ``local[N]`` alone caps only JVM task slots."""
    keep = sorted(os.sched_getaffinity(0))[:cpus]
    os.sched_setaffinity(0, keep)
    return len(keep)


def timed(fn) -> tuple[float, object]:
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def main() -> None:
    name = sys.argv[1] if len(sys.argv) > 1 else "sf0.1"
    if name not in TIERS or len(sys.argv) > 2:
        sys.exit(f"usage: python bench.py [{'|'.join(TIERS)}]")
    tier = TIERS[name]
    cpus = pin(tier.cpus)  # before the JVM starts

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("phphll_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, tier.min_shuffle_partitions)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", tier.driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + the Python/Arrow workers once so timings measure
    # steady-state throughput, not one-time process startup
    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    qs = {**queries(), **tier.overrides}
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    pages_rec: dict = {}

    if tier.pages_rows:
        # flagship ingest throughput FIRST (steady-state, before the heavy
        # headline queries churn JVM heap / Python worker memory): min of 3
        n_files = max(cpus, 16)
        cache = os.path.join(REPO, ".bench_cache", f"pages_{tier.pages_rows}_{n_files}files")
        if not os.path.exists(os.path.join(cache, "_SUCCESS")):
            generate_pages_parquet(spark, cache, tier.pages_rows, n_files=n_files)
        pages = spark.read.parquet(cache)
        hll_global_distinct(pages, "url")  # warm the scan/hash path
        url_s, est = min(timed(lambda: hll_global_distinct(pages, "url")) for _ in range(3))
        # the north-star workload: hash the ~270 B extracted text per doc
        text_s, est_text = min(timed(lambda: hll_global_distinct(pages, "text")) for _ in range(3))
        timings["pages_ingest_distinct_urls"] = round(url_s, 3)
        timings["pages_ingest_distinct_texts"] = round(text_s, 3)
        pages_rec = {
            "pages_rows": tier.pages_rows,
            "pages_docs_per_sec": int(tier.pages_rows / url_s),
            "pages_estimate": est,
            "pages_text_docs_per_sec": int(tier.pages_rows / text_s),
            "pages_text_estimate": est_text,
        }

    # min-of-2 per query unless rep 1 is slow: the box is shared and a
    # single co-tenant spike otherwise lands straight in the recorded
    # number; state-reuse between reps matches steady-state operation
    # (e.g. the IVF index builds once, then probes)
    def rep(q):
        wall, n = timed(lambda: qs[q](spark, tier.sf_dir).count())  # materialize
        release_cached()  # drop dedup LSH intermediates between reps
        return wall, n

    for q in HEADLINE:
        best, rows[q] = rep(q)
        if best < SECOND_REP_UNDER_S:
            wall, rows[q] = rep(q)
            best = min(best, wall)
        timings[q] = round(best, 3)
        sys.stderr.write(f"{q}: {timings[q]}s rows={rows[q]}\n")

    rec = {
        "metric": tier.metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": tier.sf_dir,
        **pages_rec,
    }
    if tier.record_rows:
        rec["rows"] = rows
    rec["cpus"] = cpus
    rec.update(tier.notes)
    print(json.dumps(rec))
    if tier.output:
        with open(tier.output, "w") as f:
            json.dump(rec, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
