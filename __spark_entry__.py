"""Driver contract for the spark-graft builder (PySpark target).

Implements the operator inventory of SURVEY.md §2 over the driver's parquet
tables: the HLL sketch family (hll_sketch_agg / hll_merge_agg / hll_count /
promote / roundtrip / merge-associativity), the wider mergeable-summary
family (CMS, Bloom, t-digest, KLL, Misra–Gries, theta set algebra), plus
the training-data pipeline operators (exact + MinHash-LSH + cluster-level
dedup, decontamination, sampling/capping, text analysis, embedding
similarity search) — each paired with a DuckDB oracle where the semantics
are SQL-expressible. Exactly 50 queries are exported (the driver records
at most 50 CORRECTNESS rows).

HLL estimates are exact at small per-group cardinalities, but a single
register collision can shift an estimate by 1 even at n≈80 (observed on
this very data), so: queries whose oracle is a plain COUNT(DISTINCT) were
chosen/verified to be collision-free at sf=0.01, and larger-cardinality
queries export the *exact* count plus a boolean asserting the estimate is
inside the reference's 6σ acceptance bound (|est−n| ≤ ⌈6·1.04/√m·n⌉,
hyperloglog.c:1610-1667) — both sides SQL-checkable.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F

from phphll_spark.functions import (
    hll_count_distinct,
    hll_count_sketch,
    hll_promote_sketch,
    hll_sketch,
)
from phphll_spark.functions import text as T
from phphll_spark.functions.similarity import cosine, jaccard
from phphll_spark.operators import dedup_exact, dedup_minhash, ngram_jaccard_pairs
from phphll_spark.operators.dedup import minhash_candidate_pairs
from phphll_spark.sources import load_table

# 6σ acceptance bound at p=14 (reference pfselftest, hyperloglog.c:1622,1650)
_SIX_SIGMA = 6 * 1.04 / math.sqrt(16384)

_EN = "the and is of to in that it with for was are this".split()
_DE = "der die das und ist nicht ein eine mit für von zu".split()


def _bound_ok(est: F.Column, exact: F.Column) -> F.Column:
    return (F.abs(est - exact) <= F.ceil(F.lit(_SIX_SIGMA) * exact)).alias("within_bound")


# ---------------------------------------------------------------------------
# HLL sketch queries
# ---------------------------------------------------------------------------

def q_hll_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group APPROX_COUNT_DISTINCT, exact at this cardinality (~4/group)."""
    sup = load_table(spark, sf_dir, "supplier")
    return hll_count_distinct(
        sup.select("s_nationkey", F.col("s_suppkey").cast("string").alias("s_suppkey_str")),
        ["s_nationkey"],
        "s_suppkey_str",
        alias="approx_suppliers",
    )


def q_hll_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join nation⋈region then per-region sketch (exact, 5/region)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return hll_count_distinct(joined, ["r_name"], "n_name", alias="approx_nations")


def q_hll_users_per_event_type_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    est = hll_count_distinct(ev, ["event_type"], "uid", alias="est")
    exact = ev.groupBy("event_type").agg(F.countDistinct("uid").alias("exact_users"))
    return est.join(exact, "event_type").select(
        "event_type", "exact_users", _bound_ok(F.col("est"), F.col("exact_users"))
    )


def q_hll_users_per_day_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling day-window rollup of distinct users (date_trunc group)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("uid")
    )
    est = hll_count_distinct(ev, ["day"], "uid", alias="est")
    exact = ev.groupBy("day").agg(F.countDistinct("uid").alias("exact_users"))
    return est.join(exact, "day").select("day", "exact_users", _bound_ok(F.col("est"), F.col("exact_users")))


def q_hll_global_parts_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct l_partkey from lineitem (one sketch, treeAggregate
    shape: partials → single merge)."""
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").cast("string").alias("pk"))
    est = hll_count_distinct(li, [], "pk", alias="est")
    exact = li.agg(F.countDistinct("pk").alias("exact_parts"))
    return est.crossJoin(exact).select("exact_parts", _bound_ok(F.col("est"), F.col("exact_parts")))


def q_hll_roundtrip_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch → serialize (HYLL) → promote → count must preserve the
    estimate exactly (hll_dump_load.phpt / hll_promote.phpt distributed)."""
    docs = load_table(spark, sf_dir, "documents")
    sk = hll_sketch(docs, ["lang"], "text")
    return sk.select(
        "lang",
        (hll_count_sketch(F.col("sketch")) == hll_count_sketch(hll_promote_sketch(F.col("sketch"))))
        .alias("roundtrip_ok"),
    )


def q_hll_merge_assoc_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate via direct per-lang sketch == estimate via per-(lang,source)
    partials re-merged — merge associativity across groupings."""
    docs = load_table(spark, sf_dir, "documents")
    direct = hll_count_distinct(docs, ["lang"], "text", alias="direct_est")
    from phphll_spark.fold import merge
    from phphll_spark.functions.sketch import HLLFamily

    partials = hll_sketch(docs, ["lang", "source"], "text").select("lang", "sketch")
    merged = merge(partials, ["lang"], HLLFamily()).select(
        "lang", hll_count_sketch(F.col("sketch")).alias("two_level_est")
    )
    return direct.join(merged, "lang").select(
        "lang", (F.col("direct_est") == F.col("two_level_est")).alias("assoc_ok")
    )


# ---------------------------------------------------------------------------
# Dedup / text / similarity queries
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "doc_id", "text")


def q_dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Jaccard(5-gram) ≥ 0.8 via MinHash-LSH + exact
    verification. With 64 hashes / 16 bands the miss probability of a
    0.8-similar pair is (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴, and the pipeline is seeded —
    verified equal to the exhaustive oracle on this data.

    max_bucket_size=512 is the production guard against boilerplate hot
    buckets (at 5 M synthetic web docs the hottest LSH bucket holds
    thousands of docs and the raw in-bucket pair count reaches 235 M);
    at the oracle/bench scales it provably does nothing — the measured
    bucket maxima are 19 (sf0.01) and 138 (sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_minhash(
        docs, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512,
    )


def q_dedup_minhash_keep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized near-dup dedup: the cleaned table after dropping every
    doc that near-matches (Jaccard(5-gram) ≥ 0.8) a lower-id doc — the
    actual 'write the training set' step, not just the pair report."""
    from phphll_spark.operators import dedup_minhash_keep

    docs = load_table(spark, sf_dir, "documents")
    return dedup_minhash_keep(
        docs, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512,
    ).select("doc_id", "lang", "source")


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination at the GPT-3 paper's actual setting —
    13-gram WORD overlap (VERDICT r02 #7; r2 used 30 char-grams because
    char 13-grams saturate on the synthetic vocabulary, but word 13-grams
    don't: only genuine dup/near-dup runs share 13 consecutive words).
    Docs with doc_id < 25 play the eval set; every other doc sharing at
    least one normalized word 13-gram with them is contaminated. Output:
    the contaminated ids a real pipeline would drop."""
    from phphll_spark.operators import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return ngram_contamination(corpus, eval_set, "doc_id", "text", n=13, unit="word")


def q_stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (md5-bucket, reproducible
    across runs/engines): keep 30% of en docs, 70% of de, all others —
    the 'rebalance head languages' step of a training-data pipeline.
    Exported as per-lang kept-doc and kept-token counts."""
    from phphll_spark.operators import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.3, "de": 0.7}, salt="r2"
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


def q_cap_per_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain capping: keep at most 3 docs per source (lowest doc_id
    wins, deterministic), report surviving docs per source — the
    'bound boilerplate-heavy domains' step."""
    from phphll_spark.operators import cap_per_stratum

    docs = load_table(spark, sf_dir, "documents")
    return (
        cap_per_stratum(docs, "doc_id", "source", 3)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level repetition per doc (boilerplate/spam signals): token
    count, distinct-token count, the duplicate-token ratio, plus the
    Gopher-style word-bigram signals (r3): byte coverage of the most
    frequent 2-gram and of all duplicated 2-grams (Rae et al. 2021
    quality filters) — vectorized run-length stats over the word-window
    machinery, oracle-replicated with an unnest/count SQL pipeline."""
    from phphll_spark.functions.similarity import with_ngram_repetition
    from phphll_spark.functions.text import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    # single-file input arrives as one partition; spread the narrow fold
    src = docs.select("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
    enriched = with_ngram_repetition(
        src.withColumn("_norm", normalized_text("text")),
        "_norm",
        n=2,
        out_top="top_2gram_fraction",
        out_dup="dup_2gram_fraction",
    )
    t = F.transform(T.tokens("text"), F.lower)
    return enriched.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        T.dup_token_ratio("text").alias("dup_ratio"),
        "top_2gram_fraction",
        "dup_2gram_fraction",
    )


def q_corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline in one plan: exact
    dedup (keep first) → near-dup dedup (drop higher-id near-matches at
    Jaccard ≥ 0.8) → quality floor (score ≥ 0.3) → per-lang doc + token
    budget of the surviving corpus. Every stage is an operator the engine
    ships; the oracle recomputes the whole pipeline in SQL."""
    from phphll_spark.operators import dedup_exact_keep, dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    survivors = dedup_exact_keep(docs, "doc_id", "text")
    near_pairs = dedup_minhash(
        survivors, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512,
    )
    losers = near_pairs.select(F.col("id_b").alias("doc_id")).distinct()
    cleaned = survivors.join(losers, "doc_id", "left_anti")
    kept = cleaned.withColumn("_q", _portable_quality_expr("text")).filter(F.col("_q") >= 0.3)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


def q_dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup labels: connected components of the verified
    near-dup pair graph (Jaccard(5-gram) ≥ 0.8) — the production rule's
    grouping step (one survivor per CLUSTER, not per pair). Component =
    the minimum doc_id in the cluster, computed by iterative min-label
    propagation over the (tiny, pairs ≪ corpus) edge list; the oracle
    recomputes it with a recursive reachability CTE over the exhaustive
    pair set. (Replaced ngram_jaccard_docs in r3: that query's exhaustive
    baseline IS already dedup_minhash_docs' oracle, and the operator
    stays pytest-covered.)"""
    from phphll_spark.operators import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(
        docs, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512,
    )
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component"
    )


def q_dedup_paragraph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/line-level exact dedup with document reassembly — the
    CCNet/RefinedWeb line-dedup stage (`dedup_paragraphs`,
    operators/dedup.py): every distinct paragraph keeps only its first
    corpus-wide occurrence (min (doc_id, pos)), docs are rebuilt from the
    survivors in order. The doc-level keep semantics this replaced in the
    50-slot record stay covered by `dedup_exact_keep`'s pytest goldens and
    the `corpus_clean_stats` composition.

    The synthetic docs are single-line, so paragraph structure is
    synthesized deterministically (the dedup_url_docs pattern): each doc's
    whitespace tokens are chunked into 8-word paragraphs joined by
    newlines; the oracle reconstructs the same chunks independently via
    generate_subscripts + integer-division grouping, so a chunking or
    winner-rule bug on either side breaks the match. ~175 of ~3.6k chunks
    at sf0.01 are genuine cross-doc duplicates (near-dup docs share runs).
    """
    from phphll_spark.operators import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # project the token array once — inlining the split into the per-chunk
    # lambda would re-split the text per chunk (see duplicated_ngram_spans)
    pre = docs.select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "").alias("_ws"),
    )
    words = F.col("_ws")
    n_chunks = F.greatest(F.ceil(F.size(words) / F.lit(8)).cast("int"), F.lit(1))
    para_text = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)),
        ),
    )
    out = dedup_paragraphs(pre.select("doc_id", para_text.alias("text")), "doc_id", "text")
    return out.select(
        "doc_id", "n_paras", "n_kept", F.md5("dedup_text").alias("dedup_text_md5")
    )


def q_hll_union_en_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise scalar merge (hll_merge, php/hll.c:463-585): union
    estimate of the en and de text sketches vs exact |en ∪ de|."""
    from phphll_spark.functions.sketch import hll_merge_pair

    docs = load_table(spark, sf_dir, "documents")
    sk = hll_sketch(docs.filter(F.col("lang").isin("en", "de")), ["lang"], "text")
    en = sk.filter(F.col("lang") == "en").select(F.col("sketch").alias("s_en"))
    de = sk.filter(F.col("lang") == "de").select(F.col("sketch").alias("s_de"))
    est = en.crossJoin(de).select(
        hll_count_sketch(hll_merge_pair(F.col("s_en"), F.col("s_de"))).alias("est")
    )
    exact = (
        docs.filter(F.col("lang").isin("en", "de"))
        .agg(F.countDistinct("text").alias("exact_union"))
    )
    return est.crossJoin(exact).select(
        "exact_union", _bound_ok(F.col("est"), F.col("exact_union"))
    )


def q_token_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token, char AND GPT-style pre-tokenizer unit counts per
    lang in one scan (the bpe-ish counts were a separate query through r3;
    merged to free a driver slot — same grain, same table)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
        F.sum(T.char_count("text")).alias("total_chars"),
        F.sum(T.bpe_ish_token_count("text")).alias("total_bpe_tokens"),
    )


def q_dedup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans AND their removal
    (`duplicated_ngram_spans` + `remove_duplicated_spans`,
    operators/dedup.py — the Lee et al. 2022 repeated-substring stage,
    hashed-window approximation). Run at n=20 tokens rather than the
    paper's 50 because the synthetic docs average ~50 words: n=20 yields
    1.5k duplicate windows across ~45 docs at sf0.01, a real span-merge
    workload. The oracle rebuilds the windows, the corpus-wide count, and
    the gaps-and-islands span merge independently in SQL.

    R5 (VERDICT r04 #2): the REMOVAL composition — the text rewrite a
    pipeline actually ships — now rides the same record: each span row
    carries its doc's total removed-token count and the md5 of the
    rewritten document, which the oracle recomputes by filtering
    span-covered tokens in SQL. Same grain (one row per span), no extra
    driver slot. The query runs the production path (murmur64 of
    zero-copy Arrow windows); the oracle hashes its windows with md5, so
    the two agree up to 64-bit murmur collisions, and only spans and
    per-doc removal digests are exported, never the hashes.
    """
    from phphll_spark.operators import duplicated_ngram_spans, remove_duplicated_spans
    from phphll_spark.operators._cache import register as _reg, release_cached

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    release_cached(spark)
    # spans feed BOTH the export and the removal join — persist so the
    # window-hash count pass runs once (released by the next operator)
    spans = _reg(
        duplicated_ngram_spans(docs, "doc_id", "text", n=20).persist()
    )
    removal = remove_duplicated_spans(docs, "doc_id", "text", n=20, spans=spans)
    return spans.join(
        removal.select(
            "doc_id",
            F.col("n_removed_tokens").alias("doc_removed_tokens"),
            F.md5("clean_text").alias("doc_clean_md5"),
        ),
        "doc_id",
    ).select(
        "doc_id", "span_start", "span_end", "span_tokens",
        "doc_removed_tokens", "doc_clean_md5",
    )


def q_lang_marker_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: aggregate en/de marker-stopword hits per lang."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(T.lang_marker_hits("text", "en")).alias("en_hits"),
        F.sum(T.lang_marker_hits("text", "de")).alias("de_hits"),
    )


def q_topk_cosine_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-3 cosine neighbors of the first 5 vectors
    (JVM higher-order-function scoring, window rank, id tie-break)."""
    from phphll_spark.operators import cosine_topk_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", "vec_id", k=3)
    return out.select("query_id", "rank", "neighbor_id")


# ---------------------------------------------------------------------------
# Other mergeable sketches on the same agg skeleton (north-rule scope)
# ---------------------------------------------------------------------------

def q_cms_user_event_counts_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates: per-user event counts from one global
    CMS vs exact counts; CMS guarantees est ∈ [exact, exact + ε·N].

    N (for the ε·N slack) comes from the sketch itself (cms_total: any row
    of the matrix sums to the exact item count), so the whole query is one
    Spark plan — no driver-side ev.count() pre-job (VERDICT r01 #3)."""
    from phphll_spark.sketches import cms_point_estimate, cms_sketch, cms_total

    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("uid"))
    width = 16384
    sk = cms_sketch(ev, [], "uid", depth=4, width=width)
    probes = (
        ev.groupBy("uid").count().withColumnRenamed("count", "exact_count")
        .filter(F.col("uid").cast("long") < 10)
    )
    est = probes.crossJoin(F.broadcast(sk)).select(
        F.col("uid").cast("long").alias("user_id"),
        "exact_count",
        cms_point_estimate(F.col("cms"), F.col("uid")).alias("est"),
        F.ceil(F.lit(math.e / width) * cms_total(F.col("cms"))).alias("slack"),
    )
    return est.select(
        "user_id",
        "exact_count",
        ((F.col("est") >= F.col("exact_count")) & (F.col("est") <= F.col("exact_count") + F.col("slack"))).alias(
            "within_bound"
        ),
    )


def q_mg_heavy_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters over event_type: distinct count ≪ capacity,
    so no decrement ever fires and every summary count is EXACT — directly
    oracle-comparable to COUNT(*) GROUP BY."""
    from phphll_spark.sketches import mg_entries, mg_sketch

    ev = load_table(spark, sf_dir, "events").select("event_type")
    sk = mg_sketch(ev, [], "event_type", k=64)
    return (
        sk.select(F.explode(mg_entries(F.col("mg"))).alias("event_type", "n_events"))
        .select("event_type", "n_events")
    )


def q_mg_trending_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MG summaries — 'trending event types per day': one summary
    per day (grouped Arrow fold + per-day merge agg), exploded to exact
    (day, event_type, n) rows in the below-capacity regime."""
    from phphll_spark.sketches import mg_entries, mg_sketch

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    sk = mg_sketch(ev, ["day"], "event_type", k=64)
    return sk.select(
        "day", F.explode(mg_entries(F.col("mg"))).alias("event_type", "n_events")
    ).select("day", "event_type", "n_events")


def q_mg_heavy_users_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MG in the DECREMENT regime (capacity 64 ≪ distinct users): for probe
    users, est ∈ [exact − N/(k+1), exact] — the published MG bound,
    exported as a flag (counter values are merge-order-dependent there, so
    only the bound is deterministic)."""
    from phphll_spark.sketches import mg_point_estimate, mg_sketch, mg_total

    k = 64
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").cast("string").alias("uid"))
    sk = mg_sketch(ev, [], "uid", k=k)
    probes = (
        ev.groupBy("uid").count().withColumnRenamed("count", "exact_count")
        .filter(F.col("uid").cast("long") < 10)
    )
    est = probes.crossJoin(F.broadcast(sk)).select(
        F.col("uid").cast("long").alias("user_id"),
        "exact_count",
        mg_point_estimate(F.col("mg"), F.col("uid")).alias("est"),
        F.floor(mg_total(F.col("mg")) / F.lit(k + 1)).alias("slack"),
    )
    return est.select(
        "user_id",
        "exact_count",
        ((F.col("est") <= F.col("exact_count")) & (F.col("est") >= F.col("exact_count") - F.col("slack"))).alias(
            "within_bound"
        ),
    )


def q_tdigest_price_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest p50/p90 of order totals per priority; export the rank error
    vs the exact CDF (|cdf(est_q) − q| ≤ 0.02, the t-digest guarantee)."""
    from phphll_spark.sketches import tdigest_quantile, tdigest_sketch

    orders = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    sk = tdigest_sketch(orders, ["o_orderpriority"], "o_totalprice", delta=200)
    est = sk.select(
        "o_orderpriority",
        tdigest_quantile(F.col("tdigest"), F.lit(0.5)).alias("p50"),
        tdigest_quantile(F.col("tdigest"), F.lit(0.9)).alias("p90"),
    )
    joined = orders.join(F.broadcast(est), "o_orderpriority")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (
            F.abs(F.avg((F.col("o_totalprice") <= F.col("p50")).cast("double")) - 0.5) <= 0.02
        ).alias("p50_rank_ok"),
        (
            F.abs(F.avg((F.col("o_totalprice") <= F.col("p90")).cast("double")) - 0.9) <= 0.02
        ).alias("p90_rank_ok"),
    )


def q_kll_price_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL p50/p95 of lineitem extended price per returnflag; rank error
    vs exact CDF within the KLL guarantee (≤0.025 at k=200)."""
    from phphll_spark.sketches import kll_quantile, kll_sketch

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    sk = kll_sketch(li, ["l_returnflag"], "l_extendedprice", k=200)
    est = sk.select(
        "l_returnflag",
        kll_quantile(F.col("kll"), F.lit(0.5)).alias("p50"),
        kll_quantile(F.col("kll"), F.lit(0.95)).alias("p95"),
    )
    joined = li.join(F.broadcast(est), "l_returnflag")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        (F.abs(F.avg((F.col("l_extendedprice") <= F.col("p50")).cast("double")) - 0.5) <= 0.025).alias(
            "p50_rank_ok"
        ),
        (F.abs(F.avg((F.col("l_extendedprice") <= F.col("p95")).cast("double")) - 0.95) <= 0.025).alias(
            "p95_rank_ok"
        ),
    )


def q_bloom_membership_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter per segment over custkeys; every true member must test
    present (no false negatives) — export per-segment found-count."""
    from phphll_spark.sketches import bloom_might_contain, bloom_sketch

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_custkey").cast("string").alias("ck")
    )
    blooms = bloom_sketch(cust, ["c_mktsegment"], "ck", m_bits=65536, k=7)
    joined = cust.join(F.broadcast(blooms), "c_mktsegment")
    return (
        joined.select("c_mktsegment", bloom_might_contain(F.col("bloom"), F.col("ck")).alias("hit"))
        .groupBy("c_mktsegment")
        .agg(F.sum(F.col("hit").cast("long")).alias("n_members_found"))
    )


def q_hll_rollup_lang_source_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source) distinct-text estimates from ONE set of
    per-(lang,source) partial sketches — grouping sets compose for free
    because the sketch agg is mergeable (SURVEY.md §2.5). Exported with
    exact counts + 6σ-bound flags per rollup group."""
    from phphll_spark.functions.sketch import make_hll_merge_agg

    docs = load_table(spark, sf_dir, "documents")
    partials = hll_sketch(docs, ["lang", "source"], "text")
    est = (
        partials.rollup("lang", "source")
        .agg(make_hll_merge_agg()(F.col("sketch")).alias("sketch"))
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            hll_count_sketch(F.col("sketch")).alias("est"),
        )
    )
    exact = (
        docs.rollup("lang", "source")
        .agg(F.countDistinct("text").alias("exact_texts"))
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "exact_texts",
        )
    )
    return est.join(exact, ["lang", "source"]).select(
        "lang", "source", "exact_texts", _bound_ok(F.col("est"), F.col("exact_texts"))
    )


def q_hll_intersection_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection cardinality |click ∩ view| by inclusion-exclusion over
    three HLL estimates (|A|+|B|−|A∪B|). HLL has no native intersect
    (SURVEY.md §2.5 set ops) — the error bound is the SUM of the three
    union bounds, exported as a flag against the exact intersection.

    One-scan shape (VERDICT r02 #5 — the r2 plan scanned events five
    times: three estimate branches + intersect): one groupBy(uid) pass
    computes per-user click/view flags, then a SINGLE multi-column Arrow
    fold (hll_partial_sketches_multi) produces the A, B and A∪B partial
    sketches AND the exact overlap count in one pass over that frame —
    one events Scan node, one uid exchange, in the whole plan (gated in
    tests/test_plans.py; separate per-sketch plans defeat exchange reuse
    because column pruning specializes each branch's aggregate).
    Sketching the DISTINCT uids is estimate-identical to sketching raw
    events: registers are max-of-hashes, duplicates never change them."""
    from phphll_spark.functions.sketch import hll_partial_sketches_multi, make_hll_merge_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    flags = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("uid")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
            F.max((F.col("event_type") == "view").cast("int")).alias("in_b"),
        )
    )
    pre = flags.select(
        F.when(F.col("in_a") == 1, F.col("uid")).alias("uid_a"),
        F.when(F.col("in_b") == 1, F.col("uid")).alias("uid_b"),
        F.col("uid").alias("uid_u"),
        ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long").alias("in_both"),
    )
    from phphll_spark.sketches import (
        make_theta_merge_agg,
        theta_intersection_report,
    )

    partials = hll_partial_sketches_multi(
        pre,
        ["uid_a", "uid_b", "uid_u"],
        sum_cols=("in_both",),
        # the theta sketches ride the SAME murmur pass as the HLL folds —
        # first-class set intersection for free, vs HLL's
        # inclusion-exclusion arithmetic. The oracle pins the theta
        # intersection to the EXACT count, which holds only while
        # distinct uids per side stay below k (theta is exact below k):
        # k=65536 covers ~40x the sf1 uid population (sf0.1 has ~1.5k
        # distinct per side, scaling linearly → ceiling ≈ sf40); past
        # that, theta_exact_regime flips and the export degrades to the
        # 6/√(k−1) bound flag (theta_intersection_report below).
        # Cost: partial blobs are ≤512 KB instead of 32 KB — trivial
        # against the events shuffle they ride on.
        theta_cols=("uid_a", "uid_b"),
        theta_k=65536,
    )
    merge = make_hll_merge_agg()
    tmerge = make_theta_merge_agg()

    @F.arrow_udf("long")
    def _sum_long(v: pa.Array) -> int:
        # a plain F.sum cannot sit in the same .agg as grouped-agg Arrow
        # UDFs (INVALID_PANDAS_UDF_PLACEMENT) — so the exact count merges
        # through an Arrow sum in the same single aggregation
        return pc.sum(v).as_py() or 0

    agg = partials.agg(
        merge(F.col("sketch_uid_a")).alias("sa"),
        merge(F.col("sketch_uid_b")).alias("sb"),
        merge(F.col("sketch_uid_u")).alias("su"),
        tmerge(F.col("theta_uid_a")).alias("ta"),
        tmerge(F.col("theta_uid_b")).alias("tb"),
        _sum_long(F.col("sum_in_both")).alias("exact_intersection"),
    )
    est = agg.select(
        hll_count_sketch(F.col("sa")).alias("ea"),
        hll_count_sketch(F.col("sb")).alias("eb"),
        hll_count_sketch(F.col("su")).alias("eu"),
        "ta",
        "tb",
        "exact_intersection",
    )
    return est.select(
        "exact_intersection",
        # regime-aware theta export (VERDICT r04 #3): below k distinct per
        # side the set algebra is EXACT and the oracle pins
        # theta_intersection to the true count; past the ceiling
        # (≈ sf40 for k=65536 on these uids) theta_exact_regime flips,
        # the value column becomes −1 on BOTH sides, and the estimate is
        # checked against the ⌈6/√(k−1)·union⌉ bound instead — same
        # pattern as the HLL exact+flag columns. The estimation-regime
        # path is pinned at a >k synthetic cardinality in
        # tests/test_sketches.py.
        *theta_intersection_report(
            F.col("ta"), F.col("tb"), F.col("exact_intersection"), F.col("eu"), k=65536
        ),
        (
            F.abs(F.col("ea") + F.col("eb") - F.col("eu") - F.col("exact_intersection"))
            <= F.ceil(F.lit(_SIX_SIGMA) * (F.col("ea") + F.col("eb") + F.col("eu")))
        ).alias("within_bound"),
    )


def q_hll_p10_segments_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Configurable precision (north star: p ∈ [4,18]): per-segment
    distinct-custkey estimates at BOTH p=14 (default) and p=10, each
    checked against its own 6σ bound (1.04/√m). One query covers the
    default-precision segment bound AND the configurable-p path — r4
    folded the former hll_custkeys_per_segment_bound in here to free a
    driver slot (the record caps at 50 entries)."""
    p = 10
    bound10 = 6 * 1.04 / math.sqrt(2**p)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_custkey").cast("string").alias("ck")
    )
    est14 = hll_count_distinct(cust, ["c_mktsegment"], "ck", alias="est14")
    est10 = hll_count_distinct(cust, ["c_mktsegment"], "ck", p=p, alias="est10")
    exact = cust.groupBy("c_mktsegment").agg(F.countDistinct("ck").alias("exact_customers"))
    return (
        est14.join(est10, "c_mktsegment")
        .join(exact, "c_mktsegment")
        .select(
            "c_mktsegment",
            "exact_customers",
            _bound_ok(F.col("est14"), F.col("exact_customers")).alias("within_bound_p14"),
            (
                F.abs(F.col("est10") - F.col("exact_customers"))
                <= F.ceil(F.lit(bound10) * F.col("exact_customers"))
            ).alias("within_bound_p10"),
        )
    )


def q_hll_users_sliding_week_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 7-day windows (1-day slide) of distinct users: each event
    lands in 7 windows; a sketch agg per window start, exact + 6σ flag.
    Sliding windows compose with the sketch agg exactly like tumbling
    ones because the merge is grouping-independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("string").alias("uid")
    )
    # scale shape: explode each event into its 7 sliding windows MAP-SIDE
    # (equivalent to F.window("ts", "7 days", "1 day")), then the partial
    # fold absorbs the 7x rows per partition — the shuffle still carries
    # only (win_start, sketch) rows, never events
    exploded = ev.select(
        F.explode(
            F.sequence(
                F.date_trunc("day", "ts") - F.expr("INTERVAL 6 DAYS"),
                F.date_trunc("day", "ts"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("w"),
        "uid",
    ).select(F.col("w").cast("date").alias("win_start"), "uid")
    est = hll_count_distinct(exploded, ["win_start"], "uid", alias="est")
    exact = exploded.groupBy("win_start").agg(F.countDistinct("uid").alias("exact_users"))
    return est.join(exact, "win_start").select(
        "win_start", "exact_users", _bound_ok(F.col("est"), F.col("exact_users"))
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN vs exact brute force: recall@3 of the
    probed search must reach 2/3 for every query (deterministic: seeded
    k-means, fixed data).

    Scale path (VERDICT r01 #4): the index is MATERIALIZED once as a
    parquet table partitioned by centroid; probes read only the union of
    the queries' probe partitions (PartitionFilters at the scan) instead
    of rescanning the corpus. The index lifecycle is build-once
    (VERDICT r02 #4): ``ivf_ensure_index`` caches it under a
    deterministic path keyed by the corpus file metadata + quantizer, so
    repeat calls (and repeat bench runs) are probe-only — no per-call
    mkdtemp, no rebuild inside the query wall."""
    import os

    from phphll_spark.operators import (
        cosine_topk_bruteforce,
        ivf_ensure_index,
        ivf_topk_indexed,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    qvecs = {int(r["vec_id"]): list(r["embedding"]) for r in queries.collect()}
    train = np.array(
        [list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 256).collect()],
        dtype=np.float64,
    )
    centroids = kmeans_centroids(train, 8, seed=42)
    index_path = ivf_ensure_index(
        emb,
        "vec_id",
        "embedding",
        centroids=centroids,
        cache_root=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".ivf_cache"),
    )
    approx = ivf_topk_indexed(
        spark, index_path, qvecs, centroids=centroids, n_probe=3, k=3
    )
    exact = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", "vec_id", k=3)
    overlap = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        exact.select("query_id").distinct()
        .join(overlap, "query_id", "left")
        .select("query_id", (F.coalesce(F.col("n_overlap"), F.lit(0)) >= 2).alias("recall_ok"))
    )


def q_text_quality_chars_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal raw counts per lang (alpha chars, punctuation chars,
    stopword tokens) — integer-exact against the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.coalesce(F.col("text"), F.lit(""))
    toks = F.transform(T.tokens("text"), F.lower)
    sw = F.array(*[F.lit(w) for w in T._EN_STOPWORDS])
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))).alias("sum_alpha_chars"),
        F.sum(F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))).alias("sum_punct_chars"),
        F.sum(F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))).alias("sum_stopword_tokens"),
    )


def _round_half_up(c: F.Column, n: int) -> F.Column:
    """floor(x*10^n + 0.5)/10^n — same IEEE ops in Spark and DuckDB, so the
    oracle comparison is bit-identical (F.round's BigDecimal HALF_UP and
    DuckDB's ROUND disagree on doubles like 0.42374999999999996)."""
    f = float(10**n)
    return F.floor(c * F.lit(f) + F.lit(0.5)) / F.lit(f)


def _portable_quality_expr(text_col: str = "text") -> F.Column:
    """The composite quality score of T.quality_score, rebuilt with
    portable half-up rounding at every step so the DuckDB oracles
    reproduce it bit-for-bit. Shared by q_quality_score_docs and
    q_corpus_clean_stats — one definition, two call sites."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.transform(T.tokens(text_col), F.lower)
    sw = F.array(*[F.lit(w) for w in T._EN_STOPWORDS])
    n_tok = F.size(T.tokens(text_col)).cast("long")
    n_chars = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", "")).cast("double")
    stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("double")
    alpha_r = F.when(n_chars == 0, F.lit(0.0)).otherwise(_round_half_up(alpha / n_chars, 6))
    punct_r = F.when(n_chars == 0, F.lit(0.0)).otherwise(_round_half_up(punct / n_chars, 6))
    stop_r = F.when(n_tok == 0, F.lit(0.0)).otherwise(_round_half_up(stop / n_tok.cast("double"), 6))
    len_score = F.when(n_tok <= 0, F.lit(0.0)).otherwise(
        F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
        * F.least(F.lit(2000.0) / F.greatest(n_tok.cast("double"), F.lit(1.0)), F.lit(1.0))
    )
    score = (
        0.4 * len_score
        + 0.3 * alpha_r
        + 0.2 * F.least(stop_r * 3, F.lit(1.0))
        + 0.1 * (1 - F.least(punct_r * 5, F.lit(1.0)))
    )
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(_round_half_up(score, 4))


def q_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality score per doc (length/alpha/stopword/
    punctuation mix — the T.quality_score formula), replicated
    operation-for-operation in the oracle with portable half-up rounding."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _portable_quality_expr("text").alias("quality"))


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (marker-stopword argmax) confusion counts: actual lang x
    predicted lang."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", T.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table sign-LSH blocking +
    exact in-candidate verification (no cross join in the plan — VERDICT
    r01 #4). The DuckDB oracle is the exhaustive quadratic baseline; the
    auto-tuned table count holds the theoretical miss probability at
    ≤1e-4 for pairs AT the threshold (higher-sim pairs miss even less),
    and equality with the quadratic op is also asserted in
    tests/test_pipeline_ops.py."""
    from phphll_spark.operators import embedding_near_dup_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_blocked(emb, "vec_id", "embedding", threshold=0.5, dim=64)


def q_embedding_all_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine ≥ 0.4 via blocked GEMM — the scalable exact
    path for low thresholds, where LSH blocking cannot prune (see
    operators/ann.py cosine_all_pairs_blocked). One matmul per block
    combo; no cartesian/nested-loop node in the plan."""
    from phphll_spark.operators import cosine_all_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_all_pairs_blocked(emb, "vec_id", "embedding", threshold=0.4, num_blocks=8)


def q_topk_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: numpy-matmul batch scoring with per-batch local
    top-k (shuffle carries O(partitions·q·k), never the corpus). Exact by
    construction — every true top-k row wins its own batch — so it shares
    the brute-force oracle."""
    from phphll_spark.operators import cosine_topk_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = {int(r["vec_id"]): list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 5).collect()}
    out = cosine_topk_blocked(emb, qvecs, "vec_id", "embedding", k=3)
    return out.select("query_id", "rank", "neighbor_id")


# (lsh_bucket_stats was dropped as a driver query in r3 — its machinery,
# sign_lsh_multitable, is fully exercised by embedding_near_dup_pairs
# (the embedding_near_dup_blocked blocker) and tests/test_pipeline_ops.py;
# the driver record caps at 50 rows and every remaining entry must land
# in it, VERDICT r02 #1.)


# ---------------------------------------------------------------------------
# Relational coverage (scan/filter/join/agg/window — Spark built-ins)
# ---------------------------------------------------------------------------

def q_session_stats_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): per-user session count,
    event count and total in-session span — plan-native lag + cumsum
    windows, one shuffle on the user key."""
    from phphll_spark.operators import session_stats

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return session_stats(ev, "user_id", "ts", gap_seconds=1800)


def _await_stream(q, timeout_s: int, what: str) -> None:
    """Block until the availableNow query ``q`` finishes. A hung stream
    is stopped and raises, so callers never read a partial sink; the
    check is an explicit raise, not an ``assert`` that ``python -O``
    would strip (ADVICE r05)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"{what} did not complete within {timeout_s}s")


def _stamp_appended(directory: str, stamped: list[str], t0: int) -> None:
    """Give each parquet file new in ``directory`` since the last call an
    mtime 2 s after the one before it. A file stream source replays files
    in mtime order, so appends then replay in write order even where the
    filesystem's mtime resolution would let two writes tie (ADVICE r05)."""
    for name in sorted(os.listdir(directory)):
        if name.endswith(".parquet") and name not in stamped:
            t = t0 + 2 * len(stamped)
            os.utime(os.path.join(directory, name), (t, t))
            stamped.append(name)


def _stateful_sessions_eq_batch(spark: SparkSession, sf_dir: str) -> bool:
    """Replay the user_id<20 events as file-source micro-batches through
    ``stateful_sessions`` (applyInPandasWithState, event-time timeout —
    streaming/stream.py:149) and compare the emitted closed sessions with
    batch sessionization (operators/sessions.py) tuple-for-tuple.

    Replay mechanics: batches must arrive in EVENT-TIME order for the
    equality to be exact — the operator emits a session the moment an
    in-batch gap closes it (its documented watermark-ordered-arrival
    contract), so a randomly-split replay could deliver an interleaved
    run AFTER its session was already emitted. The events are therefore
    split into four CONTIGUOUS time-range files written in ascending
    order, each stamped with a strictly later mtime than the one before
    (file-source batches order by mtime): every interior gap's
    merge window then lies wholly inside its own file, and only the open
    trailing session ever crosses a batch boundary — exactly the
    streaming contract. A sentinel far-future single-row file is written
    last so the final watermark passes every real session's end + gap and
    flushes all trailing state. Both sides truncate timestamps to epoch
    seconds and split on the same gap rule, so the flag is deterministic,
    not statistical."""
    import shutil
    import tempfile
    import time
    import uuid as _uuid

    from phphll_spark.operators import sessionize
    from phphll_spark.streaming import stateful_sessions

    gap_seconds = 1800
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20).select(
        "ts", F.col("user_id").cast("string").alias("uid")
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    if lo is None:
        return True
    sentinel_uid = "__wm_flush__"
    work = tempfile.mkdtemp(prefix="phphll_sessions_eq_")
    name = f"sessions_eq_{_uuid.uuid4().hex[:8]}"
    try:
        src = os.path.join(work, "src")
        # quartile cut points on TRUNCATED epoch seconds (relativeError=0
        # → exact): equal-second events always land in the same file, so
        # the range files are contiguous and non-overlapping in seconds
        epoch = ev.select(F.unix_timestamp("ts").cast("double").alias("e"))
        cuts = [int(c) for c in epoch.stat.approxQuantile("e", [0.25, 0.5, 0.75], 0.0)]
        bounds = [None, *cuts, None]
        stamped: list[str] = []
        t0 = int(time.time()) - 60
        for i in range(4):
            part = ev
            if bounds[i] is not None:
                part = part.filter(F.unix_timestamp("ts") > bounds[i])
            if bounds[i + 1] is not None:
                part = part.filter(F.unix_timestamp("ts") <= bounds[i + 1])
            part.coalesce(1).write.mode("append").parquet(src)
            _stamp_appended(src, stamped, t0)
        # sentinel AFTER the real files: final watermark = sentinel ts
        # (delay 0) > every session end + gap → full state flush
        from datetime import timedelta

        flush_ts = hi + timedelta(seconds=gap_seconds + 2 * 86400)
        spark.createDataFrame([(flush_ts, sentinel_uid)], "ts timestamp, uid string").coalesce(
            1
        ).write.mode("append").parquet(src)
        _stamp_appended(src, stamped, t0)
        stream = (
            spark.readStream.schema("ts timestamp, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        q = (
            stateful_sessions(stream, "uid", "ts", gap_seconds=gap_seconds)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300, "stateful-sessions replay")
        cols = ["uid", "session_start", "session_end", "n_events"]
        streamed = spark.sql(f"SELECT * FROM {name}").filter(
            F.col("uid") != sentinel_uid
        ).select(*cols)
        batch = (
            sessionize(ev, "uid", "ts", gap_seconds=gap_seconds)
            .groupBy("uid", "session_id")
            .agg(
                F.min(F.unix_timestamp("ts")).alias("session_start"),
                F.max(F.unix_timestamp("ts")).alias("session_end"),
                F.count("*").alias("n_events"),
            )
            .select(*cols)
        )
        n_mismatch = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
        return n_mismatch == 0
    finally:
        spark.catalog.dropTempView(name) if name in [
            t.name for t in spark.catalog.listTables()
        ] else None
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_daily_users_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch equivalence for the HLL snapshot sink, recordable
    against a plain SQL oracle (VERDICT r03 #7): the events table is split
    into 4 parquet files, replayed as 4 file-source micro-batches
    (maxFilesPerTrigger=1, availableNow) through
    ``foreach_batch_sketch_sink`` — 4 incremental snapshot merges + atomic
    pointer swaps — and the final snapshot's per-day estimates are compared
    with the one-shot batch sketch. Merge associativity/idempotence
    (hyperloglog.c:1038-1077) makes the equality EXACT regardless of how
    rows were split into batches, so ``stream_eq_batch`` is deterministic;
    the oracle pins it (and the 6σ bound vs exact DAU) to TRUE. The ≤31-row
    snapshot is collected so the streaming scratch dir can be removed
    before returning.

    R5 (VERDICT r04 #5): the CUSTOM STATEFUL operator now rides the same
    record — ``sessions_eq_batch`` replays the user_id<20 events as
    micro-batches through ``stateful_sessions`` (applyInPandasWithState +
    event-time timeout) and pins tuple-equality of the emitted closed
    sessions against batch sessionization (``_stateful_sessions_eq_batch``
    above); the oracle pins TRUE. One replay query carries both streaming
    equivalences — the 50-slot record cap makes a second slot too dear."""
    import shutil
    import tempfile

    from phphll_spark.streaming.stream import (
        foreach_batch_sketch_sink,
        read_sketch_table,
    )

    sessions_eq = _stateful_sessions_eq_batch(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("uid")
    )
    work = tempfile.mkdtemp(prefix="phphll_stream_eq_")
    try:
        src = os.path.join(work, "src")
        ev.repartition(4).write.parquet(src)
        table = os.path.join(work, "snap")
        stream = (
            spark.readStream.schema("day date, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_sketch_sink(["day"], "uid", table))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # a hung stream must fail loudly, not proceed with a partial
        # snapshot into a confusing stream_eq_batch=false (ADVICE r04)
        _await_stream(q, 300, "streaming snapshot")
        snap_rows = (
            read_sketch_table(spark, table)
            .select("day", hll_count_sketch(F.col("sketch")).alias("stream_est"))
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    snap = spark.createDataFrame(snap_rows, "day date, stream_est long")
    batch = hll_count_distinct(ev, ["day"], "uid", alias="batch_est")
    exact = ev.groupBy("day").agg(F.countDistinct("uid").alias("exact_users"))
    return (
        F.broadcast(snap)
        .join(batch, "day")
        .join(exact, "day")
        .select(
            "day",
            "exact_users",
            (F.col("stream_est") == F.col("batch_est")).alias("stream_eq_batch"),
            F.lit(bool(sessions_eq)).alias("sessions_eq_batch"),
            _bound_ok(F.col("stream_est"), F.col("exact_users")),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (filter → groupBy → multi-agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
            _round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _round_half_up(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg + deterministic top-10 (rank by revenue,
    custkey tie-break)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(_round_half_up(F.sum("o_totalprice"), 2).alias("revenue"))
    joined = rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_name", "c_mktsegment", "revenue"
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return joined.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)


# ---------------------------------------------------------------------------
# Non-SQL-expressible extras (rows-only checks)
# ---------------------------------------------------------------------------

def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (murmur-based — no ANSI-SQL analog)."""
    from phphll_spark.functions.similarity import with_simhash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_simhash(docs, "text").select("doc_id", "simhash")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-media plumbing: deterministic fake decode over a synthetic
    media table (no driver table for media; rows-only check).

    The feature vector itself is array<double>, which the driver's
    canonicalizer cannot sort/hash — export a scalar digest (md5 of the
    JSON form) + its length so the array path stays exercised end-to-end
    but the output is canonicalizer-safe (VERDICT r01 root cause #2)."""
    from phphll_spark.operators import extract_features, make_fake_media_df

    feats = extract_features(make_fake_media_df(spark, 64), dim=8, fake=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.size("feature").alias("feature_dim"),
        F.md5(F.to_json(F.struct("feature"))).alias("feature_digest"),
    )


# (minhash_signatures_docs, fingerprint_docs and embedding_norms were
# folded out of the driver surface in r4: their machinery is the very
# substrate of dedup_minhash_docs / dedup_exact_docs / every cosine
# query's oracle, so the standalone exports spent three of the driver's
# 50 recording slots re-verifying already-gated code paths. The slots now
# carry the r3 operators that had NO driver row — cap_tokens / k-samples
# / surprisal / canonical-url dedup (VERDICT r03 #1). The operators
# themselves remain pytest-covered: tests/test_pipeline_ops.py.)


# ---------------------------------------------------------------------------
# Mix / rebalance operators (r4: the r3 pytest-only set, oracle-paired)
# ---------------------------------------------------------------------------

def q_cap_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET capping (operators/sampling.py cap_tokens_per_stratum):
    per lang keep the longest ascending-doc_id prefix whose cumulative
    whitespace-token count stays ≤ 2000 — the 'cap each source at N
    tokens' training-mix step, here with the skew-safe two-phase shape
    (approx-quantile id buckets → exact per-bucket sums → pure filter;
    only the boundary bucket gets a cumsum window). The oracle is the
    straightforward per-stratum running-total window."""
    from phphll_spark.operators import cap_tokens_per_stratum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.token_count("text").alias("_tok")
    )
    kept = cap_tokens_per_stratum(docs, "doc_id", "lang", "_tok", 2000)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("kept_tokens"),
        F.max("doc_id").alias("last_doc"),
    )


def q_sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform AND weighted deterministic k-samples per lang in one
    export (operators/sampling.py sample_k_per_stratum /
    weighted_sample_k_per_stratum): uniform = the 20 smallest salted
    md5(doc_id) per lang; weighted = Efraimidis–Spirakis A-ES with
    -ln(u)/w keys, probability ∝ n_chars. Both are pure functions of the
    data (partitioning/engine-invariant), which is exactly what lets
    DuckDB recompute the identical sample."""
    from phphll_spark.operators import sample_k_per_stratum, weighted_sample_k_per_stratum

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    uni = sample_k_per_stratum(docs, "doc_id", "lang", 20, salt="r4").select(
        "doc_id", "lang", F.lit(True).alias("_u"), F.lit(False).alias("_w")
    )
    wtd = weighted_sample_k_per_stratum(docs, "doc_id", "lang", "n_chars", 20, salt="r4").select(
        "doc_id", "lang", F.lit(False).alias("_u"), F.lit(True).alias("_w")
    )
    # the two frames are k-bounded (≤ k × n_langs rows each); their
    # full-outer merge is a union + tiny groupBy — Spark cannot broadcast
    # a full-outer join, so the join form always planned a two-sided
    # sort-merge (VERDICT r04 nit)
    return (
        uni.unionByName(wtd)
        .groupBy("doc_id", "lang")
        .agg(
            F.max("_u").alias("in_uniform"),
            F.max("_w").alias("in_weighted"),
        )
    )


def q_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram surprisal −mean(ln p(token)) against a corpus-
    derived top-32 vocabulary (functions/similarity.py unigram_vocab +
    with_unigram_surprisal) — the lib-free stand-in for CCNet-style
    LM-perplexity quality filtering. max_vocab=32 < the corpus's 31+
    distinct tokens keeps the OOV path (p = 0.5/N) exercised when the
    synthetic vocabulary grows. Scale shape: one hash agg for counts, a
    ~1 MB broadcast model, one narrow Arrow pass (murmur + searchsorted)
    — no join, no shuffle in scoring. The oracle rebuilds the same
    vocab (count DESC, token ASC — a total order) and ln() arithmetic
    with the portable floor-rounding rule."""
    from phphll_spark.functions.similarity import unigram_vocab, with_unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(docs, "text", max_vocab=32)
    src = docs.select(
        "doc_id", F.lower(T.normalized_text("text")).alias("_norm")
    ).repartition(spark.sparkContext.defaultParallelism)
    return with_unigram_surprisal(src, "_norm", vocab).select("doc_id", "surprisal")


def q_dedup_url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup on canonical_url (functions/text.py) — the
    key the Common-Crawl dedup story leads with. The documents table has
    no url column, so presentation-noisy URLs are synthesized
    DETERMINISTICALLY from doc_id (mixed-case scheme/host, default
    ports, param order, fragments, bare-path trailing slash, userinfo —
    every normalization canonical_url performs), grouped on the Spark
    side by PARSING the noisy string; the DuckDB oracle constructs each
    doc's canonical form directly from the same components — an
    independent derivation, so a parse bug (e.g. the r3 userinfo/port
    confusion, ADVICE r03) breaks the match."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    g = d % 97
    scheme = F.when(g % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme_p = F.when(d % 4 < 2, F.upper(scheme)).otherwise(scheme)
    host = F.concat(F.lit("site"), (g % 7).cast("string"), F.lit(".example.com"))
    host_p = F.when(d % 3 == 0, F.upper(host)).otherwise(host)
    ui = F.when(g % 17 == 0, F.concat(F.lit("u"), (g % 3).cast("string"), F.lit(":pW9@"))).otherwise(
        F.lit("")
    )
    port_p = F.when(g % 11 == 0, F.lit(":8080")).otherwise(
        F.when(
            d % 5 == 0,
            F.when(g % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).otherwise(F.lit(""))
    )
    path = F.when(g % 13 == 0, F.lit("")).otherwise(F.concat(F.lit("/p/"), g.cast("string")))
    path_p = F.when((g % 13 == 0) & (d % 2 == 0), F.lit("/")).otherwise(path)
    query_p = F.when(
        d % 2 == 1, F.concat(F.lit("?b=2&a="), g.cast("string"))
    ).otherwise(F.concat(F.lit("?a="), g.cast("string"), F.lit("&b=2")))
    frag_p = F.when(d % 7 == 0, F.lit("#sec")).otherwise(F.lit(""))
    url = F.concat(scheme_p, F.lit("://"), ui, host_p, port_p, path_p, query_p, frag_p)
    return (
        docs.select("doc_id", T.canonical_url(url).alias("canon"))
        .groupBy("canon")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_docs"))
        .withColumnRenamed("canon", "canonical_url")
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-lang approx distinct documents with 6σ-bound check on
    sf0.001 (the hllcnt pipeline of SURVEY.md §3.3, distributed)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    est = hll_count_distinct(docs, ["lang"], "text", alias="approx_docs")
    exact = docs.groupBy("lang").agg(F.countDistinct("text").alias("exact_docs"))
    return est.join(exact, "lang").select(
        "lang", "approx_docs", "exact_docs", _bound_ok(F.col("approx_docs"), F.col("exact_docs"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "hll_suppliers_per_nation": q_hll_suppliers_per_nation,
        "hll_nations_per_region": q_hll_nations_per_region,
        "hll_users_per_event_type_bound": q_hll_users_per_event_type_bound,
        "hll_users_per_day_bound": q_hll_users_per_day_bound,
        "hll_global_parts_bound": q_hll_global_parts_bound,
        "hll_roundtrip_per_lang": q_hll_roundtrip_per_lang,
        "hll_merge_assoc_per_lang": q_hll_merge_assoc_per_lang,
        "hll_rollup_lang_source_bound": q_hll_rollup_lang_source_bound,
        "hll_intersection_event_types": q_hll_intersection_event_types,
        "hll_p10_segments_bound": q_hll_p10_segments_bound,
        "hll_users_sliding_week_bound": q_hll_users_sliding_week_bound,
        "cms_user_event_counts_bound": q_cms_user_event_counts_bound,
        "mg_heavy_event_types": q_mg_heavy_event_types,
        "mg_trending_daily": q_mg_trending_daily,
        "mg_heavy_users_bound": q_mg_heavy_users_bound,
        "tdigest_price_quantiles_bound": q_tdigest_price_quantiles_bound,
        "kll_price_quantiles_bound": q_kll_price_quantiles_bound,
        "bloom_membership_per_segment": q_bloom_membership_per_segment,
        "dedup_exact_docs": q_dedup_exact_docs,
        "dedup_paragraph_docs": q_dedup_paragraph_docs,
        "hll_union_en_de": q_hll_union_en_de,
        "dedup_span_docs": q_dedup_span_docs,
        "dedup_minhash_docs": q_dedup_minhash_docs,
        "dedup_minhash_keep_docs": q_dedup_minhash_keep_docs,
        "corpus_clean_stats": q_corpus_clean_stats,
        "repetition_docs": q_repetition_docs,
        "stratified_sample_stats": q_stratified_sample_stats,
        "decontaminate_docs": q_decontaminate_docs,
        "cap_per_source_stats": q_cap_per_source_stats,
        "dedup_cluster_docs": q_dedup_cluster_docs,
        "token_stats_per_lang": q_token_stats_per_lang,
        "lang_marker_hits": q_lang_marker_hits,
        "text_quality_chars_per_lang": q_text_quality_chars_per_lang,
        "quality_score_docs": q_quality_score_docs,
        "lang_id_confusion": q_lang_id_confusion,
        "topk_cosine_neighbors": q_topk_cosine_neighbors,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "embedding_all_pairs_exact": q_embedding_all_pairs_exact,
        "topk_cosine_blocked": q_topk_cosine_blocked,
        "multimodal_features": q_multimodal_features,
        "ann_ivf_recall": q_ann_ivf_recall,
        "session_stats_users": q_session_stats_users,
        "streaming_daily_users_eq": q_streaming_daily_users_eq,
        "pricing_summary": q_pricing_summary,
        "top_customers_by_revenue": q_top_customers_by_revenue,
        "simhash_docs": q_simhash_docs,
        "cap_tokens_per_lang": q_cap_tokens_per_lang,
        "sample_k_per_lang": q_sample_k_per_lang,
        "surprisal_docs": q_surprisal_docs,
        "dedup_url_docs": q_dedup_url_docs,
    }


def oracle_sql() -> dict[str, str]:
    six_sigma = repr(_SIX_SIGMA)
    en_list = ",".join(f"'{w}'" for w in _EN)
    de_list = ",".join(f"'{w}'" for w in _DE)
    es_list = ",".join(f"'{w}'" for w in T._LANG_MARKERS["es"])
    fr_list = ",".join(f"'{w}'" for w in T._LANG_MARKERS["fr"])
    sw_list = ",".join(f"'{w}'" for w in T._EN_STOPWORDS)
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    tokens = "list_filter(string_split_regex(trim(coalesce(text,'')), '\\s+'), t -> t <> '')"
    return {
        "hll_suppliers_per_nation": """
            SELECT s_nationkey, COUNT(DISTINCT s_suppkey) AS approx_suppliers
            FROM supplier GROUP BY s_nationkey
        """,
        "hll_nations_per_region": """
            SELECT r_name, COUNT(DISTINCT n_name) AS approx_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "hll_users_per_event_type_bound": """
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "hll_users_per_day_bound": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound
            FROM events GROUP BY 1
        """,
        "hll_global_parts_bound": """
            SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS within_bound
            FROM lineitem
        """,
        "hll_roundtrip_per_lang": """
            SELECT DISTINCT lang, TRUE AS roundtrip_ok FROM documents
        """,
        "hll_merge_assoc_per_lang": """
            SELECT DISTINCT lang, TRUE AS assoc_ok FROM documents
        """,
        "hll_rollup_lang_source_bound": """
            SELECT COALESCE(lang, '<all>') AS lang,
                   COALESCE(source, '<all>') AS source,
                   COUNT(DISTINCT text) AS exact_texts, TRUE AS within_bound
            FROM documents GROUP BY ROLLUP(lang, source)
        """,
        # the oracle KNOWS the regime: theta stays exact (θ=1, never
        # trimmed) iff a side's distinct count never exceeded k=65536, so
        # it derives theta_exact_regime from the true per-side distinct
        # counts and pins the value column exactly in-regime / -1 past it
        "hll_intersection_event_types": """
            WITH sides AS (
              SELECT COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS da,
                     COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS db
              FROM events
            ), i AS (
              SELECT COUNT(*) AS exact_intersection FROM (
                SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
                INTERSECT
                SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              )
            )
            SELECT exact_intersection,
                   (da <= 65536 AND db <= 65536) AS theta_exact_regime,
                   CASE WHEN da <= 65536 AND db <= 65536
                        THEN exact_intersection ELSE -1 END AS theta_intersection,
                   TRUE AS theta_within_bound,
                   TRUE AS within_bound
            FROM i, sides
        """,
        "hll_p10_segments_bound": """
            SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS exact_customers,
                   TRUE AS within_bound_p14, TRUE AS within_bound_p10
            FROM customer GROUP BY c_mktsegment
        """,
        "hll_users_sliding_week_bound": """
            WITH ex AS (
              SELECT CAST(date_trunc('day', ts) - (ks.k * INTERVAL 1 DAY) AS DATE) AS win_start,
                     user_id
              FROM events CROSS JOIN (SELECT range AS k FROM range(7)) ks
            )
            SELECT win_start, COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS within_bound
            FROM ex GROUP BY win_start
        """,
        "ann_ivf_recall": """
            SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 5
        """,
        "cms_user_event_counts_bound": """
            SELECT user_id, COUNT(*) AS exact_count, TRUE AS within_bound
            FROM events WHERE user_id < 10 GROUP BY user_id
        """,
        "mg_heavy_event_types": """
            SELECT event_type, COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "mg_trending_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "mg_heavy_users_bound": """
            SELECT user_id, COUNT(*) AS exact_count, TRUE AS within_bound
            FROM events WHERE user_id < 10 GROUP BY user_id
        """,
        "kll_price_quantiles_bound": """
            SELECT l_returnflag, COUNT(*) AS n_items,
                   TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
            FROM lineitem GROUP BY l_returnflag
        """,
        "tdigest_price_quantiles_bound": """
            SELECT o_orderpriority, COUNT(*) AS n_orders,
                   TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
            FROM orders GROUP BY o_orderpriority
        """,
        "bloom_membership_per_segment": """
            SELECT c_mktsegment, COUNT(*) AS n_members_found
            FROM customer GROUP BY c_mktsegment
        """,
        "dedup_exact_docs": f"""
            SELECT md5({norm}) AS fingerprint,
                   MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        # sub-k rule mirrors Spark char_shingles / the MinHash shingler:
        # a nonempty doc shorter than k is its own single shingle
        "dedup_minhash_docs": f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN length({norm}) < 5 THEN [{norm}]
                          ELSE list_distinct(list_transform(range(1, length({norm}) - 3),
                                                            i -> substring({norm}, CAST(i AS INT), 5)))
                     END AS s
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard_sim
            FROM sh a JOIN sh b
              ON a.doc_id < b.doc_id
             -- exact prefilter: J>=0.8 requires min(|A|,|B|)/max(|A|,|B|)>=0.8
             AND CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE)
                 / GREATEST(len(a.s), len(b.s)) >= 0.8
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        """,
        "decontaminate_docs": f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN len(string_split({norm}, ' ')) < 13 THEN [{norm}]
                          ELSE list_distinct(list_transform(
                                 range(1, len(string_split({norm}, ' ')) - 11),
                                 i -> array_to_string(
                                        list_slice(string_split({norm}, ' '),
                                                   CAST(i AS INT), CAST(i + 12 AS INT)), ' ')))
                     END AS s
              FROM documents
            )
            SELECT DISTINCT c.doc_id AS doc_id
            FROM sh c JOIN sh e ON e.doc_id < 25 AND c.doc_id >= 25
            WHERE len(list_intersect(c.s, e.s)) > 0
        """,
        "stratified_sample_stats": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len({tokens})) AS BIGINT) AS total_tokens
            FROM documents
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'r2'), 1, 8)) AS UBIGINT) % 10000
                  < (CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 7000 ELSE 10000 END)
            GROUP BY lang
        """,
        "cap_per_source_stats": """
            SELECT source, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
            FROM (
              SELECT source, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn <= 3 GROUP BY source
        """,
        "repetition_docs": f"""
            WITH gr AS (
              SELECT doc_id, strlen({norm}) AS total,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN len(string_split({norm}, ' ')) < 2 THEN [{norm}]
                          ELSE list_transform(range(1, len(string_split({norm}, ' '))),
                                 i -> array_to_string(
                                        list_slice(string_split({norm}, ' '),
                                                   CAST(i AS INT), CAST(i + 1 AS INT)), ' '))
                     END AS grams
              FROM documents
            ), g AS (
              SELECT doc_id, unnest(grams) AS gram FROM gr
            ), c AS (
              SELECT doc_id, gram, COUNT(*) AS k, strlen(gram) AS gl
              FROM g GROUP BY doc_id, gram
            ), s AS (
              SELECT doc_id, MAX(k * gl) AS best,
                     COALESCE(SUM(CASE WHEN k > 1 THEN k * gl END), 0) AS dupb
              FROM c GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len({tokens}) AS n_tokens,
                   len(list_distinct(list_transform({tokens}, t -> lower(t)))) AS n_distinct_tokens,
                   CASE WHEN len({tokens}) = 0 THEN 0.0
                        ELSE FLOOR((1 - CAST(len(list_distinct(list_transform({tokens}, t -> lower(t)))) AS DOUBLE)
                                        / len({tokens})) * 10000.0 + 0.5) / 10000.0
                   END AS dup_ratio,
                   CASE WHEN gr.total = 0 OR s.best IS NULL THEN 0.0
                        ELSE FLOOR(LEAST(s.best / gr.total, 1.0) * 10000.0 + 0.5) / 10000.0
                   END AS top_2gram_fraction,
                   CASE WHEN gr.total = 0 OR s.dupb IS NULL THEN 0.0
                        ELSE FLOOR(LEAST(s.dupb / gr.total, 1.0) * 10000.0 + 0.5) / 10000.0
                   END AS dup_2gram_fraction
            FROM documents d
            JOIN gr ON gr.doc_id = d.doc_id
            LEFT JOIN s ON s.doc_id = d.doc_id
        """,
        "corpus_clean_stats": f"""
            WITH keepers AS (
              SELECT doc_id, lang, text FROM (
                SELECT doc_id, lang, text,
                       ROW_NUMBER() OVER (PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
                FROM documents
              ) WHERE rn = 1
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN length({norm}) < 5 THEN [{norm}]
                          ELSE list_distinct(list_transform(range(1, length({norm}) - 3),
                                                            i -> substring({norm}, CAST(i AS INT), 5)))
                     END AS s
              FROM keepers
            ), losers AS (
              SELECT DISTINCT b.doc_id AS doc_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
            ), cleaned AS (
              SELECT doc_id, lang, text FROM keepers
              WHERE doc_id NOT IN (SELECT doc_id FROM losers)
            ), m AS (
              SELECT doc_id, lang,
                     len({tokens}) AS n_tok,
                     length(coalesce(text,'')) AS n_chars,
                     length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(coalesce(text,''), '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
                     len(list_filter(list_transform({tokens}, t -> lower(t)),
                                     t -> t IN ({sw_list}))) AS n_stop
              FROM cleaned
            ), scored AS (
              SELECT doc_id, lang, n_tok,
                CASE WHEN n_tok = 0 THEN 0.0 ELSE
                  FLOOR((
                    0.4 * (LEAST(CAST(n_tok AS DOUBLE) / 50.0, 1.0)
                           * LEAST(2000.0 / GREATEST(CAST(n_tok AS DOUBLE), 1.0), 1.0))
                    + 0.3 * (CASE WHEN n_chars = 0 THEN 0.0
                                  ELSE FLOOR(CAST(n_alpha AS DOUBLE) / n_chars * 1000000.0 + 0.5) / 1000000.0 END)
                    + 0.2 * LEAST((CASE WHEN n_tok = 0 THEN 0.0
                                   ELSE FLOOR(CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END) * 3, 1.0)
                    + 0.1 * (1 - LEAST((CASE WHEN n_chars = 0 THEN 0.0
                                        ELSE FLOOR(CAST(n_punct AS DOUBLE) / n_chars * 1000000.0 + 0.5) / 1000000.0 END) * 5, 1.0))
                  ) * 10000.0 + 0.5) / 10000.0 END AS q
              FROM m
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM scored WHERE q >= 0.3 GROUP BY lang
        """,
        "dedup_minhash_keep_docs": f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN length({norm}) < 5 THEN [{norm}]
                          ELSE list_distinct(list_transform(range(1, length({norm}) - 3),
                                                            i -> substring({norm}, CAST(i AS INT), 5)))
                     END AS s
              FROM documents
            ), losers AS (
              SELECT DISTINCT b.doc_id AS doc_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "dedup_cluster_docs": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id,
                     CASE WHEN length({norm}) = 0 THEN []
                          WHEN length({norm}) < 5 THEN [{norm}]
                          ELSE list_distinct(list_transform(range(1, length({norm}) - 3),
                                                            i -> substring({norm}, CAST(i AS INT), 5)))
                     END AS s
              FROM documents
            ), p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b
                ON a.doc_id < b.doc_id
               AND CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE)
                   / GREATEST(len(a.s), len(b.s)) >= 0.8
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
            ), nodes AS (
              SELECT id_a AS id FROM p UNION SELECT id_b FROM p
            ), e AS (
              SELECT id_a AS u, id_b AS v FROM p
              UNION ALL SELECT id_b, id_a FROM p
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id
            )
            SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
        """,
        # same 8-word chunking as the Spark side, built independently:
        # tokens -> generate_subscripts -> (wi-1)//8 groups -> string_agg;
        # winner = first (doc_id, pos) per md5(paragraph), docs rebuilt by
        # ordered string_agg of the survivors (empty doc -> md5(''))
        "dedup_paragraph_docs": f"""
            WITH w AS (
              SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS wi
              FROM (SELECT doc_id, {tokens} AS ws FROM documents)
            ), paras AS (
              SELECT doc_id, CAST((wi - 1) // 8 AS INT) AS pos,
                     string_agg(word, ' ' ORDER BY wi) AS para
              FROM w GROUP BY doc_id, (wi - 1) // 8
              -- a token-less doc (empty/whitespace-only text) still chunks
              -- to ONE empty paragraph on the Spark side (n_chunks >= 1);
              -- unnest of its empty token list would drop it here, so
              -- synthesize the '' paragraph symmetrically (ADVICE r04)
              UNION ALL
              SELECT doc_id, 0 AS pos, '' AS para
              FROM (SELECT doc_id, {tokens} AS ws FROM documents) WHERE len(ws) = 0
            ), win AS (
              SELECT doc_id, pos, para,
                     ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
              FROM paras
            )
            SELECT doc_id, COUNT(*) AS n_paras,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '')) AS dedup_text_md5
            FROM win GROUP BY doc_id
        """,
        "hll_union_en_de": """
            SELECT COUNT(DISTINCT text) AS exact_union, TRUE AS within_bound
            FROM documents WHERE lang IN ('en', 'de')
        """,
        # NB every SUM over a computed BIGINT is CAST back to BIGINT: DuckDB
        # SUM(BIGINT) yields HUGEINT, which pandas renders as float64 and
        # the driver's dtype-sensitive value hash then mismatches Spark's
        # int64 (VERDICT r01 root cause #1).
        # windows rebuilt independently: tokens -> md5 of each 20-token
        # slice -> corpus-wide count >= 2 -> per-doc gaps-and-islands merge
        # (break when start gaps exceed n; LAG-null first row = no break on
        # both sides). The removal half (r5): every span-covered token is
        # filtered out, the survivors re-join with single spaces, and the
        # md5 of the rewrite plus the removed-token count land on each of
        # the doc's span rows — recomputing remove_duplicated_spans'
        # exists()-filter composition from first principles.
        "dedup_span_docs": f"""
            WITH d AS (SELECT doc_id, {tokens} AS ws FROM documents),
            g AS (
              SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
              FROM (SELECT doc_id, list_transform(range(0, greatest(len(ws) - 19, 0)),
                             i -> md5(array_to_string(ws[i+1:i+20], ' '))) AS hs FROM d)
            ),
            dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
            p AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
            b AS (SELECT doc_id, pos,
                    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
                         THEN 1 ELSE 0 END AS brk
                  FROM p),
            i AS (SELECT doc_id, pos,
                    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                  FROM b),
            spans AS (
              SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
                     CAST(MAX(pos) + 19 AS INT) AS span_end,
                     CAST(MAX(pos) - MIN(pos) + 20 AS INT) AS span_tokens
              FROM i GROUP BY doc_id, isl
            ),
            tok AS (
              SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) - 1 AS ti
              FROM d WHERE doc_id IN (SELECT doc_id FROM spans)
            ),
            cov AS (
              SELECT t.doc_id, t.ti, t.word,
                     EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
                             AND t.ti BETWEEN s.span_start AND s.span_end) AS covered
              FROM tok t
            ),
            clean AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS INT) AS doc_removed_tokens,
                     md5(COALESCE(string_agg(CASE WHEN NOT covered THEN word END,
                                             ' ' ORDER BY ti), '')) AS doc_clean_md5
              FROM cov GROUP BY doc_id
            )
            SELECT s.doc_id, s.span_start, s.span_end, s.span_tokens,
                   c.doc_removed_tokens, c.doc_clean_md5
            FROM spans s JOIN clean c USING (doc_id)
        """,
        "token_stats_per_lang": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len({tokens})) AS BIGINT) AS total_tokens,
                   CAST(SUM(length(coalesce(text,''))) AS BIGINT) AS total_chars,
                   CAST(SUM(len(list_filter(
                       regexp_extract_all(coalesce(text,''),
                           '([A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]|\\s+)', 1),
                       t -> trim(t) <> ''))) AS BIGINT) AS total_bpe_tokens
            FROM documents GROUP BY lang
        """,
        "lang_marker_hits": f"""
            SELECT lang,
                   CAST(SUM(len(list_filter(list_transform({tokens}, t -> lower(t)),
                                            t -> t IN ({en_list})))) AS BIGINT) AS en_hits,
                   CAST(SUM(len(list_filter(list_transform({tokens}, t -> lower(t)),
                                            t -> t IN ({de_list})))) AS BIGINT) AS de_hits
            FROM documents GROUP BY lang
        """,
        "text_quality_chars_per_lang": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g'))) AS BIGINT) AS sum_alpha_chars,
                   CAST(SUM(length(regexp_replace(coalesce(text,''), '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) AS BIGINT) AS sum_punct_chars,
                   CAST(SUM(len(list_filter(list_transform({tokens}, t -> lower(t)),
                                            t -> t IN ({sw_list})))) AS BIGINT) AS sum_stopword_tokens
            FROM documents GROUP BY lang
        """,
        "quality_score_docs": f"""
            WITH m AS (
              SELECT doc_id,
                     len({tokens}) AS n_tok,
                     length(coalesce(text,'')) AS n_chars,
                     length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(coalesce(text,''), '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
                     len(list_filter(list_transform({tokens}, t -> lower(t)),
                                     t -> t IN ({sw_list}))) AS n_stop
              FROM documents
            )
            SELECT doc_id,
              CASE WHEN n_tok = 0 THEN 0.0 ELSE
                FLOOR((
                  0.4 * (LEAST(CAST(n_tok AS DOUBLE) / 50.0, 1.0)
                         * LEAST(2000.0 / GREATEST(CAST(n_tok AS DOUBLE), 1.0), 1.0))
                  + 0.3 * (CASE WHEN n_chars = 0 THEN 0.0
                                ELSE FLOOR(CAST(n_alpha AS DOUBLE) / n_chars * 1000000.0 + 0.5) / 1000000.0 END)
                  + 0.2 * LEAST((CASE WHEN n_tok = 0 THEN 0.0
                                 ELSE FLOOR(CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END) * 3, 1.0)
                  + 0.1 * (1 - LEAST((CASE WHEN n_chars = 0 THEN 0.0
                                      ELSE FLOOR(CAST(n_punct AS DOUBLE) / n_chars * 1000000.0 + 0.5) / 1000000.0 END) * 5, 1.0))
                ) * 10000.0 + 0.5) / 10000.0 END AS quality
            FROM m
        """,
        "lang_id_confusion": f"""
            WITH h AS (
              SELECT lang,
                     len(list_filter(list_transform({tokens}, t -> lower(t)), t -> t IN ({de_list}))) AS h_de,
                     len(list_filter(list_transform({tokens}, t -> lower(t)), t -> t IN ({en_list}))) AS h_en,
                     len(list_filter(list_transform({tokens}, t -> lower(t)), t -> t IN ({es_list}))) AS h_es,
                     len(list_filter(list_transform({tokens}, t -> lower(t)), t -> t IN ({fr_list}))) AS h_fr
              FROM documents
            ), p AS (
              SELECT lang, GREATEST(h_de, h_en, h_es, h_fr) AS best,
                     CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                          WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
                          WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
                          WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
                          ELSE 'fr' END AS predicted
              FROM h
            )
            SELECT lang, predicted, COUNT(*) AS n_docs FROM p GROUP BY lang, predicted
        """,
        "embedding_near_dup_pairs": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            s AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 4)
                     AS cosine_sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.5
        """,
        "embedding_all_pairs_exact": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            s AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     FLOOR(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                       * 10000.0 + 0.5) / 10000.0
                     AS cosine_sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.4
        """,
        "topk_cosine_neighbors": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                       AS sim
              FROM q CROSS JOIN embeddings e
            )
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY ROUND(sim, 6) DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "topk_cosine_blocked": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                       AS sim
              FROM q CROSS JOIN embeddings e
            )
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY ROUND(sim, 6) DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "session_stats_users": """
            WITH s AS (
              SELECT user_id, ts,
                     SUM(CASE WHEN prev IS NULL
                              OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev)) AS BIGINT) > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
              FROM (
                SELECT user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events WHERE user_id < 20
              )
            ), per AS (
              SELECT user_id, session_id, COUNT(*) AS n_events,
                     CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS span_s
              FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, COUNT(*) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   CAST(SUM(span_s) AS BIGINT) AS total_span_s
            FROM per GROUP BY user_id
        """,
        # stream_eq_batch is exact by merge associativity/idempotence (the
        # snapshot sink's 4-micro-batch estimate equals the one-shot batch
        # estimate byte-for-byte); sessions_eq_batch is exact because both
        # sessionizers truncate to epoch seconds and split on the same gap
        # rule — so the oracle pins both to TRUE.
        "streaming_daily_users_eq": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS stream_eq_batch, TRUE AS sessions_eq_batch,
                   TRUE AS within_bound
            FROM events GROUP BY 1
        """,
        # FLOOR(x*100 + 0.5)/100 on both sides: Spark F.round (BigDecimal
        # HALF_UP) and DuckDB ROUND disagree on doubles like
        # 0.42374999999999996; floor-of-scaled is bit-identical IEEE.
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
                   FLOOR(SUM(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_base_price,
                   FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers_by_revenue": """
            SELECT c_custkey, c_name, c_mktsegment, revenue, rk FROM (
              SELECT c_custkey, c_name, c_mktsegment, revenue,
                     ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rk
              FROM (
                SELECT o_custkey, FLOOR(SUM(o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue
                FROM orders GROUP BY o_custkey
              ) r JOIN customer ON o_custkey = c_custkey
            ) WHERE rk <= 10
        """,
        "cap_tokens_per_lang": f"""
            WITH t AS (
              SELECT doc_id, lang, len({tokens}) AS tok FROM documents
            ), r AS (
              SELECT lang, doc_id, tok,
                     SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS run
              FROM t
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(tok) AS BIGINT) AS kept_tokens,
                   MAX(doc_id) AS last_doc
            FROM r WHERE run <= 2000 GROUP BY lang
        """,
        # u for the weighted keys: 52-bit mantissa from the first 13 md5
        # hex chars / 16^13 — the exact arithmetic of
        # weighted_sample_k_per_stratum (Spark conv(hex,16,10)::double and
        # DuckDB ('0x'||hex)::UBIGINT::DOUBLE are the same IEEE value)
        "sample_k_per_lang": """
            WITH u AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || 'r4'), doc_id) AS rn
              FROM documents
            ), uk AS (SELECT doc_id, lang FROM u WHERE rn <= 20),
            w AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rn
              FROM (
                SELECT doc_id, lang,
                       CASE WHEN n_chars > 0 THEN
                         -ln(GREATEST(
                               CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'r4'), 1, 13)) AS UBIGINT) AS DOUBLE)
                               / 4503599627370496.0, 1e-300))
                         / CAST(n_chars AS DOUBLE)
                       END AS key
                FROM documents
              ) WHERE key IS NOT NULL
            ), wk AS (SELECT doc_id, lang FROM w WHERE rn <= 20)
            SELECT COALESCE(uk.doc_id, wk.doc_id) AS doc_id,
                   COALESCE(uk.lang, wk.lang) AS lang,
                   uk.doc_id IS NOT NULL AS in_uniform,
                   wk.doc_id IS NOT NULL AS in_weighted
            FROM uk FULL OUTER JOIN wk
              ON uk.doc_id = wk.doc_id AND uk.lang = wk.lang
        """,
        "surprisal_docs": f"""
            WITH tok AS (
              SELECT doc_id, unnest(list_transform({tokens}, t -> lower(t))) AS t
              FROM documents
            ), cnt AS (
              SELECT t, COUNT(*) AS c FROM tok GROUP BY t
            ), tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt),
            vocab AS (
              SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 32
            ), scored AS (
              SELECT tok.doc_id, -ln(COALESCE(v.c, 0.5) / tot.n) AS lp
              FROM tok LEFT JOIN vocab v ON tok.t = v.t CROSS JOIN tot
            ), agg AS (
              SELECT doc_id, SUM(lp) / COUNT(*) AS s FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(FLOOR(a.s * 10000.0 + 0.5) / 10000.0, 0.0) AS surprisal
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        # independent derivation: the oracle BUILDS each canonical form
        # from the generator components; Spark PARSES the noisy string —
        # query params always sort a-then-b, default ports/fragments/
        # trailing slash vanish, userinfo and :8080 survive
        "dedup_url_docs": """
            WITH u AS (
              SELECT doc_id, doc_id % 97 AS g FROM documents
            ), c AS (
              SELECT doc_id,
                (CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
                (CASE WHEN g % 17 = 0 THEN 'u' || CAST(g % 3 AS VARCHAR) || ':pW9@' ELSE '' END) ||
                'site' || CAST(g % 7 AS VARCHAR) || '.example.com' ||
                (CASE WHEN g % 11 = 0 THEN ':8080' ELSE '' END) ||
                (CASE WHEN g % 13 = 0 THEN '' ELSE '/p/' || CAST(g AS VARCHAR) END) ||
                '?a=' || CAST(g AS VARCHAR) || '&b=2' AS canon
              FROM u
            )
            SELECT canon AS canonical_url, MIN(doc_id) AS keeper_id,
                   COUNT(*) AS n_docs
            FROM c GROUP BY canon
        """,
        # simhash_docs, multimodal_features: murmur-based /
        # synthetic-media — intentionally no SQL oracle (driver records
        # rows-only checks).
    }
