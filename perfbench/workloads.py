"""The benchmark workloads: what each one materialises, the one library
call it times, and how it checks every answer. Also the near-dup documents
and the six-family sketch pass, which only traced runs probe and check.

Sizes are fixed here and recorded in BENCHMARK.json with the scan-task
count: one warm call takes seconds on a 4-core box while a whole run,
three Spark set-ups included, stays near a minute.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from data import (
    Dataset,
    exact_distinct,
    gen_documents,
    gen_pages,
    group_truth,
    item_counts,
    jaccard,
    planted_truth,
    word_shingles,
)

TASKS = 4  # scan tasks = parquet files, one per core of the 4-core reference box
HLL_SIGMAS = 6.0  # every group's estimate within 6 standard errors (+3 absolute, for tiny groups)


def hll_group_errors(est: dict, exact: dict, p: int) -> tuple[bool, float]:
    """(every group within bound, mean |est - exact| / exact)."""
    from phphll_spark.kernel import relative_error_bound

    if set(est) != set(exact):
        return False, float("nan")
    slack = HLL_SIGMAS * relative_error_bound(p)
    ok = all(abs(est[g] - n) <= slack * n + 3 for g, n in exact.items())
    return ok, float(np.mean([abs(est[g] - n) / max(n, 1) for g, n in exact.items()]))


def cms_errors(blob: bytes, items: dict[str, int], n: int, width: int) -> tuple[bool, int]:
    """(no sampled item is undercounted, how many sampled items are over
    exact + (e / width) * n) for one serialized count-min sketch."""
    from phphll_spark import kernel
    from phphll_spark.sketches.cms import cms_deserialize, cms_query

    keys = sorted(items)
    data, offsets = kernel.bytes_to_buffers([k.encode() for k in keys])
    exact = np.array([items[k] for k in keys], dtype=np.int64)
    est = cms_query(cms_deserialize(blob), data, offsets)
    return bool(np.all(est >= exact)), int(np.count_nonzero(est > exact + math.e / width * n))


class Workload:
    name = ""
    rows = 0
    scan_cols: list[str] = []  # the projection the timed call scans
    value_col = ""  # the column whose values the kernel probes hash

    def materialise(self, spark: SparkSession, work: str, seed: int) -> Dataset:
        raise NotImplementedError

    def call(self, ds: Dataset):
        """The one timed library call, with its result collected."""
        raise NotImplementedError

    def check(self, ds: Dataset, result) -> tuple[bool, dict]:
        """(answer correct, quality figures for the run record)."""
        raise NotImplementedError

    def reload(self, spark: SparkSession, ds: Dataset) -> None:
        ds.df = spark.read.parquet(ds.path)


class PagesTextLang(Workload):
    name = "pages_text_lang"
    rows = 200_000
    n_hosts = 1000
    keys = ["lang"]
    value_col = "text"
    scan_cols = ["lang", "text"]
    p = 14

    def materialise(self, spark, work, seed):
        path = os.path.join(work, "pages")
        gen_pages(spark, path, self.rows, TASKS, seed, self.n_hosts)
        df = spark.read.parquet(path)
        return Dataset(df, path, self.rows, {"exact": exact_distinct(path, self.keys, self.value_col)})

    def call(self, ds):
        from phphll_spark.functions import hll_count_distinct

        out = hll_count_distinct(ds.df, self.keys, self.value_col, self.p).collect()
        return {tuple(r[k] for k in self.keys): int(r["approx_distinct"]) for r in out}

    def check(self, ds, result):
        ok, err = hll_group_errors(result, ds.truth["exact"], self.p)
        return ok, {"rel_err": err}


class PagesCmsUrl(Workload):
    """The same pages through a pandas-path sketch fold (``mapInPandas``,
    where the HLL fold is ``mapInArrow``): a count-min sketch of urls per
    lang."""

    name = "pages_cms_url"
    rows = 200_000
    n_hosts = 1000
    keys = ["lang"]
    value_col = "url"
    scan_cols = ["lang", "url"]
    depth, width = 4, 2048

    def materialise(self, spark, work, seed):
        path = os.path.join(work, "pages")
        gen_pages(spark, path, self.rows, TASKS, seed, self.n_hosts)
        df = spark.read.parquet(path)
        return Dataset(df, path, self.rows, item_counts(path, self.keys, self.value_col, 10, seed))

    def call(self, ds):
        from phphll_spark.sketches import cms_sketch

        out = cms_sketch(ds.df, self.keys, self.value_col, self.depth, self.width).collect()
        return {tuple(r[k] for k in self.keys): bytes(r["cms"]) for r in out}

    def check(self, ds, result):
        """No sampled url undercounted in any group; at most an e^-depth
        share of them over exact + (e / width) * N, the share the per-query
        bound allows."""
        if set(result) != set(ds.truth):
            return False, {}
        over = queries = 0
        for g, t in ds.truth.items():
            ok, g_over = cms_errors(result[g], t["items"], t["n"], self.width)
            if not ok:
                return False, {}
            over += g_over
            queries += len(t["items"])
        return over <= math.exp(-self.depth) * queries, {"cms_over_frac": over / queries}


class NearDupDocs(Workload):
    """Word-shingle near-dup detection over documents with planted
    clusters. Not a timed workload (its calls are 21 Spark stages each, and
    their cost moved 15-25% between runs of the same code); the traced
    ``pages_cms_url`` run times it and probes its layers."""

    name = "near_dup_docs"
    rows = 3_000
    value_col = "text"
    scan_cols = ["doc_id", "text"]
    threshold = 0.8
    shingle_k = 5
    max_bucket_size = 100
    min_recall = 0.95

    def materialise(self, spark, work, seed):
        path = os.path.join(work, "docs")
        ids, kinds, texts = gen_documents(path, self.rows, TASKS, seed)
        df = spark.read.parquet(path)
        return Dataset(df, path, self.rows, planted_truth(ids, kinds, texts, self.shingle_k, self.threshold))

    def call(self, ds):
        from phphll_spark.operators import dedup_minhash, release_cached

        out = dedup_minhash(
            ds.df, "doc_id", "text",
            threshold=self.threshold, shingle_k=self.shingle_k,
            shingle_unit="word", max_bucket_size=self.max_bucket_size,
        ).collect()
        release_cached(ds.df.sparkSession)
        return [(int(r["id_a"]), int(r["id_b"])) for r in out]

    def check(self, ds, result):
        pairs = set(result)
        sh = ds.truth["shingles"]
        missing = {i for p in pairs for i in p if i not in sh}
        if missing:  # pairs outside the planted clusters: fetch their texts to verify them too
            rows = ds.df.filter(F.col("doc_id").isin(sorted(missing))).select("doc_id", "text").collect()
            sh = {**sh, **{r["doc_id"]: word_shingles(r["text"], self.shingle_k) for r in rows}}
        # the library rounds the Jaccard to 4 places before comparing
        precise = len(pairs) == len(result) and all(
            a < b and jaccard(sh[a], sh[b]) >= self.threshold - 5e-5 for a, b in pairs
        )
        truth = ds.truth["pairs"]
        recall = len(pairs & truth) / len(truth) if truth else 1.0
        return precise and recall >= self.min_recall, {"recall": recall, "pairs": len(pairs)}


WORKLOADS = {w.name: w for w in (PagesTextLang(), PagesCmsUrl())}

FAMILIES = ["cms", "bloom", "kll", "tdigest", "theta", "mg"]


class SketchFamilies:
    """The six ``sketches/`` families over one frame, grouped by ``keys``:
    cms, bloom, theta and mg summarise ``item_col``, kll and tdigest the
    numeric ``value_col``. Each family's output column is named after it."""

    cms_depth, cms_width = 4, 2048
    kll_k, tdigest_delta, theta_k, mg_k = 200, 200, 4096, 256
    # normalized rank error budget of 4/k: KLL's 99% bound is ~1.7/k, and a
    # merged t-digest on tied values can land a few centroid weights off
    kll_rank_err, tdigest_rank_err = 4 / kll_k, 4 / tdigest_delta
    theta_sigmas = 6.0
    quantiles = (0.1, 0.25, 0.5, 0.75, 0.9)

    def __init__(self, keys: list[str], item_col: str, value_col: str) -> None:
        self.keys, self.item_col, self.value_col = keys, item_col, value_col

    def truth(self, df: DataFrame, seed: int) -> dict:
        return group_truth(df, self.keys, self.item_col, self.value_col, 10, seed)

    def call(self, df: DataFrame, fam: str) -> dict[tuple, bytes]:
        from phphll_spark import sketches as S

        k, item, val = self.keys, self.item_col, self.value_col
        out = {
            "cms": lambda: S.cms_sketch(df, k, item, self.cms_depth, self.cms_width),
            "bloom": lambda: S.bloom_sketch(df, k, item),
            "kll": lambda: S.kll_sketch(df, k, val, self.kll_k),
            "tdigest": lambda: S.tdigest_sketch(df, k, val, self.tdigest_delta),
            "theta": lambda: S.theta_sketch(df, k, item, self.theta_k),
            "mg": lambda: S.mg_sketch(df, k, item, self.mg_k),
        }[fam]()
        return {tuple(r[c] for c in k): bytes(r[fam]) for r in out.collect()}

    def check(self, result: dict[str, dict], truth: dict) -> bool:
        """Every family's answer for every group, against exact answers.
        The CMS bound est <= exact + (e / width) * N holds per query with
        probability 1 - e^-depth, so at most that share of all queries may
        exceed it; none may undercount."""
        if any(set(result[f]) != set(truth) for f in FAMILIES):
            return False
        over = queries = 0
        for g, t in truth.items():
            ok, g_over = self._check_group(result, g, t)
            if not ok:
                return False
            over += g_over
            queries += len(t["items"])
        return over <= math.exp(-self.cms_depth) * queries

    def _check_group(self, result, g, t) -> tuple[bool, int]:
        """(every other check passed, CMS queries over their bound)."""
        from phphll_spark import kernel
        from phphll_spark.sketches.bloom import bloom_contains, bloom_deserialize
        from phphll_spark.sketches.heavyhitters import mg_deserialize
        from phphll_spark.sketches.kll import KLL
        from phphll_spark.sketches.tdigest import TDigest
        from phphll_spark.sketches.theta import theta_deserialize, theta_estimate_state

        n, items = t["n"], t["items"]
        keys = sorted(items)
        data, offsets = kernel.bytes_to_buffers([k.encode() for k in keys])
        exact = np.array([items[k] for k in keys], dtype=np.int64)
        # CMS: never below exact; queries over exact + (e / width) * N are counted
        ok, over = cms_errors(result["cms"][g], items, n, self.cms_width)
        if not ok:
            return False, 0
        # Bloom: no false negatives on sampled members
        words, k = bloom_deserialize(result["bloom"][g])
        if not bool(np.all(bloom_contains(words, data, offsets, k))):
            return False, 0
        # KLL and t-digest: normalized rank error of each estimated quantile
        vals = t["vals"]
        for sk, tol in (
            (KLL.deserialize(result["kll"][g]), self.kll_rank_err),
            (TDigest.deserialize(result["tdigest"][g]), self.tdigest_rank_err),
        ):
            for q in self.quantiles:
                v = sk.quantile(q)
                lo = np.searchsorted(vals, v, "left") / n
                hi = np.searchsorted(vals, v, "right") / n
                if not (lo - tol <= q <= hi + tol):
                    return False, 0
        # Theta: estimate within its standard error bound
        entries, theta, tk = theta_deserialize(result["theta"][g])
        rse = 1.0 / math.sqrt(max(tk - 1, 1))
        if abs(theta_estimate_state(entries, theta) - t["distinct"]) > self.theta_sigmas * rse * t["distinct"] + 1:
            return False, 0
        # Misra-Gries: never over, undercount at most N / (k + 1)
        counts, mg_n, mk = mg_deserialize(result["mg"][g])
        if mg_n != n:
            return False, 0
        mg_est = np.array([counts.get(kk.encode(), 0) for kk in keys], dtype=np.int64)
        return bool(np.all(mg_est <= exact) and np.all(exact - mg_est <= n / (mk + 1))), over
