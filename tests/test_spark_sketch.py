"""Distributed sketch aggregation: the Spark UDAF surface must agree exactly
(register-identical) with the local HLL class on the same data, under any
partitioning — the north-star merge-associativity requirement."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from phphll_spark import codec, kernel
from phphll_spark.functions import (
    hll_count_distinct,
    hll_count_sketch,
    hll_encoding,
    hll_global_distinct,
    hll_merge_pair,
    hll_partial_sketches,
    hll_promote_sketch,
    hll_sketch,
    register_sql_functions,
)
from phphll_spark.hll import HLL


@pytest.fixture(scope="module")
def pages(spark):
    rows = [(f"https://h{i % 7}.example/p{i % 400}", ["en", "de", "fr"][i % 3]) for i in range(2000)]
    return spark.createDataFrame(rows, "url string, lang string")


def _local_truth(rows, key_idx, val_idx):
    groups = {}
    for r in rows:
        groups.setdefault(r[key_idx], HLL()).add(r[val_idx])
    return {k: h.count() for k, h in groups.items()}


def test_sketch_matches_local_hll_registers(spark, pages):
    """Distributed sketch == serial local sketch, register for register."""
    got = {r["lang"]: r["sketch"] for r in hll_sketch(pages, ["lang"], "url").collect()}
    rows = [(r["url"], r["lang"]) for r in pages.collect()]
    for lang in ("en", "de", "fr"):
        h = HLL()
        h.add([u for u, l in rows if l == lang])
        dist = codec.deserialize(bytes(got[lang])).regs
        assert (dist == h.regs).all(), lang


def test_count_distinct_matches_local(spark, pages):
    got = {r["lang"]: r["approx_distinct"] for r in hll_count_distinct(pages, ["lang"], "url").collect()}
    rows = [(r["lang"], r["url"]) for r in pages.collect()]
    want = _local_truth(rows, 0, 1)
    assert got == want


def test_partitioning_invariance(spark, pages):
    """Same estimates whatever the physical partitioning (assoc+comm merge)."""
    base = {r["lang"]: r["approx_distinct"] for r in hll_count_distinct(pages, ["lang"], "url").collect()}
    for reshaped in (pages.repartition(1), pages.repartition(17, "url"), pages.coalesce(2)):
        got = {r["lang"]: r["approx_distinct"] for r in hll_count_distinct(reshaped, ["lang"], "url").collect()}
        assert got == base


def test_global_distinct(spark, pages):
    est = hll_global_distinct(pages, "url")
    h = HLL()
    h.add([r["url"] for r in pages.collect()])
    # gcd(7,400)=1 → all 2000 (host,path) combos are distinct urls
    assert est == h.count() == 2000


def test_partials_shuffle_only_sketch_bytes(spark, pages):
    """The map-side combine emits at most (partitions x groups) tiny rows."""
    parts = hll_partial_sketches(pages.repartition(4), ["lang"], "url")
    rows = parts.collect()
    assert len(rows) <= 4 * 3
    assert all(len(bytes(r["sketch"])) <= codec.HDR_SIZE + codec.dense_size(14) for r in rows)


def test_null_values_ignored(spark):
    df = spark.createDataFrame(
        [("en", "a"), ("en", None), ("de", None)], "lang string, url string"
    )
    got = {r["lang"]: r["approx_distinct"] for r in hll_count_distinct(df, ["lang"], "url").collect()}
    assert got == {"en": 1, "de": 0}


def test_multi_key_and_timestamp_groups(spark):
    import datetime

    rows = [
        (datetime.datetime(2024, 9, 1 + i % 3), ["en", "de"][i % 2], f"u{i % 50}")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "day timestamp, lang string, url string")
    got = hll_count_distinct(df, ["day", "lang"], "url").collect()
    truth = _local_truth([((r[0], r[1]), r[2]) for r in rows], 0, 1)
    assert {(r["day"], r["lang"]): r["approx_distinct"] for r in got} == truth


def test_sql_surface(spark, pages):
    register_sql_functions(spark)
    pages.createOrReplaceTempView("pages_v")
    got = {
        r["lang"]: r["n"]
        for r in spark.sql(
            "SELECT lang, hll_count(hll_sketch_agg(url)) AS n FROM pages_v GROUP BY lang"
        ).collect()
    }
    rows = [(r["lang"], r["url"]) for r in pages.collect()]
    assert got == _local_truth(rows, 0, 1)
    # two-level: partial sketches re-aggregated in SQL via hll_merge_agg
    hll_partial_sketches(pages, ["lang"], "url").createOrReplaceTempView("partials_v")
    got2 = {
        r["lang"]: r["n"]
        for r in spark.sql(
            "SELECT lang, hll_count(hll_merge_agg(sketch)) AS n FROM partials_v GROUP BY lang"
        ).collect()
    }
    assert got2 == got


def test_scalar_udfs(spark, pages):
    sk = hll_sketch(pages, ["lang"], "url")
    two = sk.limit(2).select("sketch").collect()
    df = spark.createDataFrame([(bytes(two[0]["sketch"]), bytes(two[1]["sketch"]))], "a binary, b binary")
    row = df.select(
        hll_count_sketch(hll_merge_pair("a", "b")).alias("n"),
        hll_encoding(hll_promote_sketch("a")).alias("enc"),
        hll_encoding("a").alias("enc_orig"),
    ).collect()[0]
    ra = codec.deserialize(bytes(two[0]["sketch"])).regs
    rb = codec.deserialize(bytes(two[1]["sketch"])).regs
    assert row["n"] == kernel.estimate(kernel.merge_registers(ra, rb))
    assert row["enc"] == "dense"


def test_int_column_elements(spark):
    """Non-string columns hash via their decimal rendering (element_str)."""
    df = spark.createDataFrame([(i % 123,) for i in range(1000)], "v int")
    from phphll_spark.functions import element_str

    est = hll_global_distinct(df.select(element_str("v").alias("v")), "v")
    assert est == 123
    # and the values agree with local coercion: int 100 ≡ "100"
    h = HLL()
    h.add([str(i % 123) for i in range(1000)])
    assert est == h.count()


def test_partial_sketches_sparse_accumulator_equivalence(spark):
    """Grouped partial sketches (sparse in-flight accumulator) must produce
    byte-identical serialized sketches to single-machine dense folding, for
    both tiny groups (stay sparse) and a large group (promotes in-flight)."""
    import numpy as np

    from phphll_spark import codec, kernel
    from phphll_spark.functions import hll_count_distinct
    from phphll_spark.functions.sketch import _SPARSE_PROMOTE_ENTRIES, hll_partial_sketches

    rows = []
    for g in range(40):  # tiny groups: a handful of registers each
        for i in range(5):
            rows.append((f"g{g}", f"v{g}_{i}"))
    big_n = _SPARSE_PROMOTE_ENTRIES * 3  # forces in-flight promotion
    rows += [("big", f"x{i}") for i in range(big_n)]
    df = spark.createDataFrame(rows, "k string, v string").coalesce(1)

    got = {
        r["k"]: bytes(r["sketch"]) for r in hll_partial_sketches(df, ["k"], "v").collect()
    }
    # reference: dense accumulation per group
    by_group: dict = {}
    for k, v in rows:
        by_group.setdefault(k, []).append(v.encode())
    for k, vals in by_group.items():
        regs = kernel.empty_registers()
        data, offsets = kernel.bytes_to_buffers(vals)
        kernel.add_bytes(regs, data, offsets)
        assert got[k] == codec.serialize(regs), k
    # and the end-to-end estimate is exact at these cardinalities
    est = {r["k"]: r["n"] for r in hll_count_distinct(df, ["k"], "v", alias="n").collect()}
    assert all(est[f"g{g}"] == 5 for g in range(40))


def test_partial_sketches_multi_matches_separate_folds(spark):
    """The fused multi-column fold must produce the same merged estimates
    as three separate single-column pipelines, and its sums must be
    exact."""
    from pyspark.sql import functions as F

    from phphll_spark.functions import hll_count_distinct
    from phphll_spark.functions.sketch import (
        hll_count_sketch,
        hll_partial_sketches_multi,
        make_hll_merge_agg,
    )

    df = spark.range(10_000).select(
        F.col("id").cast("string").alias("a"),
        F.when(F.col("id") % 3 == 0, F.col("id").cast("string")).alias("b"),
        (F.col("id") % 2).alias("flag"),
    )
    partials = hll_partial_sketches_multi(df, ["a", "b"], sum_cols=("flag",))
    merge = make_hll_merge_agg()
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    # one aggregation takes grouped-agg UDFs of one eval type only
    @arrow_udf("long")
    def _sum_long(v: pa.Array) -> int:
        return pa.compute.sum(v).as_py()

    row = (
        partials.agg(
            merge(F.col("sketch_a")).alias("sa"),
            merge(F.col("sketch_b")).alias("sb"),
            _sum_long(F.col("sum_flag")).alias("nf"),
        )
        .select(
            hll_count_sketch(F.col("sa")).alias("ea"),
            hll_count_sketch(F.col("sb")).alias("eb"),
            "nf",
        )
        .collect()[0]
    )
    ea = hll_count_distinct(df, [], "a").collect()[0][0]
    eb = hll_count_distinct(df.filter(F.col("b").isNotNull()), [], "b").collect()[0][0]
    assert row["ea"] == ea  # NULL-skipping fused fold == separate folds
    assert row["eb"] == eb
    assert row["nf"] == 5_000


def test_partial_sketches_multi_rejects_theta_col_outside_value_cols(spark, assert_no_job):
    from phphll_spark.functions.sketch import hll_partial_sketches_multi

    df = spark.createDataFrame([("a", "b")], "a string, b string")
    with assert_no_job(), pytest.raises(ValueError, match="theta_cols"):
        hll_partial_sketches_multi(df, ["a"], theta_cols=("b",))
