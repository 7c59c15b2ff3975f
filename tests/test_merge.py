"""The partition-wise merge (``fold.merge``): one shuffle and one
``mapInArrow`` per merge, the HLL estimate taken inside it, NULL blobs,
wide keys, empty and streaming input."""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from phphll_spark import codec, fold, kernel
from phphll_spark.functions import hll_count_distinct, hll_global_distinct, hll_sketch
from phphll_spark.functions.sketch import HLLFamily
from phphll_spark.sketches import cms_sketch


def _nodes(df) -> list[str]:
    """Operator names of the physical plan, one per line of its tree."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in re.finditer(r"^[\s:|+\-]*(?:\*\(\d+\) )?(\w+)", plan, re.M)]


@pytest.fixture(scope="module")
def pages(spark):
    return spark.range(0, 4000, 1, 4).select(
        (F.col("id") % 5).cast("string").alias("lang"), (F.col("id") % 700).cast("string").alias("url")
    )


@pytest.mark.parametrize("call", [hll_count_distinct, cms_sketch], ids=["hll_count_distinct", "cms_sketch"])
def test_merge_plans_two_python_operators(pages, call):
    """A fold below the exchange and a merge above it, and nothing else
    in Python or a JVM sort."""
    nodes = _nodes(call(pages, ["lang"], "url"))
    assert nodes.count("MapInArrow") == 2, nodes
    assert nodes.index("MapInArrow") < nodes.index("Exchange"), nodes
    for absent in ("AggregateInPandas", "ArrowEvalPython", "Sort"):
        assert absent not in nodes, nodes


def test_merge_rejects_streaming_on_driver(spark, assert_no_job):
    """A streaming frame would be merged per micro-batch; refuse it."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
    stream = stream.select((F.col("value") % 3).alias("k"), F.col("value").cast("string").alias("v"))
    with assert_no_job():
        with pytest.raises(ValueError, match="streaming"):
            hll_count_distinct(stream, ["k"], "v")
        with pytest.raises(ValueError, match="streaming"):
            fold.merge(stream.select("k", F.lit(b"x").alias("sketch")), ["k"], HLLFamily())


def test_merge_all_null_group(spark):
    """NULL blobs are skipped; a group with only NULL blobs merges to NULL,
    and its fused estimate is 0, as hll_count_sketch gives for NULL."""
    regs = kernel.empty_registers()
    kernel.add_bytes(regs, *kernel.bytes_to_buffers([b"a", b"b"]))
    blob = codec.serialize(regs)
    partials = spark.createDataFrame(
        [("a", None), ("a", None), ("b", blob), ("b", None), ("b", blob)], "k string, sketch binary"
    )
    merged = {r["k"]: r["sketch"] for r in fold.merge(partials, ["k"], HLLFamily()).collect()}
    assert merged == {"a": None, "b": blob}
    finish = (StructField("n", LongType(), False), lambda r: 0 if r is None else kernel.estimate(r))
    counted = {r["k"]: r["n"] for r in fold.merge(partials, ["k"], HLLFamily(), finish).collect()}
    assert counted == {"a": 0, "b": 2}


def test_wide_keys_group_codes(spark):
    """Four row-unique keys in one 65,536-row Arrow batch: a mixed-radix
    code over them (65,536^4) overflows int64."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    try:
        df = spark.range(0, 65536, 1, 1).select(
            *[(F.col("id") * (i + 1)).alias(f"k{i}") for i in range(4)], F.col("id").cast("string").alias("v")
        )
        keys = [f"k{i}" for i in range(4)]
        sk = hll_sketch(df, keys, "v")
        assert sk.count() == 65536
        assert sk.filter((F.col("k1") != 2 * F.col("k0")) | (F.col("k3") != 4 * F.col("k0"))).count() == 0
        n = hll_count_distinct(df, keys, "v").agg(F.sum("approx_distinct"), F.max("approx_distinct")).first()
        assert tuple(n) == (65536, 1)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_global_distinct_empty_input(spark, pages):
    """No rows: one global row, a NULL sketch and an estimate of 0."""
    empty = pages.filter(F.col("lang") == "none")
    assert hll_global_distinct(empty, "url") == 0
    assert [r["sketch"] for r in hll_sketch(empty, [], "url").collect()] == [None]
