"""The Arrow UDF boundary of the sketch modules: no ``pandas_udf`` in
them (and no pandas at all in the similarity and ANN passes),
``merge_agg`` a grouped-agg Arrow UDF, the scalar UDFs at their NULL/NaN
edges, and every merge path giving the same blobs."""

import ast
import hashlib
import pathlib
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.util import PythonEvalType

from phphll_spark import codec, fold, kernel
from phphll_spark import sketches as S
from phphll_spark.functions import sketch as H
from phphll_spark.plans import run_summary_pipeline
from phphll_spark.streaming import foreach_batch_summary_sink, read_sketch_table
from phphll_spark.sketches.kll import KLL
from phphll_spark.sketches.tdigest import TDigest


def _col(df, expr) -> list:
    return [r[0] for r in df.select(expr).collect()]


_PKG = pathlib.Path(__file__).resolve().parents[1] / "phphll_spark"


@pytest.mark.parametrize(
    "path",
    [_PKG / "fold.py", _PKG / "functions" / "sketch.py", *sorted((_PKG / "sketches").glob("*.py"))],
    ids=lambda p: str(p.relative_to(_PKG)),
)
def test_sketch_module_defines_no_pandas_udf(path):
    assert "pandas_udf" not in _names(ast.parse(path.read_text()))


@pytest.mark.parametrize(
    "path",
    [_PKG / "functions" / "similarity.py", _PKG / "operators" / "ann.py"],
    ids=lambda p: str(p.relative_to(_PKG)),
)
def test_arrow_pass_module_has_no_pandas(path):
    tree = ast.parse(path.read_text())
    modules = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    modules |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) and n.module}
    assert not {"pandas_udf", "mapInPandas"} & _names(tree)
    assert "pandas" not in {m.split(".")[0] for m in modules}


def _names(tree) -> set[str]:
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    return names


@pytest.mark.parametrize(
    "family",
    [H.HLLFamily(), S.CMSFamily(), S.BloomFamily(), S.ThetaFamily(), S.MGFamily(), S.ObjectFamily(S.KLL, 200, "kll")],
    ids=lambda f: f.name,
)
def test_merge_agg_is_a_grouped_agg_arrow_udf(family):
    assert fold.merge_agg(family).evalType == PythonEvalType.SQL_GROUPED_AGG_ARROW_UDF


def test_php_double_renders_null_and_nan_as_empty(spark):
    df = spark.createDataFrame(
        [(1.5,), (None,), (float("nan"),), (2.0,), (1e20,), (float("inf"),)], "x double"
    )
    assert _col(df, H.element_php_str("x", "double")) == ["1.5", "", "", "2", "1.0E+20", "INF"]


def test_hll_scalars_null_side(spark):
    src = spark.createDataFrame([(f"u{i}",) for i in range(100)], "item string")
    blob = bytes(H.hll_sketch(src, [], "item").collect()[0]["sketch"])
    df = spark.createDataFrame([(blob, None), (None, blob), (None, None)], "a binary, b binary")
    rows = df.select(
        H.hll_count_sketch("a").alias("n"),
        H.hll_merge_pair("a", "b").alias("m"),
        H.hll_promote_sketch("a").alias("p"),
        H.hll_encoding("a").alias("e"),
        H.hll_nonzero_registers("a").alias("z"),
    ).collect()
    info = codec.info(blob)
    assert [r["n"] for r in rows] == [kernel.estimate(codec.deserialize(blob).regs), 0, 0]
    assert [bytes(r["m"]) for r in rows] == [blob, blob, codec.serialize(kernel.empty_registers())]
    assert [r["p"] and bytes(r["p"]) for r in rows] == [codec.promote(blob), None, None]
    assert [r["e"] for r in rows] == [info["encoding"], None, None]
    assert [r["z"] for r in rows] == [info["nonzero_registers"], 0, 0]


def test_totals_and_theta_scalars_null_side(spark):
    src = spark.createDataFrame([(f"u{i % 40}",) for i in range(100)], "item string")
    cms = bytes(S.cms_sketch(src, [], "item").collect()[0]["cms"])
    mg = bytes(S.mg_sketch(src, [], "item").collect()[0]["mg"])
    theta = bytes(S.theta_sketch(src, [], "item").collect()[0]["theta"])
    df = spark.createDataFrame([(cms, mg, theta), (None, None, None)], "cms binary, mg binary, theta binary")
    rows = df.select(
        S.cms_total("cms").alias("cms_n"),
        S.mg_total("mg").alias("mg_n"),
        S.theta_estimate("theta").alias("est"),
        S.theta_retained("theta").alias("kept"),
        S.theta_is_exact("theta").alias("exact"),
    ).collect()
    assert [tuple(r) for r in rows] == [(100, 100, 40.0, 40, True), (0, 0, 0.0, 0, False)]


@pytest.mark.parametrize(
    "dtype, values",
    [
        ("long", [3, 1, 3, 7, 3, 1]),
        ("double", [0.5, 2.0, 2.0, 1e20, 0.5, 2.0]),
        ("boolean", [True, False, True, True]),
    ],
)
def test_mg_lookups_over_typed_items(spark, dtype, values):
    df = spark.createDataFrame([(v,) for v in values], f"item {dtype}")
    blob = bytes(S.mg_sketch(df, [], "item", 16).collect()[0]["mg"])
    truth = Counter(values)
    probe = spark.createDataFrame([(blob, v) for v in truth] + [(None, values[0])], f"mg binary, item {dtype}")
    assert _col(probe, S.mg_point_estimate("mg", "item")) == [*truth.values(), 0]
    blobs = spark.createDataFrame([(blob,), (None,)], "mg binary")
    assert _col(blobs, S.mg_entries(F.col("mg"))) == [{str(v): c for v, c in truth.items()}, {}]


def test_mg_point_estimate_long_item_beside_null(spark):
    """A NULL item in the batch leaves the long items' lookups intact."""
    df = spark.createDataFrame([(3,), (1,), (3,)], "item long")
    blob = bytes(S.mg_sketch(df, [], "item", 16).collect()[0]["mg"])
    probe = spark.createDataFrame([(blob, 3), (blob, None), (blob, 1)], "mg binary, item long")
    assert _col(probe, S.mg_point_estimate("mg", "item")) == [2, 0, 1]


_QUANTILES = {
    "kll": (S.kll_sketch, S.kll_quantile, KLL),
    "tdigest": (S.tdigest_sketch, S.tdigest_quantile, TDigest),
}


@pytest.mark.parametrize("name", list(_QUANTILES))
def test_quantile_of_null_blob_is_null(spark, name):
    sketch, quantile, cls = _QUANTILES[name]
    src = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    blob = bytes(sketch(src, [], "x").collect()[0][name])
    df = spark.createDataFrame([(blob, 0.5), (None, 0.5), (blob, 0.9)], "s binary, q double")
    want = cls.deserialize(blob)
    assert _col(df, quantile("s", "q")) == [want.quantile(0.5), None, want.quantile(0.9)]


@pytest.mark.parametrize("name", list(_QUANTILES))
def test_quantile_of_null_q_is_null(spark, name):
    sketch, quantile, cls = _QUANTILES[name]
    src = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    blob = bytes(sketch(src, [], "x").collect()[0][name])
    df = spark.createDataFrame(
        [(blob, 0.5), (blob, None), (None, None), (blob, float("nan"))], "s binary, q double"
    )
    assert _col(df, quantile("s", "q")) == [cls.deserialize(blob).quantile(0.5), None, None, None]


# family -> (*_sketch, *_partial_sketches); default parameters, as SQL registers them
_DIFFERENTIAL = {
    "hll": (H.HLLFamily(), H.hll_sketch, H.hll_partial_sketches),
    "cms": (S.CMSFamily(), S.cms_sketch, S.cms_partial_sketches),
    "bloom": (S.BloomFamily(), S.bloom_sketch, S.bloom_partial_sketches),
    "theta": (S.ThetaFamily(), S.theta_sketch, S.theta_partial_sketches),
}


@pytest.fixture(scope="module")
def diff_source(spark, tmp_path_factory):
    """1500 seeded rows, a string and an int key, each with NULLs, and NULL
    items: once as 4 parquet files, once as 3 one-file micro-batches."""

    def h(mod, seed):
        return F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(mod))

    root = tmp_path_factory.mktemp("diff")
    df = spark.range(0, 1500, 1, 4).select(
        F.when(F.col("id") % 17 == 0, None).otherwise(F.concat(F.lit("k"), h(3, 1).cast("string"))).alias("k1"),
        F.when(F.col("id") % 19 == 0, None).otherwise(h(2, 2).cast("int")).alias("k2"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.concat(F.lit("u"), h(400, 3).cast("string"))).alias("item"),
        (F.col("id") % 3).alias("batch"),
    )
    df.drop("batch").write.parquet(str(root / "src"))
    for b in range(3):
        df.filter(F.col("batch") == b).drop("batch").coalesce(1).write.parquet(str(root / "stream" / f"b{b}"))
    return str(root / "src"), str(root / "stream")


@pytest.mark.parametrize("name", list(_DIFFERENTIAL))
def test_every_merge_path_gives_the_same_blobs(spark, diff_source, tmp_path, name):
    """``*_sketch``, partials + SQL ``*_merge_agg``, a killed-and-resumed
    ``run_summary_pipeline`` and ``foreach_batch_summary_sink`` over three
    micro-batches merge to byte-identical sketches per group."""
    family, sketch, partials = _DIFFERENTIAL[name]
    keys, col = ["k1", "k2"], family.column
    src, stream_dir = diff_source
    df = spark.read.parquet(src)

    def blobs(frame) -> dict:
        return {(r["k1"], r["k2"]): hashlib.sha1(r[col]).hexdigest() for r in frame.collect()}

    want = blobs(sketch(df, keys, "item"))
    assert (None, None) in want and len(want) == 12

    H.register_sql_functions(spark)
    S.register_sketch_sql_functions(spark)
    partials(df, keys, "item").createOrReplaceTempView("diff_parts")
    assert blobs(spark.sql(f"SELECT k1, k2, {name}_merge_agg({col}) AS {col} FROM diff_parts GROUP BY k1, k2")) == want

    ck = str(tmp_path / "ck")
    first = run_summary_pipeline(spark, src, ck, key_cols=keys, value_col="item", family=family, fail_after_splits=2)
    resumed = run_summary_pipeline(spark, src, ck, key_cols=keys, value_col="item", family=family)
    assert (first.processed_splits, resumed.skipped_splits, resumed.processed_splits) == (2, 2, 2)
    assert blobs(resumed.results) == want

    table = str(tmp_path / "table")
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stream_dir}/*")
        .writeStream.foreachBatch(foreach_batch_summary_sink(keys, "item", table, family))
        .option("checkpointLocation", str(tmp_path / "stream_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(q.recentProgress) == 3
    assert blobs(read_sketch_table(spark, table)) == want
