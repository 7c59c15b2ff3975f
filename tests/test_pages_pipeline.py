"""Pages generator determinism + resumable checkpoint/lineage pipeline."""

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from phphll_spark.hll import HLL
from phphll_spark.plans import lineage_table, run_sketch_pipeline
from phphll_spark.sources.pages import (
    exact_distinct_urls,
    extract_text_oracle,
    generate_pages,
    generate_pages_parquet,
)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    generate_pages_parquet(spark, path, 20_000, n_files=8, n_hosts=200)
    return path


def test_generation_deterministic_and_partition_invariant(spark):
    a = generate_pages(spark, 2000, partitions=2).orderBy("row_id").collect()
    b = generate_pages(spark, 2000, partitions=7).orderBy("row_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_text_byte_identical_per_url(spark, pages_path):
    """The per-row invariant vs the serial oracle (FIXTURES.md §1)."""
    sample = spark.read.parquet(pages_path).limit(200).collect()
    for r in sample:
        assert r["text"] == extract_text_oracle(r["url"]), r["url"]
    # same url ⇒ same text across duplicate rows
    df = spark.read.parquet(pages_path)
    assert df.select("url", "text").distinct().count() == df.select("url").distinct().count()


def test_dup_fraction_and_truth(spark, pages_path):
    df = spark.read.parquet(pages_path)
    n = df.count()
    distinct = df.select("url").distinct().count()
    assert n == 20_000
    assert distinct == exact_distinct_urls(20_000)
    assert 0.85 < distinct / n < 0.95  # ~10% dups


def test_host_skew_exists(spark, pages_path):
    top = (
        spark.read.parquet(pages_path)
        .groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"))
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["count"] > 20_000 * 0.05  # skewed head host


def test_html_binary_safe(spark, pages_path):
    r = spark.read.parquet(pages_path).select("html").first()
    assert b"\x00" in bytes(r["html"])


def test_pipeline_full_run_matches_local(spark, pages_path, tmp_path):
    ck = str(tmp_path / "ck_full")
    res = run_sketch_pipeline(
        spark, pages_path, ck, key_cols=["lang"], value_col="url"
    )
    assert res.processed_splits == 8 and res.skipped_splits == 0
    got = {r["lang"]: r["approx_distinct"] for r in res.results.collect()}
    rows = spark.read.parquet(pages_path).select("lang", "url").collect()
    local = {}
    for r in rows:
        local.setdefault(r["lang"], HLL()).add(r["url"])
    assert got == {k: h.count() for k, h in local.items()}


# SHA-1 over the sorted "split|lang|sha1(sketch)|row_count" lines of the
# checkpointed partials of one run_sketch_pipeline over pages_path by
# lang; a split is its file name up to the write uuid ("part-00003")
PIPELINE_PARTIALS_SHA1 = "1eb14f79ff2657b233cebcb78eece61d12728bc2"


def test_pipeline_partials_pinned(spark, pages_path, tmp_path):
    ck = str(tmp_path / "ck_pinned")
    run_sketch_pipeline(spark, pages_path, ck, key_cols=["lang"], value_col="url")
    lines = [
        "|".join(
            (
                "-".join(os.path.basename(r["split_id"]).split("-")[:2]),
                str(r["lang"]),
                hashlib.sha1(bytes(r["sketch"])).hexdigest(),
                str(r["row_count"]),
            )
        )
        for r in lineage_table(spark, ck).collect()
    ]
    assert len(lines) == 8 * 5  # 8 splits x 5 langs
    assert hashlib.sha1("\n".join(sorted(lines)).encode()).hexdigest() == PIPELINE_PARTIALS_SHA1


def test_pipeline_kill_and_resume_without_rehash(spark, pages_path, tmp_path):
    """Kill mid-scan (3 of 8 splits), resume, verify: no split re-hashed,
    final result identical to the uninterrupted run."""
    ck = str(tmp_path / "ck_resume")
    first = run_sketch_pipeline(
        spark, pages_path, ck, key_cols=["lang"], value_col="url", fail_after_splits=3
    )
    assert first.processed_splits == 3
    second = run_sketch_pipeline(spark, pages_path, ck, key_cols=["lang"], value_col="url")
    assert second.processed_splits == 5  # only the missing splits
    assert second.skipped_splits == 3
    third = run_sketch_pipeline(spark, pages_path, ck, key_cols=["lang"], value_col="url")
    assert third.processed_splits == 0  # fully resumed: nothing to do
    # lineage covers every split exactly once
    lt = lineage_table(spark, ck)
    per_split = lt.groupBy("split_id").agg(F.sum("row_count").alias("rows")).collect()
    assert len(per_split) == 8
    assert sum(r["rows"] for r in per_split) == 20_000
    # resumed estimates == clean-run estimates
    ck2 = str(tmp_path / "ck_clean")
    clean = run_sketch_pipeline(spark, pages_path, ck2, key_cols=["lang"], value_col="url")
    a = {r["lang"]: r["approx_distinct"] for r in second.results.collect()}
    b = {r["lang"]: r["approx_distinct"] for r in clean.results.collect()}
    assert a == b


def test_pipeline_salted_equals_unsalted(spark, pages_path, tmp_path):
    """Skew salting must not change results (merge grouping-independence)."""
    ck = str(tmp_path / "ck_salt")
    salted = run_sketch_pipeline(
        spark, pages_path, ck, key_cols=["lang"], value_col="url", salt_partitions=13
    )
    ck2 = str(tmp_path / "ck_nosalt")
    plain = run_sketch_pipeline(spark, pages_path, ck2, key_cols=["lang"], value_col="url")
    a = {r["lang"]: r["approx_distinct"] for r in salted.results.collect()}
    b = {r["lang"]: r["approx_distinct"] for r in plain.results.collect()}
    assert a == b


def test_summary_pipeline_kill_resume_cms_and_mg(spark, tmp_path):
    """The generic resumable pipeline works for the non-HLL families:
    kill after half the splits, resume, and the final CMS point estimates
    and MG counts equal a single uninterrupted run's."""
    from phphll_spark.plans import run_summary_pipeline
    from phphll_spark.sketches import CMSFamily, MGFamily, cms_point_estimate, mg_entries
    from pyspark.sql import functions as F

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(f"u{i % 37}",) for i in range(4000)], "uid string"
    ).repartition(8).write.mode("overwrite").parquet(src)

    def run(ck, fail=None, family="cms"):
        return run_summary_pipeline(
            spark, src, ck,
            key_cols=[],
            value_col="uid",
            family=CMSFamily(depth=4, width=1024) if family == "cms" else MGFamily(k=64),
            fail_after_splits=fail,
        )

    for family, probe in (("cms", True), ("mg", False)):
        ck_once = str(tmp_path / f"{family}_once")
        ck_resumed = str(tmp_path / f"{family}_res")
        once = run(ck_once, family=family)
        first = run(ck_resumed, fail=4, family=family)
        assert first.processed_splits == 4
        second = run(ck_resumed, family=family)
        assert second.skipped_splits == 4 and second.processed_splits >= 1
        if family == "cms":
            got = lambda r: r.results.select(
                cms_point_estimate(F.col("cms"), F.lit("u3")).alias("e")
            ).collect()[0]["e"]
            assert got(once) == got(second)
        else:
            ent = lambda r: {
                x["k"]: x["n"]
                for x in r.results.select(F.explode(mg_entries(F.col("mg"))).alias("k", "n")).collect()
            }
            assert ent(once) == ent(second)  # exact regime: 37 distinct < 64


def test_summary_pipeline_kill_resume_theta(spark, tmp_path):
    """Theta joins the resumable family: kill after half the splits,
    resume, and the final sketch BYTES equal a single uninterrupted
    run's (theta merges are bit-exact, so the whole pipeline is)."""
    from pyspark.sql import functions as F

    from phphll_spark.plans import run_summary_pipeline
    from phphll_spark.sketches import ThetaFamily, theta_estimate

    src = str(tmp_path / "ev_theta")
    spark.createDataFrame(
        [(f"u{i % 211}",) for i in range(4000)], "uid string"
    ).repartition(8).write.mode("overwrite").parquet(src)

    def run(ck, fail=None):
        return run_summary_pipeline(
            spark, src, ck,
            key_cols=[],
            value_col="uid",
            family=ThetaFamily(k=128),
            fail_after_splits=fail,
        )

    once = run(str(tmp_path / "th_once"))
    first = run(str(tmp_path / "th_res"), fail=4)
    assert first.processed_splits == 4
    second = run(str(tmp_path / "th_res"))
    assert second.skipped_splits == 4 and second.processed_splits >= 1
    blob = lambda r: bytes(r.results.collect()[0]["theta"])
    assert blob(once) == blob(second)
    # 211 distinct > k=128: estimation regime, estimate within 6/sqrt(k-1)
    est = once.results.select(theta_estimate(F.col("theta")).alias("e")).collect()[0]["e"]
    assert abs(est - 211) <= 6 / (127 ** 0.5) * 211


@pytest.fixture(scope="module")
def keyed_events_path(spark, tmp_path_factory):
    """4000 rows in 8 parquet files: a key with NULLs and a value with NULLs."""
    path = str(tmp_path_factory.mktemp("keyed") / "src")
    spark.createDataFrame(
        [(f"k{i % 3}" if i % 17 else None, None if i % 5 == 0 else f"u{i % 37}") for i in range(4000)],
        "k string, uid string",
    ).repartition(8).write.parquet(path)
    return path


def _cms_run(spark, src, ck, fail=None):
    from phphll_spark.plans import run_summary_pipeline
    from phphll_spark.sketches import CMSFamily

    return run_summary_pipeline(
        spark, src, ck, key_cols=["k"], value_col="uid", family=CMSFamily(depth=4, width=256), fail_after_splits=fail
    )


def test_summary_pipeline_cms_lineage_after_kill_and_resume(spark, keyed_events_path, tmp_path):
    """A CMS checkpoint carries the FIXTURES.md §5 lineage: after a kill and
    a resume every split is listed, row_count sums to the input rows with
    NULL-value rows included, and register_checksum is the sha1 of the
    checkpointed partial."""
    ck = str(tmp_path / "ck")
    assert _cms_run(spark, keyed_events_path, ck, fail=3).processed_splits == 3
    assert _cms_run(spark, keyed_events_path, ck).processed_splits == 5
    rows = lineage_table(spark, ck).collect()
    name = lambda path: os.path.basename(path)
    assert {name(r["split_id"]) for r in rows} == {
        name(s) for s in spark.read.parquet(keyed_events_path).inputFiles()
    }
    assert sum(r["row_count"] for r in rows) == 4000
    assert all(r["register_checksum"] == hashlib.sha1(bytes(r["cms"])).hexdigest() for r in rows)
    assert all(r["wall_time_s"] >= 0 for r in rows)


def test_lineage_rows_carry_the_run_that_folded_their_split(spark, keyed_events_path, tmp_path):
    """After a kill and a resume the lineage rows name exactly the
    manifest's two runs: the first 3 splits (sorted) by the killed run and
    the other 5 by the resuming one."""
    import json

    ck = str(tmp_path / "ck")
    first = _cms_run(spark, keyed_events_path, ck, fail=3)
    second = _cms_run(spark, keyed_events_path, ck)
    with open(os.path.join(ck, "manifest.json")) as f:
        assert [r["run_id"] for r in json.load(f)["runs"]] == [first.run_id, second.run_id]
    name = lambda path: os.path.basename(path)
    splits = sorted(spark.read.parquet(keyed_events_path).inputFiles())
    want = {name(s): first.run_id if i < 3 else second.run_id for i, s in enumerate(splits)}
    got = {(name(r["split_id"]), r["run_id"]) for r in lineage_table(spark, ck).collect()}
    assert got == set(want.items())


def test_summary_pipeline_resumes_a_checkpoint_without_lineage(spark, keyed_events_path, tmp_path):
    """A checkpoint whose partial files hold only ``keys..., <column>`` (the
    format written before summary partials carried lineage) still resumes
    and merges to the sketches of an uninterrupted run."""
    import json

    from phphll_spark.fold import partial_sketches
    from phphll_spark.sketches import CMSFamily

    ck = str(tmp_path / "ck_old")
    os.makedirs(ck)
    done = sorted(spark.read.parquet(keyed_events_path).inputFiles())[:3]
    # sorts before every run's partials-<hex>.parquet, so a read that took
    # the first file's schema would hide the later files' lineage columns
    old = os.path.join(ck, "partials-0.parquet")
    partial_sketches(spark.read.parquet(*done), ["k"], "uid", CMSFamily(depth=4, width=256)).write.parquet(old)
    assert spark.read.parquet(old).columns == ["k", "cms"]
    with open(os.path.join(ck, "manifest.json"), "w") as f:
        json.dump({"completed_splits": done, "partial_files": [old], "runs": [{"run_id": "old", "splits": 3, "ts": 0}]}, f)

    resumed = _cms_run(spark, keyed_events_path, ck)
    assert (resumed.skipped_splits, resumed.processed_splits) == (3, 5)
    clean = _cms_run(spark, keyed_events_path, str(tmp_path / "ck_clean"))
    blobs = lambda res: {r["k"]: bytes(r["cms"]) for r in res.results.collect()}
    assert blobs(resumed) == blobs(clean) and len(blobs(clean)) == 4
    # lineage_table merges the files' schemas: the old file's rows have no run
    assert {r["run_id"] for r in lineage_table(spark, ck).collect()} == {None, resumed.run_id}


@pytest.fixture(scope="module")
def typed_keys_path(spark, tmp_path_factory):
    """600 rows in 6 parquet files keyed by an int and a date column."""
    path = str(tmp_path_factory.mktemp("typed") / "src")
    spark.range(0, 600, 1, 6).select(
        (F.col("id") % 4).cast("int").alias("n"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("d"),
        F.concat(F.lit("u"), (F.col("id") % 97).cast("string")).alias("url"),
    ).write.parquet(path)
    return path


def test_sketch_pipeline_int_and_date_keys_kill_resume(spark, typed_keys_path, tmp_path):
    """Non-string keys keep their types through the lineage fold, the
    checkpoint and the merge, and a killed-then-resumed run matches the
    direct estimate."""
    from phphll_spark.functions import hll_count_distinct

    ck = str(tmp_path / "ck")
    first = run_sketch_pipeline(spark, typed_keys_path, ck, key_cols=["n", "d"], value_col="url", fail_after_splits=3)
    assert first.processed_splits == 3
    second = run_sketch_pipeline(spark, typed_keys_path, ck, key_cols=["n", "d"], value_col="url")
    assert (second.skipped_splits, second.processed_splits) == (3, 3)
    results = second.results
    assert [results.schema[k].dataType.simpleString() for k in ("n", "d")] == ["int", "date"]
    direct = hll_count_distinct(spark.read.parquet(typed_keys_path), ["n", "d"], "url")
    est = lambda df: {(r["n"], r["d"]): r["approx_distinct"] for r in df.collect()}
    assert est(results) == est(direct) and len(est(direct)) == 12


def test_summary_pipeline_schema_same_before_and_after_first_commit(spark, typed_keys_path, tmp_path):
    from phphll_spark.plans import run_summary_pipeline
    from phphll_spark.sketches import CMSFamily

    ck = str(tmp_path / "ck")
    run = lambda fail=None: run_summary_pipeline(
        spark, typed_keys_path, ck, key_cols=["n", "d"], value_col="url", family=CMSFamily(), fail_after_splits=fail
    )
    empty = run(fail=0)
    assert empty.processed_splits == 0 and empty.results.count() == 0
    full = run()
    assert full.processed_splits == 6
    assert empty.results.schema == full.results.schema
