"""Structured Streaming sketch aggregation: micro-batch merge into a
snapshot table, and stateful continuous estimates."""

import os
import time

import pytest
from pyspark.sql import functions as F

from phphll_spark.functions import hll_count_sketch
from phphll_spark.hll import HLL
from phphll_spark.streaming import (
    foreach_batch_sketch_sink,
    read_sketch_table,
    stateful_sketch_counts,
)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Two file 'micro-batches' of events landing in a watched directory."""
    src = tmp_path / "incoming"
    src.mkdir()
    b1 = spark.createDataFrame(
        [("en", f"u{i}") for i in range(100)], "lang string, url string"
    )
    b2 = spark.createDataFrame(
        [("en", f"u{i}") for i in range(50, 200)] + [("de", f"d{i}") for i in range(40)],
        "lang string, url string",
    )
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))
    return str(src)


def test_foreach_batch_sketch_sink(spark, stream_dir, tmp_path):
    table = str(tmp_path / "sketch_table")
    stream = (
        spark.readStream.schema("lang string, url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stream_dir}/*")
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_sketch_sink(["lang"], "url", table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["lang"]: r["n"]
        for r in read_sketch_table(spark, table)
        .select("lang", hll_count_sketch(F.col("sketch")).alias("n"))
        .collect()
    }
    en = HLL(); en.add([f"u{i}" for i in range(200)])
    de = HLL(); de.add([f"d{i}" for i in range(40)])
    assert got == {"en": en.count(), "de": de.count()}


def test_sink_pointer_is_fsynced_before_the_swap(spark, tmp_path, monkeypatch):
    """One sink epoch publishes _CURRENT through a uniquely named tmp file
    that is fsynced before the rename, so a crash cannot leave a torn or
    empty pointer that every later epoch would fail to parse."""
    table = str(tmp_path / "t")
    sink = foreach_batch_sketch_sink(["lang"], "url", table)
    batch = spark.createDataFrame([("en", "u1"), ("de", "u2")], "lang string, url string")
    fsyncs = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (fsyncs.append(fd), real_fsync(fd))[1])
    sink(batch, 0)
    monkeypatch.undo()
    assert len(fsyncs) == 1
    with open(os.path.join(table, "_CURRENT")) as f:
        assert f.read() == "snap-0 0"
    assert sorted(os.listdir(table)) == ["_CURRENT", "snap-0"]


def test_stateful_sketch_counts(spark, stream_dir, tmp_path):
    stream = (
        spark.readStream.schema("lang string, url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stream_dir}/*")
    )
    out = stateful_sketch_counts(stream, "lang", "url")
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stateful_counts").collect()
    # final update per key reflects the union of all micro-batches
    latest = {}
    for r in rows:
        latest[r["lang"]] = max(latest.get(r["lang"], 0), r["approx_distinct"])
    en = HLL(); en.add([f"u{i}" for i in range(200)])
    de = HLL(); de.add([f"d{i}" for i in range(40)])
    assert latest == {"en": en.count(), "de": de.count()}
    total_rows = {r["lang"]: r["rows_seen"] for r in rows if r["rows_seen"]}
    assert total_rows["en"] == 250  # 100 + 150 raw rows folded into state



def test_stateful_sketch_counts_int_key(spark, tmp_path):
    """The key column keeps its input type (an int key failed to convert
    when the output schema typed every key as a string)."""
    src = tmp_path / "int_in"
    src.mkdir()
    for n, rows in (("b1", [(1, f"u{i}") for i in range(30)]), ("b2", [(2, "x"), (1, "u99")])):
        spark.createDataFrame(rows, "k int, url string").coalesce(1).write.parquet(str(src / n))
    stream = (
        spark.readStream.schema("k int, url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = stateful_sketch_counts(stream, "k", "url")
    assert out.schema["k"].dataType == stream.schema["k"].dataType
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_counts_int")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_int"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    latest = {}
    for r in spark.sql("SELECT * FROM stateful_counts_int").collect():
        latest[r["k"]] = max(latest.get(r["k"], 0), r["rows_seen"])
    assert latest == {1: 31, 2: 1}

def test_windowed_sketch_sink_handles_late_data(spark, tmp_path):
    """Event-time tumbling windows with a LATE row arriving two
    micro-batches after its window: the old window's sketch absorbs it
    idempotently and every window matches a serial HLL."""
    from datetime import datetime

    from phphll_spark.streaming import windowed_sketch_sink

    src = tmp_path / "in"
    src.mkdir()
    h = lambda hour, i: (datetime(2024, 9, 1, hour, 30), f"u{hour}_{i}")
    b1 = [h(0, i) for i in range(40)] + [h(1, i) for i in range(30)]
    b2 = [h(1, i) for i in range(20, 60)]
    b3 = [h(0, i) for i in range(35, 50)]  # LATE: hour-0 rows after hour-1 seen
    for n, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        spark.createDataFrame(rows, "ts timestamp, uid string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / n))

    table = str(tmp_path / "win_table")
    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        stream.writeStream.foreachBatch(windowed_sketch_sink([], "uid", "ts", 3600, table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["win_start"].hour: r["n"]
        for r in read_sketch_table(spark, table)
        .select("win_start", hll_count_sketch(F.col("sketch")).alias("n"))
        .collect()
    }
    h0 = HLL(); h0.add([f"u0_{i}" for i in range(50)])   # 0..39 ∪ 35..49
    h1 = HLL(); h1.add([f"u1_{i}" for i in range(60)])   # 0..29 ∪ 20..59
    assert got == {0: h0.count(), 1: h1.count()}


def test_stateful_sessions_gap_and_timeout(spark, tmp_path):
    """Streaming sessionization: an in-stream gap closes a session in the
    same trigger; an idle user's trailing session closes via event-time
    TIMEOUT once later batches advance the watermark."""
    from datetime import datetime, timedelta

    from phphll_spark.streaming import stateful_sessions

    t0 = datetime(2024, 9, 1, 10, 0, 0)
    sec = lambda s: t0 + timedelta(seconds=s)
    src = tmp_path / "sess_in"
    src.mkdir()
    # batch 1: user a has a 2-event session then a >gap jump (closes s1)
    b1 = [(sec(0), "a"), (sec(60), "a"), (sec(5000), "a"), (sec(10), "b")]
    # batch 2: b idle; a extends its open session
    b2 = [(sec(5100), "a")]
    # batch 3: far-future events push the watermark past everyone's gap
    b3 = [(sec(100000), "c"), (sec(100010), "c")]
    for n, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        spark.createDataFrame(rows, "ts timestamp, uid string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / n))

    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
        .withWatermark("ts", "0 seconds")
    )
    out = stateful_sessions(stream, "uid", "ts", gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["uid"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    e = lambda s: int(sec(s).timestamp())
    # a's first session closed by the in-stream gap; a's second and b's only
    # session closed by watermark timeout after batch 3
    assert ("a", e(0), e(60), 2) in rows
    assert ("a", e(5000), e(5100), 2) in rows
    assert ("b", e(10), e(10), 1) in rows


def test_stateful_sessions_cross_batch_late_data(spark, tmp_path):
    """Watermark delay LARGER than the gap: a late run within the gap of
    the open session merges and LOWERS session_start; a late run separated
    by more than the gap on the early side becomes its own closed session
    (ADVICE r01: the old merge never lowered session_start and silently
    bridged gap-separated earlier events)."""
    from datetime import datetime, timedelta

    from phphll_spark.streaming import stateful_sessions

    t0 = datetime(2024, 9, 1, 0, 0, 0)
    sec = lambda s: t0 + timedelta(seconds=s)
    src = tmp_path / "late_in"
    src.mkdir()
    # batch 1: open session [10000, 10060]
    b1 = [(sec(10000), "a"), (sec(10060), "a")]
    # batch 2 (late, allowed by the 2h watermark delay):
    #   5000 — >gap before the open session: its own session
    #   9000 — within gap of session start: merges, start lowers to 9000
    b2 = [(sec(5000), "a"), (sec(9000), "a")]
    # batch 3: far future pushes the watermark past everything
    b3 = [(sec(100000), "c"), (sec(100010), "c")]
    for n, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        spark.createDataFrame(rows, "ts timestamp, uid string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / n))

    stream = (
        spark.readStream.schema("ts timestamp, uid string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
        .withWatermark("ts", "2 hours")
    )
    out = stateful_sessions(stream, "uid", "ts", gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["uid"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM late_sessions_out WHERE uid = 'a'").collect()
    }
    e = lambda s: int(sec(s).timestamp())
    assert ("a", e(5000), e(5000), 1) in rows
    assert ("a", e(9000), e(10060), 3) in rows
    assert len(rows) == 2


def test_streaming_mg_trending_sink(spark, tmp_path):
    """The generic summary sink with a Misra–Gries summary: streaming
    'trending items' — after all batches the snapshot's counts equal the
    whole stream's exact counts (distinct ≪ capacity → exact regime)."""
    from phphll_spark.sketches import MGFamily, mg_entries
    from phphll_spark.streaming import foreach_batch_summary_sink, read_sketch_table

    src = tmp_path / "mg_in"
    src.mkdir()
    all_rows = []
    for b in range(3):
        rows = [(f"item{(i + b) % 7}",) for i in range(50 + 10 * b)]
        all_rows += rows
        spark.createDataFrame(rows, "item string").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{b}")
        )
    table = str(tmp_path / "mg_table")
    stream = spark.readStream.schema("item string").option("maxFilesPerTrigger", "1").parquet(
        f"{src}/*"
    )
    sink = foreach_batch_summary_sink([], "item", table, MGFamily(k=64))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["item"]: r["n"]
        for r in read_sketch_table(spark, table)
        .select(F.explode(mg_entries(F.col("mg"))).alias("item", "n"))
        .collect()
    }
    truth: dict = {}
    for (it,) in all_rows:
        truth[it] = truth.get(it, 0) + 1
    assert got == truth


def test_streaming_dedup_exact_first_wins(spark, tmp_path):
    """Streaming exact dedup via dropDuplicatesWithinWatermark: duplicate
    content across micro-batches inside the watermark horizon is dropped
    (first arrival wins); distinct content flows through; state is keyed
    on the content fingerprint, not the full row."""
    import time as _time

    from pyspark.sql import functions as F

    from phphll_spark.streaming import streaming_dedup_exact

    src = tmp_path / "docs_in"
    src.mkdir()
    base = "2024-01-01 00:{:02d}:00"
    b1 = spark.createDataFrame(
        [
            (base.format(0), "the same doc body"),
            (base.format(1), "another unique body"),
            (base.format(1), "the same doc body"),  # in-batch dup
        ],
        "ts string, text string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [
            (base.format(2), "the same doc body"),  # cross-batch dup
            (base.format(3), "a third body"),
        ],
        "ts string, text string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("ts timestamp, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = streaming_dedup_exact(stream, "text", "ts", delay="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT text FROM dedup_stream").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["a third body", "another unique body", "the same doc body"]


def test_streaming_daily_users_eq_query(spark):
    """The driver's streaming/batch-equivalence query: 4 replayed
    micro-batches through the snapshot sink must reproduce the one-shot
    batch estimates exactly (merge associativity), flags all true."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.q_streaming_daily_users_eq(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r["stream_eq_batch"] and r["within_bound"] for r in rows)


def test_stateful_sessions_int_user(spark, tmp_path):
    """The user column keeps its input type (an int user failed to convert
    when the output schema typed it as a string)."""
    from datetime import datetime, timedelta

    from phphll_spark.streaming import stateful_sessions

    t0 = datetime(2024, 9, 1, 0, 0, 0)
    sec = lambda s: t0 + timedelta(seconds=s)
    src = tmp_path / "int_sess_in"
    src.mkdir()
    b1 = [(sec(0), 7), (sec(60), 7), (sec(5000), 7)]
    b2 = [(sec(100000), 8)]
    for n, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, "ts timestamp, uid int").coalesce(1).write.parquet(str(src / n))
    stream = (
        spark.readStream.schema("ts timestamp, uid int")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
        .withWatermark("ts", "0 seconds")
    )
    out = stateful_sessions(stream, "uid", "ts", gap_seconds=1800)
    assert out.schema["uid"].dataType == stream.schema["uid"].dataType
    q = (
        out.writeStream.format("memory")
        .queryName("int_sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "int_sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = {
        (r["uid"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM int_sessions_out").collect()
    }
    e = lambda s: int(sec(s).timestamp())
    assert {(7, e(0), e(60), 2), (7, e(5000), e(5000), 1)} <= rows
