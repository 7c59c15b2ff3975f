"""Structured Streaming sketch aggregation.

Because the sketch merge is associative/commutative/idempotent
(hyperloglog.c:1038-1077), streaming HLL is just "merge each micro-batch's
partials into durable state". Two shapes:

- ``foreach_batch_sketch_sink``: per micro-batch, compute partial sketches
  (same map-side fold as batch) and max-merge them into a parquet
  checkpoint table via read-modify-write with an atomic manifest swap —
  the streaming analog of the reference's Redis round-trip
  (junk/redis-interop.php: load sketch, add, write back). Exactly-once
  per epoch_id is achievable because re-merging a batch is idempotent.
- ``stateful_sketch_counts``: ``applyInPandasWithState`` keeps the raw
  register array as per-group state and emits (key, estimate,
  rows_seen) every trigger — continuous APPROX COUNT DISTINCT.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from .. import kernel
from ..fold import merge, partial_sketches
from ..functions.sketch import HLLFamily, _arrow_idx_rho
from ..kernel import HLL_P_DEFAULT
from ..plans.pipeline import _publish


def foreach_batch_summary_sink(keys: list[str], value_col: str, table_dir: str, family):
    """Generic foreachBatch snapshot sink for ANY sketch family (a
    ``fold.py`` family object — HLL / CMS / Bloom / theta / t-digest / KLL
    / Misra–Gries): fold the micro-batch into partial sketches with
    ``fold.partial_sketches``, re-merge them with the previous snapshot
    through ``fold.merge`` (the foreachBatch frame is a batch frame), and
    swap the parquet snapshot pointer atomically (tmp, fsync, rename —
    the pipeline manifest's commit).

    Exactly-once per epoch: the _CURRENT pointer records the last APPLIED
    epoch; a retry of an epoch the pointer already covers is skipped
    outright (matters for the counter/quantile families, where re-merging
    a batch would double-count — HLL/Bloom max/OR-merges are idempotent
    anyway). A retry of an epoch that wrote its snapshot but died before
    the pointer swap simply rewrites that snapshot: the pointer still
    names the previous one, so the files being read are never the files
    being overwritten."""
    os.makedirs(table_dir, exist_ok=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        new = partial_sketches(batch_df, keys, value_col, family)
        pointer = os.path.join(table_dir, "_CURRENT")
        if os.path.exists(pointer):
            with open(pointer) as f:
                parts = f.read().split()
            current = parts[0]
            if len(parts) > 1:
                applied_epoch = int(parts[1])
            elif current.startswith("snap-"):
                # legacy pointer (pre-epoch format): the snapshot NAME
                # encodes the epoch that produced it, so the applied epoch
                # is fully recoverable — a redelivery of that epoch after
                # an upgrade is skipped, never re-merged (double-count
                # guard for the counter/quantile families)
                applied_epoch = int(current.rsplit("-", 1)[1])
            else:
                applied_epoch = -1
            if epoch_id <= applied_epoch:
                return  # retry of an already-applied epoch: no-op
            old = spark.read.parquet(os.path.join(table_dir, current))
            new = new.unionByName(old)
        snap = f"snap-{epoch_id}"
        merge(new, keys, family).write.mode("overwrite").parquet(os.path.join(table_dir, snap))
        _publish(pointer, f"{snap} {epoch_id}")

    return sink


def foreach_batch_sketch_sink(
    keys: list[str],
    value_col: str,
    table_dir: str,
    p: int = HLL_P_DEFAULT,
):
    """HLL snapshot sink: merges each micro-batch's group sketches into
    ``table_dir`` (parquet snapshot: data file + _CURRENT pointer swapped
    atomically). The HLL instance of ``foreach_batch_summary_sink``."""
    return foreach_batch_summary_sink(keys, value_col, table_dir, HLLFamily(p))


def streaming_dedup_exact(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    *,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose normalized-content
    fingerprint has already been seen — the streaming analog of the batch
    ``dedup_exact_keep`` (first arrival wins).

    Built on ``dropDuplicatesWithinWatermark``: the dedup state is keyed
    on the md5 content fingerprint and EXPIRES once the event-time
    watermark passes a row's timestamp + ``delay`` — bounded state, the
    only viable shape for an unbounded stream (a plain dropDuplicates
    would grow state forever). Duplicates arriving farther apart than
    the watermark delay both survive, by design — pick ``delay`` as the
    dedup horizon. Rows inside one micro-batch dedup exactly."""
    from ..functions.text import content_fingerprint

    return (
        df.withWatermark(ts_col, delay)
        .withColumn("_fp", content_fingerprint(text_col))
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def windowed_sketch_sink(
    keys: list[str],
    value_col: str,
    ts_col: str,
    window_seconds: int,
    table_dir: str,
    p: int = HLL_P_DEFAULT,
):
    """foreachBatch sink for EVENT-TIME tumbling-window sketches.

    Each micro-batch's rows are assigned to their tumbling window
    (epoch-aligned, like ``F.window``) and max-merged into the snapshot
    table keyed by (keys..., win_start). **Late data needs no special
    handling**: a late row merges into its (old) window's sketch
    idempotently — the window row is simply rewritten, estimates stay
    exact under any arrival order. A watermark upstream only bounds how
    far back windows keep changing; it never affects correctness here.
    """
    win_start = (
        (F.unix_timestamp(F.col(ts_col)) - (F.unix_timestamp(F.col(ts_col)) % window_seconds))
        .cast("timestamp")
        .alias("win_start")
    )
    inner = foreach_batch_sketch_sink(keys + ["win_start"], value_col, table_dir, p)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        inner(batch_df.withColumn("win_start", win_start), epoch_id)

    return sink


def stateful_sessions(
    stream_df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Streaming gap-based sessionization: ``applyInPandasWithState`` with
    an EVENT-TIME timeout (the custom stateful operator pattern).

    Sessions closed by an in-stream gap are emitted immediately; the
    trailing open session per user is held in state and emitted when the
    watermark passes its end + gap (state.hasTimedOut). Caller must put a
    ``withWatermark(ts_col, ...)`` upstream. Output one row per closed
    session: (user, session_start, session_end, n_events).

    Late-data semantics (watermark delay may exceed the gap): a late run
    arriving within ``gap_seconds`` of the open session merges into it,
    lowering ``session_start`` if it extends earlier; a late run separated
    from the open session by more than the gap on EITHER side is its own
    session (closed immediately when it is entirely in the past).
    """
    out_schema = StructType(
        [
            stream_df.schema[user_col],
            StructField("session_start", LongType(), False),  # epoch seconds
            StructField("session_end", LongType(), False),
            StructField("n_events", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType(), True),
            StructField("end", LongType(), True),
            StructField("n", LongType(), True),
        ]
    )

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        user = key_tuple[0]
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {user_col: [user], "session_start": [start], "session_end": [end], "n_events": [n]}
            )
            return
        ts = np.sort(
            np.concatenate(
                [pdf[ts_col].astype("datetime64[s]").astype("int64").to_numpy() for pdf in pdfs]
            )
        )
        if len(ts) == 0:
            return
        cur = list(state.get) if state.exists else None
        closed = []
        # split this batch's (sorted) timestamps into gap-delimited runs
        breaks = np.flatnonzero(np.diff(ts) > gap_seconds) + 1
        runs = np.split(ts, breaks)
        for run in runs:
            s, e, n = int(run[0]), int(run[-1]), len(run)
            if cur is None:
                cur = [s, e, n]
            elif s - cur[1] > gap_seconds:
                # run starts after the open session's gap: close it
                closed.append(tuple(cur))
                cur = [s, e, n]
            elif cur[0] - e > gap_seconds:
                # LATE run entirely before the open session (cross-batch
                # late data beyond the gap): it is its own session, closed
                # immediately — merging it would wrongly bridge a gap and
                # never lower session_start
                closed.append((s, e, n))
            else:
                # overlaps / abuts the open session (possibly extending it
                # EARLIER — late data within the gap): min/max both ends
                cur = [min(cur[0], s), max(cur[1], e), cur[2] + n]
        state.update(tuple(cur))
        # close the trailing session when the watermark passes end + gap
        state.setTimeoutTimestamp((cur[1] + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    user_col: [user] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return stream_df.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def read_sketch_table(spark, table_dir: str) -> DataFrame:
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        current = f.read().split()[0]
    return spark.read.parquet(os.path.join(table_dir, current))


def stateful_sketch_counts(
    stream_df: DataFrame,
    key: str,
    value_col: str,
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """Continuous per-key APPROX COUNT DISTINCT via applyInPandasWithState.

    State = the raw register array (the reference's HLL_RAW accumulator,
    hyperloglog.c:197) as bytes; update folds each Arrow batch vectorized.
    Emits (key, approx_distinct, rows_seen) on every trigger.
    """
    m = kernel.m_for_p(p)
    out_schema = StructType(
        [
            stream_df.schema[key],
            StructField("approx_distinct", LongType(), False),
            StructField("rows_seen", LongType(), False),
        ]
    )
    state_schema = StructType(
        [StructField("regs", BinaryType(), True), StructField("rows", LongType(), True)]
    )

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            regs_bytes, rows = state.get
            regs = np.frombuffer(regs_bytes, dtype=np.uint8).copy()
        else:
            regs, rows = kernel.empty_registers(p), 0
        for pdf in pdfs:
            idx, rho, _ = _arrow_idx_rho(pa.array(pdf[value_col], from_pandas=True), p)
            kernel.update_registers(regs, idx, rho)
            rows += len(pdf)
        state.update((regs.tobytes(), rows))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "approx_distinct": [kernel.estimate(regs)], "rows_seen": [rows]}
        )

    return stream_df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
