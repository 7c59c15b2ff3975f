"""One Arrow-native fold driver for every sketch family.

Every sketch in the library has the same distributed shape: each input
partition folds its rows into one partial sketch per group
(``mapInArrow``, vectorized per Arrow batch — the map-side combine), the
shuffle carries only those sketches, never raw elements, and an
associative merge aggregate combines them. The plumbing of that shape —
group codes, sort-and-segment, the per-group accumulator, the output
frame, the partition-wise ``merge`` (and the ``merge_agg`` Arrow UDF for
what needs a Spark aggregate function) — lives here once. A new sketch
is a family object, not a new fold.

A family is a small picklable object built from its parameters. It
supplies:

- ``name`` (merge aggregate ``<name>_merge_agg``) and ``column`` (the
  binary output column);
- ``empty()``: a fresh state; it raises ``ValueError`` on bad parameters,
  and the driver calls it once before any job starts;
- ``batch(arr) -> (prepared, valid)``: the once-per-Arrow-batch work on
  the value column (hashing, casts). ``prepared`` covers the non-NULL
  rows only; ``valid`` is the row mask, or None when no value is NULL;
- ``fold(state, prepared, sel) -> state``: fold the rows ``sel`` (an
  index array into ``prepared``: one group's segment of the batch);
- ``serialize(state) -> bytes``, ``deserialize(bytes) -> state`` and
  ``merge(a, b) -> state`` over deserialized states.

No per-row Python anywhere: values are hashed straight out of the Arrow
buffers and group codes come from Arrow dictionary encoding, so a batch
is never materialized as pandas objects.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType


def _arrow_to_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(uint8 data, int64 offsets, valid mask or None) of a string/binary
    Arrow array; other types hash their Arrow string rendering. NULL
    elements are dropped (Spark aggregate semantics ignore NULLs)."""
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    elif not pa.types.is_large_binary(arr.type) and not pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_utf8())
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_binary())
    null_mask = None
    if arr.null_count:
        null_mask = np.asarray(arr.is_valid())
        arr = arr.drop_null()
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    data_buf = buffers[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8, count=int(offsets[-1]) - int(offsets[0]), offset=int(offsets[0]))
        if data_buf is not None and len(arr)
        else np.empty(0, np.uint8)
    )
    if int(offsets[0]) != 0:
        offsets = offsets - offsets[0]
    return data, offsets, null_mask


def _arrow_group_codes(rb: pa.RecordBatch, keys: list[str]) -> tuple[np.ndarray, list[tuple]]:
    """Per-row compact group codes + the unique key tuples they index,
    via Arrow dictionary encoding (no pandas/object materialization).
    NULL key values group as None, matching groupBy semantics."""

    def one(name: str) -> tuple[np.ndarray, list]:
        d = rb.column(rb.schema.get_field_index(name)).dictionary_encode()
        vals = d.dictionary.to_pylist()
        ind = d.indices
        if ind.null_count:
            ind = pc.fill_null(ind, len(vals))
            vals = vals + [None]
        return ind.to_numpy(zero_copy_only=False).astype(np.int64), vals

    columns = [one(k) for k in keys]
    if len(columns) == 1:
        codes, vals = columns[0]
        return codes, [(v,) for v in vals]
    # fold in one key at a time, compacting to the combinations present
    # after each step, so a code never exceeds rows x one key's size (a
    # mixed-radix code over all keys overflows int64 on wide keys);
    # ``parts`` holds each key's code for every combination so far
    codes, first = columns[0]
    parts = [np.arange(len(first))]
    for c, vals in columns[1:]:
        uniq, codes = np.unique(codes * len(vals) + c, return_inverse=True)
        parts = [part[uniq // len(vals)] for part in parts] + [uniq % len(vals)]
    per_key = [[vals[i] for i in part.tolist()] for (_, vals), part in zip(columns, parts)]
    return codes.astype(np.int64), list(zip(*per_key))


def _segments(codes: np.ndarray) -> Iterator[tuple[int, np.ndarray]]:
    """(group code, row indices) of each group in ``codes``; a group's
    rows keep their batch order (stable sort)."""
    if len(codes) == 0:
        return
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    bounds = np.flatnonzero(np.diff(sc)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(sc)]))
    for s, e in zip(starts.tolist(), ends.tolist()):
        yield int(sc[s]), order[s:e]


def point_lookups(blobs: pa.Array, items: pa.Array) -> Iterator[tuple[bytes, np.ndarray, np.ndarray, np.ndarray]]:
    """(sketch blob, row indices, item data, item offsets) for each distinct
    sketch in a batch of a scalar lookup UDF, over the rows where neither
    the sketch nor the item is NULL. Items go through ``_arrow_to_buffers``,
    so a lookup hashes exactly the bytes the fold hashed for that value."""
    rows = np.flatnonzero(np.asarray(pc.and_(blobs.is_valid(), items.is_valid())))
    sketches = blobs.take(rows).dictionary_encode()
    codes = sketches.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    for code, sel in _segments(codes):
        data, offsets, _ = _arrow_to_buffers(items.take(rows[sel]))
        yield sketches.dictionary[code].as_py(), rows[sel], data, offsets


@dataclass(frozen=True)
class ObjectFamily:
    """The family of a numeric sketch class with the KLL / t-digest
    interface: ``cls(param)``, ``.add(float64 values)``, ``.merge(other)``,
    ``.serialize()`` and ``cls.deserialize(blob)``."""

    cls: type
    param: int
    name: str

    @property
    def column(self) -> str:
        return self.name

    def empty(self):
        return self.cls(self.param)

    def batch(self, arr: pa.Array):
        arr = pc.cast(arr, pa.float64(), safe=False)
        valid = np.asarray(arr.is_valid()) if arr.null_count else None
        return arr.drop_null().to_numpy(zero_copy_only=False), valid

    def fold(self, sk, vals: np.ndarray, sel):
        sk.add(vals[sel])
        return sk

    def serialize(self, sk) -> bytes:
        return sk.serialize()

    def deserialize(self, blob: bytes):
        return self.cls.deserialize(blob)

    def merge(self, a, b):
        return a.merge(b)


def quantile_udf(cls):
    """Scalar Arrow UDF ``<cls>_quantile(blob, q)`` of an ``ObjectFamily``
    sketch class: ``cls.deserialize(blob).quantile(q)``, NULL where the
    blob or q is NULL or q is NaN (and where the quantile is NaN). An
    out-of-range q is clamped by the sketch."""

    def quantile(blobs: pa.Array, qs: pa.Array) -> pa.Array:
        out = np.full(len(blobs), np.nan)
        for i, (blob, q) in enumerate(zip(blobs.to_pylist(), qs.to_pylist())):
            q = None if q is None else float(q)  # a SQL literal q is a Decimal
            if blob is not None and q is not None and not math.isnan(q):
                out[i] = cls.deserialize(blob).quantile(q)
        return pa.array(out, from_pandas=True)

    quantile.__name__ = f"{cls.__name__.lower()}_quantile"
    return arrow_udf(DoubleType())(quantile)


def _fold_groups(batches: Iterator[pa.RecordBatch], keys: list[str], value_col: str, family) -> dict:
    """``{key tuple: [state, rows]}`` of one partition: each group's folded
    state and its row count, NULL-value rows included. Every group present
    gets a state, even if all of its values are NULL (an empty sketch), and
    NULL keys form one group."""
    acc: dict = {}
    for rb in batches:
        if rb.num_rows == 0:
            continue
        prepared, valid = family.batch(rb.column(rb.schema.get_field_index(value_col)))
        if keys:
            codes, groups = _arrow_group_codes(rb, keys)
        else:
            codes, groups = np.zeros(rb.num_rows, dtype=np.int64), [()]
        for g, n in zip(groups, np.bincount(codes, minlength=len(groups)).tolist()):
            if g in acc:
                acc[g][1] += n
            else:
                acc[g] = [family.empty(), n]
        for code, sel in _segments(codes if valid is None else codes[valid]):
            entry = acc[groups[code]]
            entry[0] = family.fold(entry[0], prepared, sel)
    return acc


def partial_sketches(df: DataFrame, keys: list[str], value_col: str, family) -> DataFrame:
    """Per-partition, per-group partial sketches via ``mapInArrow``.

    Output schema: ``keys..., <family.column> binary`` — one row per
    (input partition, group) of ``_fold_groups``."""
    family.empty()  # bad parameters fail here, on the driver
    out_schema = StructType(
        [df.schema[k] for k in keys] + [StructField(family.column, BinaryType(), False)]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = _fold_groups(batches, keys, value_col, family)
        if not acc:
            return
        out = {k: [g[i] for g in acc] for i, k in enumerate(keys)}
        out[family.column] = [family.serialize(state) for state, _ in acc.values()]
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return df.select(*keys, value_col).mapInArrow(fold, schema=out_schema)


def merge_agg(family):
    """Grouped-agg Arrow UDF ``<family.name>_merge_agg``: a column of
    sketch blobs -> their merge. NULL blobs are skipped and an all-NULL
    group merges to NULL: a default-parameter empty sketch there would
    fail the next merge with a partial of other parameters. Kept for what
    needs a Spark aggregate function (SQL, rollups, several merges in one
    aggregation); ``merge`` is the DataFrame path."""

    def merge(blobs: pa.Array) -> bytes:
        acc = _merge_blobs(family, blobs.to_pylist())
        return None if acc is None else family.serialize(acc)

    merge.__name__ = f"{family.name}_merge_agg"
    return arrow_udf(BinaryType())(merge)


def _merge_blobs(family, blobs):
    """The merged state of one group's blobs; None when all are NULL."""
    acc = None
    for blob in blobs:
        if blob is None:
            continue
        state = family.deserialize(bytes(blob))
        acc = state if acc is None else family.merge(acc, state)
    return acc


# a merge yields its groups in batches of at most this many rows
_MERGE_OUT_ROWS = 4096


def merge(partials: DataFrame, keys: list[str], family, finish=None) -> DataFrame:
    """keys... + the merged ``family.column`` sketch per group of
    ``partials`` (one global row when ``keys`` is empty).

    One hash shuffle by the keys (one partition without keys) and one
    ``mapInArrow``: each reduce partition buffers its partial rows as
    Arrow, groups them once and merges one group at a time, so memory is
    one partition's partials plus one group's state, and no JVM sort or
    per-group UDF call is planned. NULL blobs are skipped and an all-NULL
    group merges to NULL.

    ``finish=(field, fn)`` replaces the sketch column by ``field`` holding
    ``fn(state)`` of the merged state (``fn(None)`` for a group with no
    blob), e.g. an estimate, so no serialize/deserialize round trip or
    further Python operator follows the merge."""
    if partials.isStreaming:
        raise ValueError(
            "fold.merge needs the whole input; merge a streaming frame's micro-batches in foreachBatch"
        )
    family.empty()  # bad parameters fail here, on the driver
    out_field = StructField(family.column, BinaryType(), True) if finish is None else finish[0]
    out_schema = StructType([partials.schema[k] for k in keys] + [out_field])
    arrow_schema = to_arrow_schema(out_schema)

    def value(acc):
        if finish is not None:
            return finish[1](acc)
        return None if acc is None else family.serialize(acc)

    def out_batch(rows: list) -> pa.RecordBatch:
        return pa.RecordBatch.from_pydict(dict(zip(arrow_schema.names, map(list, zip(*rows)))), schema=arrow_schema)

    def merge_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rbs = [rb for rb in batches if rb.num_rows]
        if not rbs:
            if not keys:  # a global merge of nothing is one row, like a global aggregate
                yield out_batch([(value(None),)])
            return
        table = pa.Table.from_batches(rbs)
        blobs = table.column(family.column).to_pylist()
        if keys:
            codes, groups = _arrow_group_codes(table.select(keys).combine_chunks().to_batches()[0], keys)
        else:
            codes, groups = np.zeros(len(blobs), dtype=np.int64), [()]
        del rbs, table  # the blobs live on as Python bytes: hold one copy of the partition
        rows: list = []
        for code, sel in _segments(codes):
            rows.append((*groups[code], value(_merge_blobs(family, [blobs[i] for i in sel.tolist()]))))
            if len(rows) == _MERGE_OUT_ROWS:
                yield out_batch(rows)
                rows = []
        if rows:
            yield out_batch(rows)

    shuffled = partials.repartition(*keys) if keys else partials.repartition(1)
    return shuffled.select(*keys, family.column).mapInArrow(merge_partition, schema=out_schema)


def sketch(df: DataFrame, keys: list[str], value_col: str, family) -> DataFrame:
    """keys... + the merged ``family.column`` sketch per group (one global
    row when ``keys`` is empty): partial fold, sketch-only shuffle, merge."""
    return merge(partial_sketches(df, keys, value_col, family), keys, family)
