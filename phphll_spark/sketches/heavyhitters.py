"""Misra–Gries heavy-hitters summary — mergeable frequent-items sketch on
the same distributed skeleton as the HLL/CMS family (SURVEY.md §2.1 rows
3/10/16: per-partition vectorized fold, sketch-only shuffle, associative
merge).

Summary = at most ``k`` (item, count) pairs plus the total stream length N.
Guarantee (Misra & Gries 1982; mergeability per Agarwal et al. 2012,
"Mergeable Summaries"): for every item x,

    true(x) − N/(k+1)  ≤  est(x)  ≤  true(x)

and every item with true(x) > N/(k+1) is PRESENT in the summary. Merging
two summaries = sum counts, then if more than ``k`` items remain, subtract
the (k+1)-th largest count from all and drop the non-positive — the
combined summary keeps the same N/(k+1) bound for the combined stream, so
any partition grouping / merge order yields a valid summary.

When the column's distinct count never exceeds ``k``, no decrement ever
happens and every count is EXACT — that regime is the oracle-paired
driver query; the bound regime is exported as a within-slack flag.

Wire format: b"MGHH" + uint32 k + uint64 N (LE) + uint32 n_entries +
entries of (uint32 len, key bytes, int64 count) — same small-header
spirit as the reference's HYLL framing (hyperloglog.c:1120-1176).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.types import LongType, MapType, StringType

from ..fold import merge_agg, partial_sketches, sketch

MAGIC = b"MGHH"


class InvalidMGError(ValueError):
    pass


def mg_fold(counts: dict[bytes, int], items: pd.Series, k: int) -> int:
    """Fold a batch of items into the summary dict in place. Returns the
    number of non-null items folded."""
    family = MGFamily(k)
    prepared, _ = family.batch(pa.array(items, from_pandas=True))
    return family.fold((counts, 0, k), prepared, slice(None))[1]


def _decrement_to_capacity(counts: dict[bytes, int], k: int) -> None:
    """Subtract the (k+1)-th largest count from every entry and drop the
    non-positive — the MG decrement generalized to batches."""
    if len(counts) <= k:
        return
    vals = sorted(counts.values(), reverse=True)
    sub = vals[k]  # (k+1)-th largest
    for key in list(counts):
        nc = counts[key] - sub
        if nc > 0:
            counts[key] = nc
        else:
            del counts[key]


def mg_merge(
    a: tuple[dict[bytes, int], int], b: tuple[dict[bytes, int], int], k: int
) -> tuple[dict[bytes, int], int]:
    """Merge two (counts, N) summaries: sum counts, decrement to capacity.
    Associative/commutative up to the shared error bound (the bound, not
    the exact counter values, is what merging preserves — like t-digest)."""
    counts = dict(a[0])
    for key, c in b[0].items():
        counts[key] = counts.get(key, 0) + c
    _decrement_to_capacity(counts, k)
    return counts, a[1] + b[1]


def mg_serialize(counts: dict[bytes, int], n: int, k: int) -> bytes:
    out = [MAGIC, struct.pack("<IQI", k, n, len(counts))]
    # deterministic order so equal summaries have equal bytes
    for key in sorted(counts):
        out.append(struct.pack("<I", len(key)))
        out.append(key)
        out.append(struct.pack("<q", counts[key]))
    return b"".join(out)


def mg_deserialize(blob: bytes) -> tuple[dict[bytes, int], int, int]:
    if len(blob) < 20 or blob[:4] != MAGIC:
        raise InvalidMGError("bad magic, expected 'MGHH'")
    try:
        k, n, n_entries = struct.unpack_from("<IQI", blob, 4)
        counts: dict[bytes, int] = {}
        off = 20
        for _ in range(n_entries):
            (klen,) = struct.unpack_from("<I", blob, off)
            off += 4
            key = blob[off : off + klen]
            if len(key) != klen:
                raise InvalidMGError("truncated MG key")
            off += klen
            (c,) = struct.unpack_from("<q", blob, off)
            off += 8
            counts[key] = c
    except struct.error as e:
        raise InvalidMGError(f"truncated MG payload: {e}") from e
    if off != len(blob):
        raise InvalidMGError(f"MG payload length {len(blob)} != {off}")
    return counts, n, k


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class MGFamily:
    """State: (counts, N, k). Per batch the value column is dictionary
    encoded once; a group's segment is counted with one ``np.unique`` over
    its value codes, so the only Python loop is over the segment's
    DISTINCT values, never its rows."""

    k: int = 256
    name = column = "mg"

    def empty(self):
        return {}, 0, self.k

    def batch(self, arr: pa.Array):
        enc = arr.dictionary_encode()
        keys = [str(v).encode() for v in enc.dictionary.to_pylist()]
        ind = enc.indices
        valid = np.asarray(ind.is_valid()) if ind.null_count else None
        return (keys, ind.drop_null().to_numpy(zero_copy_only=False).astype(np.int64)), valid

    def fold(self, state, prepared, sel):
        counts, n, k = state
        keys, codes = prepared
        uniq, cnt = np.unique(codes[sel], return_counts=True)
        for vi, c in zip(uniq.tolist(), cnt.tolist()):
            counts[keys[vi]] = counts.get(keys[vi], 0) + c
        _decrement_to_capacity(counts, k)
        return counts, n + int(cnt.sum()), k

    def serialize(self, state) -> bytes:
        return mg_serialize(*state)

    deserialize = staticmethod(mg_deserialize)

    def merge(self, a, b):
        if a[2] != b[2]:
            raise InvalidMGError(f"cannot merge MG of capacities {a[2]} and {b[2]}")
        counts, n = mg_merge(a[:2], b[:2], a[2])
        return counts, n, a[2]


def mg_partial_sketches(df: DataFrame, keys: list[str], value_col: str, k: int = 256) -> DataFrame:
    return partial_sketches(df, keys, value_col, MGFamily(k))


def make_mg_merge_agg():
    return merge_agg(MGFamily())


def mg_sketch(df: DataFrame, keys: list[str], value_col: str, k: int = 256) -> DataFrame:
    return sketch(df, keys, value_col, MGFamily(k))


@arrow_udf(LongType())
def mg_point_estimate(blobs: pa.Array, items: pa.Array) -> pa.Array:
    """Estimated count of ``item`` (0 when absent — valid: absent items
    have true count ≤ N/(k+1)). Items are keyed by ``str`` of their
    Python value, as the fold keys them."""
    out = []
    for blob, item in zip(blobs.to_pylist(), items.to_pylist()):
        if blob is None or item is None:
            out.append(0)
        else:
            out.append(mg_deserialize(blob)[0].get(str(item).encode(), 0))
    return pa.array(out, pa.int64())


@arrow_udf(LongType())
def mg_total(blobs: pa.Array) -> pa.Array:
    """Exact number of items folded (N — for the N/(k+1) error slack)."""
    return pa.array([0 if b is None else mg_deserialize(b)[1] for b in blobs.to_pylist()], pa.int64())


@arrow_udf(MapType(StringType(), LongType()))
def _mg_entries(blobs: pa.Array) -> pa.Array:
    out = []
    for blob in blobs.to_pylist():
        counts = {} if blob is None else mg_deserialize(blob)[0]
        out.append([(key.decode(), c) for key, c in counts.items()])
    return pa.array(out, pa.map_(pa.string(), pa.int64()))


def mg_entries(mg_col):
    """Explodeable map of the summary's (item, est_count) entries as a
    Spark SQL map<string,bigint> (scalar UDF)."""
    return _mg_entries(mg_col)
