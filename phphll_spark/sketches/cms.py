"""Count-Min Sketch — mergeable frequency sketch on the HLL agg skeleton.

Same distributed shape as the HLL path (SURVEY.md §2.1 rows 3/10/16):
per-partition vectorized update (np.add.at over murmur-derived columns),
sketch-only shuffle, element-wise-sum merge (associative+commutative), and
point queries as min-over-rows. Error bound: est(x) ∈ [true(x),
true(x) + ε·N] with prob ≥ 1−δ for width w = ⌈e/ε⌉, depth d = ⌈ln 1/δ⌉
(Cormode & Muthukrishnan 2005).

Wire format: b"CMSK" + uint8 d + 0x00 pad + uint32 w (LE) + d*w int64 LE
counters — small header in the spirit of the reference's HYLL framing.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.types import LongType

from .. import kernel
from ..fold import _arrow_to_buffers, merge_agg, partial_sketches, point_lookups, sketch

MAGIC = b"CMSK"
# independent row hashes: one murmur seed per row (derived from base)
_ROW_SEED_BASE = 0x58F0D321


class InvalidCMSError(ValueError):
    pass


def empty_cms(depth: int = 4, width: int = 2048) -> np.ndarray:
    return np.zeros((depth, width), dtype=np.int64)


def _row_columns(data: np.ndarray, offsets: np.ndarray, depth: int, width: int) -> np.ndarray:
    """(depth, n_items) counter columns: one murmur pass, one seed per sketch row."""
    seeds = [(_ROW_SEED_BASE + row) & 0xFFFFFFFF for row in range(depth)]
    return (kernel.murmur64a(data, offsets, seed=seeds) % np.uint64(width)).astype(np.int64)


def cms_update(cms: np.ndarray, data: np.ndarray, offsets: np.ndarray) -> None:
    """Fold a batch of byte strings (Arrow buffers) into the sketch."""
    CMSFamily(*cms.shape).fold(cms, _row_columns(data, offsets, *cms.shape), slice(None))


def cms_merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.shape != b.shape:
        raise InvalidCMSError(f"cannot merge CMS of shapes {a.shape} and {b.shape}")
    return a + b


def cms_query(cms: np.ndarray, items_data: np.ndarray, items_offsets: np.ndarray) -> np.ndarray:
    """Point frequency estimates for a batch of items (min over rows)."""
    cols = _row_columns(items_data, items_offsets, *cms.shape)
    return cms[np.arange(cms.shape[0])[:, None], cols].min(axis=0)


def cms_serialize(cms: np.ndarray) -> bytes:
    d, w = cms.shape
    return MAGIC + bytes([d, 0]) + int(w).to_bytes(4, "little") + cms.astype("<i8").tobytes()


def cms_deserialize(blob: bytes) -> np.ndarray:
    if len(blob) < 10 or blob[:4] != MAGIC:
        raise InvalidCMSError("bad magic, expected 'CMSK'")
    d = blob[4]
    w = int.from_bytes(blob[6:10], "little")
    expected = 10 + d * w * 8
    if len(blob) != expected:
        raise InvalidCMSError(f"CMS payload length {len(blob)} != {expected} for d={d} w={w}")
    return np.frombuffer(blob[10:], dtype="<i8").reshape(d, w).copy()


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CMSFamily:
    depth: int = 4
    width: int = 2048
    name = column = "cms"

    def empty(self) -> np.ndarray:
        return empty_cms(self.depth, self.width)

    def batch(self, arr: pa.Array):
        data, offsets, valid = _arrow_to_buffers(arr)
        return _row_columns(data, offsets, self.depth, self.width), valid

    def fold(self, cms: np.ndarray, cols: np.ndarray, sel) -> np.ndarray:
        for row in range(cms.shape[0]):
            np.add.at(cms[row], cols[row][sel], 1)
        return cms

    serialize = staticmethod(cms_serialize)
    deserialize = staticmethod(cms_deserialize)
    merge = staticmethod(cms_merge)


def cms_partial_sketches(
    df: DataFrame, keys: list[str], value_col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    return partial_sketches(df, keys, value_col, CMSFamily(depth, width))


def make_cms_merge_agg():
    return merge_agg(CMSFamily())


def cms_sketch(df: DataFrame, keys: list[str], value_col: str, depth: int = 4, width: int = 2048) -> DataFrame:
    return sketch(df, keys, value_col, CMSFamily(depth, width))


@arrow_udf(LongType())
def cms_total(blobs: pa.Array) -> pa.Array:
    """Exact number of items folded into the sketch: every add increments
    exactly one counter per row, so any single row sums to N. Lets callers
    derive the ε·N error slack from the sketch itself instead of running a
    separate COUNT job over the source."""
    out = np.zeros(len(blobs), dtype=np.int64)
    for i, blob in enumerate(blobs.to_pylist()):
        if blob is not None:
            out[i] = int(cms_deserialize(blob)[0].sum())
    return pa.array(out)


@arrow_udf(LongType())
def cms_point_estimate(blobs: pa.Array, items: pa.Array) -> pa.Array:
    """Per-row frequency estimate of `item` in `cms` (scalar UDF); 0 where
    either is NULL."""
    out = np.zeros(len(blobs), dtype=np.int64)
    for blob, rows, data, offsets in point_lookups(blobs, items):
        out[rows] = cms_query(cms_deserialize(blob), data, offsets)
    return pa.array(out)
