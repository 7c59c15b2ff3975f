"""Bloom filter — mergeable membership sketch on the same agg skeleton.

Distributed shape identical to the HLL path: vectorized per-partition bit
sets (np.bitwise_or.at over packed uint64 words), bit-blob-only shuffle,
bitwise-OR merge (associative/commutative/idempotent). k hash functions
derived from one murmur64 via the Kirsch-Mitzenmacher double-hashing
construction (h1 + i*h2), so membership tests cost one hash pass.

Wire format: b"BLMK" + uint8 k + 0x00 pad + uint32 m_bits (LE) + packed
little-endian uint64 words.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.types import BooleanType

from .. import kernel
from ..fold import _arrow_to_buffers, merge_agg, partial_sketches, point_lookups, sketch

MAGIC = b"BLMK"
_SEED1 = 0x2545F491
_SEED2 = 0x8CB92BA7


class InvalidBloomError(ValueError):
    pass


def optimal_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) minimizing size for a target false-positive rate."""
    m = max(64, int(-n_items * math.log(fp_rate) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / max(n_items, 1) * math.log(2)))
    return m, min(k, 16)


def empty_bloom(m_bits: int = 8192) -> np.ndarray:
    if m_bits <= 0 or m_bits % 64:
        raise ValueError(f"bloom m_bits must be a positive multiple of 64, got {m_bits}")
    return np.zeros(m_bits // 64, dtype=np.uint64)


def _bit_positions(data: np.ndarray, offsets: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n_items, k) bit positions via double hashing."""
    h1, h2 = kernel.murmur64a(data, offsets, seed=(_SEED1, _SEED2))
    h2 |= np.uint64(1)  # odd
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(words: np.ndarray, pos: np.ndarray) -> None:
    pos = pos.reshape(-1)
    np.bitwise_or.at(words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))


def bloom_update(words: np.ndarray, data: np.ndarray, offsets: np.ndarray, k: int) -> None:
    _set_bits(words, _bit_positions(data, offsets, words.size * 64, k))


def bloom_contains(words: np.ndarray, data: np.ndarray, offsets: np.ndarray, k: int) -> np.ndarray:
    """Vectorized membership test for a batch of items -> bool array."""
    pos = _bit_positions(data, offsets, words.size * 64, k)
    bits = (words[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
    return bits.all(axis=1)


def bloom_merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.size != b.size:
        raise InvalidBloomError(f"cannot merge blooms of sizes {a.size * 64} and {b.size * 64} bits")
    return a | b


def bloom_serialize(words: np.ndarray, k: int) -> bytes:
    return MAGIC + bytes([k, 0]) + int(words.size * 64).to_bytes(4, "little") + words.astype("<u8").tobytes()


def bloom_deserialize(blob: bytes) -> tuple[np.ndarray, int]:
    if len(blob) < 10 or blob[:4] != MAGIC:
        raise InvalidBloomError("bad magic, expected 'BLMK'")
    k = blob[4]
    m_bits = int.from_bytes(blob[6:10], "little")
    expected = 10 + m_bits // 8
    if len(blob) != expected:
        raise InvalidBloomError(f"bloom payload length {len(blob)} != {expected} for m={m_bits}")
    return np.frombuffer(blob[10:], dtype="<u8").copy(), k


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class BloomFamily:
    """State: (words, k)."""

    m_bits: int = 65536
    k: int = 7
    name = column = "bloom"

    def empty(self) -> tuple[np.ndarray, int]:
        return empty_bloom(self.m_bits), self.k

    def batch(self, arr: pa.Array):
        data, offsets, valid = _arrow_to_buffers(arr)
        return _bit_positions(data, offsets, self.m_bits, self.k), valid

    def fold(self, state, pos: np.ndarray, sel):
        _set_bits(state[0], pos[sel])
        return state

    def serialize(self, state) -> bytes:
        return bloom_serialize(*state)

    deserialize = staticmethod(bloom_deserialize)

    def merge(self, a, b):
        if a[1] != b[1]:
            raise InvalidBloomError(f"cannot merge blooms of {a[1]} and {b[1]} hash functions")
        return bloom_merge(a[0], b[0]), a[1]


def bloom_partial_sketches(
    df: DataFrame, keys: list[str], value_col: str, m_bits: int = 65536, k: int = 7
) -> DataFrame:
    return partial_sketches(df, keys, value_col, BloomFamily(m_bits, k))


def make_bloom_merge_agg():
    return merge_agg(BloomFamily())


def bloom_sketch(df: DataFrame, keys: list[str], value_col: str, m_bits: int = 65536, k: int = 7) -> DataFrame:
    return sketch(df, keys, value_col, BloomFamily(m_bits, k))


@arrow_udf(BooleanType())
def bloom_might_contain(blobs: pa.Array, items: pa.Array) -> pa.Array:
    """Per-row membership test of `item` in `bloom` (scalar UDF); False
    where either is NULL."""
    out = np.zeros(len(blobs), dtype=bool)
    for blob, rows, data, offsets in point_lookups(blobs, items):
        words, k = bloom_deserialize(blob)
        out[rows] = bloom_contains(words, data, offsets, k)
    return pa.array(out)
