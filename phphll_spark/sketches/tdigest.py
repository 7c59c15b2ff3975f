"""t-digest — mergeable quantile sketch (Dunning's merging digest) on the
same distributed agg skeleton as HLL/CMS/Bloom.

Clustering is fully vectorized: sort, cumulative-weight midpoint quantiles,
bucket by the scale function k(q) = δ·(asin(2q−1)/π + ½), then one
np.add.reduceat per run — no per-value Python. Merge = concatenate +
re-cluster; associative up to the accuracy bound (estimates are NOT
bit-identical across merge orders — unlike max/or/plus sketches — but the
rank-error guarantee holds for any grouping, which is what the tests and
the driver oracle assert).

Wire format: b"TDIG" + uint16 delta (LE) + uint32 n_clusters (LE) +
n float64 means + n float64 weights (LE) + float64 min + float64 max.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..fold import ObjectFamily, merge_agg, partial_sketches, quantile_udf, sketch

MAGIC = b"TDIG"


class InvalidTDigestError(ValueError):
    pass


def _cluster(means: np.ndarray, weights: np.ndarray, delta: int) -> tuple[np.ndarray, np.ndarray]:
    """Re-cluster (means, weights) to at most ~delta clusters, vectorized."""
    if means.size == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    m, w = means[order].astype(np.float64), weights[order].astype(np.float64)
    W = w.sum()
    cum = np.cumsum(w)
    q = (cum - w / 2.0) / W
    k = delta * (np.arcsin(2.0 * q - 1.0) / np.pi + 0.5)
    bucket = np.minimum(k.astype(np.int64), delta - 1)
    starts = np.concatenate(([0], np.flatnonzero(np.diff(bucket)) + 1))
    new_w = np.add.reduceat(w, starts)
    new_m = np.add.reduceat(m * w, starts) / new_w
    return new_m, new_w


class TDigest:
    __slots__ = ("means", "weights", "delta", "vmin", "vmax")

    def __init__(self, delta: int = 200):
        self.means = np.empty(0, np.float64)
        self.weights = np.empty(0, np.float64)
        self.delta = delta
        self.vmin = np.inf
        self.vmax = -np.inf

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.vmin = min(self.vmin, float(values.min()))
        self.vmax = max(self.vmax, float(values.max()))
        self.means, self.weights = _cluster(
            np.concatenate((self.means, values)),
            np.concatenate((self.weights, np.ones(values.size))),
            self.delta,
        )

    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(self.delta)
        out.means, out.weights = _cluster(
            np.concatenate((self.means, other.means)),
            np.concatenate((self.weights, other.weights)),
            self.delta,
        )
        out.vmin = min(self.vmin, other.vmin)
        out.vmax = max(self.vmax, other.vmax)
        return out

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum())

    def quantile(self, q: float) -> float:
        """Interpolated value at quantile q in [0, 1]."""
        n = self.means.size
        if n == 0:
            return float("nan")
        if n == 1:
            return float(self.means[0])
        W = self.weights.sum()
        cum = np.cumsum(self.weights) - self.weights / 2.0
        target = q * W
        if target <= cum[0]:
            return float(self.vmin + (self.means[0] - self.vmin) * max(target, 0) / max(cum[0], 1e-12)) if np.isfinite(self.vmin) else float(self.means[0])
        if target >= cum[-1]:
            span = W - cum[-1]
            if np.isfinite(self.vmax) and span > 0:
                return float(self.means[-1] + (self.vmax - self.means[-1]) * (target - cum[-1]) / span)
            return float(self.means[-1])
        i = int(np.searchsorted(cum, target))
        lo_c, hi_c = cum[i - 1], cum[i]
        lo_m, hi_m = self.means[i - 1], self.means[i]
        frac = (target - lo_c) / max(hi_c - lo_c, 1e-12)
        return float(lo_m + (hi_m - lo_m) * frac)

    def serialize(self) -> bytes:
        n = self.means.size
        return (
            MAGIC
            + int(self.delta).to_bytes(2, "little")
            + int(n).to_bytes(4, "little")
            + self.means.astype("<f8").tobytes()
            + self.weights.astype("<f8").tobytes()
            + np.array([self.vmin, self.vmax], dtype="<f8").tobytes()
        )

    @classmethod
    def deserialize(cls, blob: bytes) -> "TDigest":
        if len(blob) < 10 or blob[:4] != MAGIC:
            raise InvalidTDigestError("bad magic, expected 'TDIG'")
        delta = int.from_bytes(blob[4:6], "little")
        n = int.from_bytes(blob[6:10], "little")
        expected = 10 + 16 * n + 16
        if len(blob) != expected:
            raise InvalidTDigestError(f"t-digest payload length {len(blob)} != {expected}")
        out = cls(delta)
        out.means = np.frombuffer(blob[10 : 10 + 8 * n], dtype="<f8").copy()
        out.weights = np.frombuffer(blob[10 + 8 * n : 10 + 16 * n], dtype="<f8").copy()
        out.vmin, out.vmax = np.frombuffer(blob[10 + 16 * n :], dtype="<f8")
        return out


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

def tdigest_partial_sketches(df: DataFrame, keys: list[str], value_col: str, delta: int = 200) -> DataFrame:
    return partial_sketches(df, keys, value_col, ObjectFamily(TDigest, delta, "tdigest"))


def make_tdigest_merge_agg(delta: int = 200):
    return merge_agg(ObjectFamily(TDigest, delta, "tdigest"))


def tdigest_sketch(df: DataFrame, keys: list[str], value_col: str, delta: int = 200) -> DataFrame:
    return sketch(df, keys, value_col, ObjectFamily(TDigest, delta, "tdigest"))


tdigest_quantile = quantile_udf(TDigest)
