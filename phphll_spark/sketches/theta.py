"""Theta (KMV) sketch — mergeable distinct-count sketch with SET
OPERATIONS (union / intersection / difference), on the same distributed
skeleton as the HLL/CMS family (per-partition vectorized fold,
sketch-only shuffle, associative merge agg).

Where HLL only unions (SURVEY.md §2.5 set ops — intersection there is
inclusion–exclusion arithmetic with summed bounds), the theta sketch
supports first-class set algebra (Dasgupta, Lang, Rhodes, Thorpe —
the Apache DataSketches theta framework): a sketch retains the at most
``k`` smallest 64-bit hash values below a threshold θ (initially 1);
``estimate = |retained| / θ``. For two sketches:

- union:        θ = min(θa, θb); retained = k smallest of (A ∪ B) < θ
- intersection: θ = min(θa, θb); retained = (A ∩ B) < θ
- a-not-b:      θ = min(θa, θb); retained = (A \\ B_all) < θ

Relative standard error ≈ 1/√(k−1) for union-built sketches;
intersection error grows as the true overlap shrinks (the standard
caveat — exported bounds use the retained-count form
RSE ≈ √((1−j)/j)/√k with j the observed Jaccard, simplified here to the
union bound for tests in the exact regime).

Determinism: retained sets are SETS of hashes and trimming keeps the k
smallest — so folds and merges are associative, commutative, idempotent
and partition-order invariant BIT-EXACTLY (stronger than t-digest/MG,
same as HLL), which the property tests pin.

Below ``k`` distinct values θ stays 1 and every operation is EXACT —
the oracle-comparable regime.

Wire format: b"THTA" + uint32 k + uint64 theta (scaled, 2^64-1 ⇔ θ=1) +
uint32 n + n × uint64 sorted retained hashes (LE) — same small-header
framing spirit as the reference's HYLL header (hyperloglog.c:1120-1176).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.types import BinaryType, BooleanType, DoubleType, LongType

from .. import kernel
from ..fold import _arrow_to_buffers, merge_agg, partial_sketches, sketch

MAGIC = b"THTA"
_THETA_ONE = np.uint64(0xFFFFFFFFFFFFFFFF)
_EMPTY = np.empty(0, dtype=np.uint64)


class InvalidThetaError(ValueError):
    pass


def _trim(entries: np.ndarray, theta: np.uint64, k: int) -> tuple[np.ndarray, np.uint64]:
    """Keep the k smallest entries strictly below theta; when trimming,
    theta becomes the (k+1)-th smallest (dropped) value."""
    entries = entries[entries < theta]
    if len(entries) > k:
        entries = np.sort(entries)
        theta = entries[k]
        entries = entries[:k]
    else:
        entries = np.sort(entries)
    return entries, theta


def theta_fold(
    entries: np.ndarray, theta: np.uint64, hashes: np.ndarray, k: int
) -> tuple[np.ndarray, np.uint64]:
    """Fold a batch of 64-bit hashes into (entries, theta) — vectorized:
    filter below theta, set-union, one trim."""
    hv = np.unique(hashes[hashes < theta])
    if len(hv) == 0:
        return entries, theta
    merged = np.union1d(entries, hv)
    return _trim(merged, theta, k)


def theta_merge(
    a: tuple[np.ndarray, np.uint64], b: tuple[np.ndarray, np.uint64], k: int
) -> tuple[np.ndarray, np.uint64]:
    """Union merge — associative/commutative/idempotent bit-exactly."""
    theta = min(a[1], b[1])
    merged = np.union1d(a[0], b[0])
    return _trim(merged, theta, k)


def theta_estimate_state(entries: np.ndarray, theta: np.uint64) -> float:
    if theta == _THETA_ONE:
        return float(len(entries))  # exact regime
    return len(entries) / (int(theta) / 2.0**64)


def theta_intersect_state(
    a: tuple[np.ndarray, np.uint64], b: tuple[np.ndarray, np.uint64]
) -> tuple[np.ndarray, np.uint64]:
    theta = min(a[1], b[1])
    inter = np.intersect1d(a[0], b[0])
    return inter[inter < theta], theta


def theta_a_not_b_state(
    a: tuple[np.ndarray, np.uint64], b: tuple[np.ndarray, np.uint64]
) -> tuple[np.ndarray, np.uint64]:
    theta = min(a[1], b[1])
    diff = np.setdiff1d(a[0], b[0])
    return diff[diff < theta], theta


def theta_serialize(entries: np.ndarray, theta: np.uint64, k: int) -> bytes:
    return b"".join(
        [
            MAGIC,
            struct.pack("<IQI", k, int(theta), len(entries)),
            np.sort(entries.astype(np.uint64)).tobytes(),
        ]
    )


def theta_deserialize(blob: bytes) -> tuple[np.ndarray, np.uint64, int]:
    if len(blob) < 20 or blob[:4] != MAGIC:
        raise InvalidThetaError("bad magic, expected 'THTA'")
    k, theta, n = struct.unpack_from("<IQI", blob, 4)
    if len(blob) != 20 + 8 * n:
        raise InvalidThetaError(f"theta payload length {len(blob)} != {20 + 8 * n}")
    entries = np.frombuffer(blob, dtype="<u8", count=n, offset=20).copy()
    return entries, np.uint64(theta), k


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ThetaFamily:
    """State: (entries, theta, k); values are hashed straight from the
    Arrow buffers with the repo's murmur64a, and the shuffle carries
    ≤(20 + 8k)-byte sketches."""

    k: int = 4096
    name = column = "theta"

    def empty(self):
        return _EMPTY, _THETA_ONE, self.k

    def batch(self, arr: pa.Array):
        data, offsets, valid = _arrow_to_buffers(arr)
        return kernel.murmur64a(data, offsets), valid

    def fold(self, state, hashes: np.ndarray, sel):
        entries, theta, k = state
        return (*theta_fold(entries, theta, hashes[sel], k), k)

    def serialize(self, state) -> bytes:
        return theta_serialize(*state)

    deserialize = staticmethod(theta_deserialize)

    def merge(self, a, b):
        if a[2] != b[2]:
            raise InvalidThetaError(f"cannot merge theta sketches of k {a[2]} and {b[2]}")
        return (*theta_merge(a[:2], b[:2], a[2]), a[2])


def theta_partial_sketches(
    df: DataFrame, keys: list[str], value_col: str, k: int = 4096
) -> DataFrame:
    return partial_sketches(df, keys, value_col, ThetaFamily(k))


def make_theta_merge_agg():
    return merge_agg(ThetaFamily())


def theta_sketch(df: DataFrame, keys: list[str], value_col: str, k: int = 4096) -> DataFrame:
    """keys... + merged ``theta`` sketch per group."""
    return sketch(df, keys, value_col, ThetaFamily(k))


@arrow_udf(DoubleType())
def theta_estimate(blobs: pa.Array) -> pa.Array:
    return pa.array(
        [0.0 if b is None else theta_estimate_state(*theta_deserialize(b)[:2]) for b in blobs.to_pylist()],
        pa.float64(),
    )


@arrow_udf(LongType())
def theta_retained(blobs: pa.Array) -> pa.Array:
    return pa.array([0 if b is None else theta_deserialize(b)[0].size for b in blobs.to_pylist()], pa.int64())


@arrow_udf(BooleanType())
def theta_is_exact(blobs: pa.Array) -> pa.Array:
    """TRUE while the sketch is still in its EXACT regime: θ == 1 means no
    trim ever happened, so the retained set is the complete distinct-hash
    set and every estimate/set-op on it is exact (up to 64-bit hash
    collisions). θ only ever decreases (fold and merge both min/trim), so
    a merged sketch is exact iff its whole input stream held ≤ k distinct
    values."""
    return pa.array(
        [b is not None and bool(theta_deserialize(b)[1] == _THETA_ONE) for b in blobs.to_pylist()], pa.bool_()
    )


def theta_intersection_report(
    sketch_a, sketch_b, exact_col, union_est_col, *, k: int
) -> list:
    """Regime-aware intersection export columns (SURVEY.md §2.5 set ops —
    the estimation-regime contract the exact-pin oracle can't cover):

    - ``theta_exact_regime``: both sides still θ=1 (≤ k distinct each) —
      the intersection below is then EXACT, not an estimate.
    - ``theta_intersection``: the intersection estimate in the exact
      regime (pinnable to the true count by an oracle), −1 once either
      side estimates — an estimate must never be exported where a gate
      would hash-compare it against an exact value.
    - ``theta_within_bound``: exact regime ⇒ strict equality with
      ``exact_col``; estimation regime ⇒ |est − exact| ≤
      ⌈6/√(k−1) · union⌉. The union scaling is the conservative form of
      the binomial-thinning variance: retained∩ ~ Binomial(I, θ) with
      θ ≈ k/U gives std(est) ≈ √(I·U/k) ≤ U/√k, so 6/√(k−1)·U ≥ 6σ.

    ``sketch_a``/``sketch_b`` are merged theta sketch columns (same k as
    the ``k`` argument), ``exact_col`` the true intersection count,
    ``union_est_col`` an upper-ish estimate of |A ∪ B| (an HLL union
    estimate qualifies)."""
    est = theta_estimate(theta_intersect(sketch_a, sketch_b)).cast("long")
    exact_regime = theta_is_exact(sketch_a) & theta_is_exact(sketch_b)
    bound = F.ceil(F.lit(6.0 / math.sqrt(k - 1)) * union_est_col)
    return [
        exact_regime.alias("theta_exact_regime"),
        F.when(exact_regime, est).otherwise(F.lit(-1)).alias("theta_intersection"),
        F.when(exact_regime, est == exact_col)
        .otherwise(F.abs(est - exact_col) <= bound)
        .alias("theta_within_bound"),
    ]


def _binary_op(op):
    @arrow_udf(BinaryType())
    def fn(a: pa.Array, b: pa.Array) -> pa.Array:
        out = []
        for x, y in zip(a.to_pylist(), b.to_pylist()):
            if x is None or y is None:
                out.append(None)
                continue
            ea, ta, ka = theta_deserialize(x)
            eb, tb, kb = theta_deserialize(y)
            if ka != kb:
                raise InvalidThetaError(f"cannot combine theta sketches of k {ka} and {kb}")
            entries, theta = op((ea, ta), (eb, tb), ka)
            out.append(theta_serialize(entries, theta, ka))
        return pa.array(out, pa.binary())

    return fn


theta_intersect = _binary_op(lambda a, b, k: theta_intersect_state(a, b))
theta_a_not_b = _binary_op(lambda a, b, k: theta_a_not_b_state(a, b))
theta_union_pair = _binary_op(theta_merge)
