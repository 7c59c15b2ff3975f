"""KLL — mergeable quantile sketch (Karnin-Lang-Liberty 2016), the last of
the north rule's sketch family (HLL, count-min, t-digest, KLL, Bloom).

Compactor-ladder design: level i holds items of weight 2^i; a full level
sorts itself and promotes every other item upward. Compaction parity is
deterministic (alternating per level), so a fixed input stream yields a
fixed sketch; across different merge orders the sketch differs but the
rank-error guarantee (~O(1/k)) holds for any grouping — tests and the
driver oracle assert the bound, not bit-equality (same caveat as
t-digest; HLL/CMS/Bloom merges ARE bit-exact).

Wire format: b"KLLQ" + uint16 k + uint8 n_levels + 0x00 +
per level: uint32 count + count float64s, then float64 min + max +
uint64 total_n.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..fold import ObjectFamily, merge_agg, partial_sketches, quantile_udf, sketch

MAGIC = b"KLLQ"
_C = 2.0 / 3.0


class InvalidKLLError(ValueError):
    pass


class KLL:
    __slots__ = ("k", "levels", "parities", "n", "vmin", "vmax")

    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, np.float64)]
        self.parities: list[int] = [0]
        self.n = 0
        self.vmin = np.inf
        self.vmax = -np.inf

    def _capacity(self, level: int) -> int:
        depth = len(self.levels) - 1 - level
        return max(int(np.ceil(self.k * (_C**depth))), 8)

    def _compact(self) -> None:
        i = 0
        while i < len(self.levels):
            if self.levels[i].size <= self._capacity(i):
                i += 1
                continue
            buf = np.sort(self.levels[i], kind="stable")
            offset = self.parities[i] & 1
            self.parities[i] += 1
            promoted = buf[offset::2]
            self.levels[i] = np.empty(0, np.float64)
            if i + 1 == len(self.levels):
                self.levels.append(np.empty(0, np.float64))
                self.parities.append(0)
            self.levels[i + 1] = np.concatenate((self.levels[i + 1], promoted))
            # capacities depend on ladder height — re-check from the bottom
            i = 0

    def add(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.vmin = min(self.vmin, float(values.min()))
        self.vmax = max(self.vmax, float(values.max()))
        self.n += int(values.size)
        self.levels[0] = np.concatenate((self.levels[0], values))
        self._compact()

    def merge(self, other: "KLL") -> "KLL":
        out = KLL(self.k)
        height = max(len(self.levels), len(other.levels))
        out.levels = []
        out.parities = []
        for i in range(height):
            a = self.levels[i] if i < len(self.levels) else np.empty(0, np.float64)
            b = other.levels[i] if i < len(other.levels) else np.empty(0, np.float64)
            out.levels.append(np.concatenate((a, b)))
            pa = self.parities[i] if i < len(self.parities) else 0
            pb = other.parities[i] if i < len(other.parities) else 0
            out.parities.append(pa + pb)
        out.n = self.n + other.n
        out.vmin = min(self.vmin, other.vmin)
        out.vmax = max(self.vmax, other.vmax)
        out._compact()
        return out

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 2.0**i))
        if not items:
            return np.empty(0, np.float64), np.empty(0, np.float64)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantile(self, q: float) -> float:
        it, w = self._weighted()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(w) - w / 2.0
        target = q * w.sum()
        i = int(np.clip(np.searchsorted(cum, target), 0, it.size - 1))
        return float(it[i])

    def rank(self, value: float) -> float:
        it, w = self._weighted()
        if it.size == 0:
            return float("nan")
        return float(w[it <= value].sum() / w.sum())

    def serialize(self) -> bytes:
        parts = [
            MAGIC,
            int(self.k).to_bytes(2, "little"),
            bytes([len(self.levels), 0]),
        ]
        for lv in self.levels:
            parts.append(int(lv.size).to_bytes(4, "little"))
            parts.append(lv.astype("<f8").tobytes())
        parts.append(np.array([self.vmin, self.vmax], dtype="<f8").tobytes())
        parts.append(int(self.n).to_bytes(8, "little"))
        return b"".join(parts)

    @classmethod
    def deserialize(cls, blob: bytes) -> "KLL":
        if len(blob) < 8 or blob[:4] != MAGIC:
            raise InvalidKLLError("bad magic, expected 'KLLQ'")
        k = int.from_bytes(blob[4:6], "little")
        n_levels = blob[6]
        out = cls(k)
        out.levels, out.parities = [], []
        pos = 8
        try:
            for _ in range(n_levels):
                cnt = int.from_bytes(blob[pos : pos + 4], "little")
                pos += 4
                end = pos + 8 * cnt
                if end > len(blob):
                    raise InvalidKLLError("truncated KLL level data")
                out.levels.append(np.frombuffer(blob[pos:end], dtype="<f8").copy())
                out.parities.append(0)
                pos = end
            if pos + 24 != len(blob):
                raise InvalidKLLError("bad KLL trailer length")
            out.vmin, out.vmax = np.frombuffer(blob[pos : pos + 16], dtype="<f8")
            out.n = int.from_bytes(blob[pos + 16 :], "little")
        except (ValueError, IndexError) as e:
            raise InvalidKLLError(str(e)) from e
        if not out.levels:
            out.levels, out.parities = [np.empty(0, np.float64)], [0]
        return out


# ---------------------------------------------------------------------------
# Spark surface: the shared fold driver (phphll_spark/fold.py)
# ---------------------------------------------------------------------------

def kll_partial_sketches(df: DataFrame, keys: list[str], value_col: str, k: int = 200) -> DataFrame:
    return partial_sketches(df, keys, value_col, ObjectFamily(KLL, k, "kll"))


def make_kll_merge_agg(k: int = 200):
    return merge_agg(ObjectFamily(KLL, k, "kll"))


def kll_sketch(df: DataFrame, keys: list[str], value_col: str, k: int = 200) -> DataFrame:
    return sketch(df, keys, value_col, ObjectFamily(KLL, k, "kll"))


kll_quantile = quantile_udf(KLL)
