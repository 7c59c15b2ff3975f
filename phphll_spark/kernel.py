"""Pure-numpy HyperLogLog kernel — the compute core of the engine.

Everything here is vectorized numpy over whole batches; no per-element
Python in any hot path. Algorithm parity targets (reference
``/root/reference/``, shabbyrobe/phphll, which vendors Redis 2.8.19
``hyperloglog.c``):

- hash: MurmurHash64A, seed ``0xadc83b19`` (hyperloglog.c:387-433,453)
- register index = low ``p`` bits of the hash (hyperloglog.c:454)
- rho = 1 + run of zero bits starting at bit ``p`` (hyperloglog.c:438-464)
- register update = element-wise max (hyperloglog.c:479-492)
- merge = element-wise max (hyperloglog.c:1038-1077)
- estimator: alpha*m^2/sum(2^-reg), linear counting below 2.5*m,
  p=14 quartic bias correction below E=72000 (hyperloglog.c:961-1018)

The in-flight register layout is one ``uint8`` per register — exactly the
reference's internal ``HLL_RAW`` scratch encoding (hyperloglog.c:197,
920-948); 6-bit dense packing and sparse RLE live in :mod:`.codec` and are
storage formats only.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

HLL_P_DEFAULT = 14
HLL_P_MIN = 4
HLL_P_MAX = 18
MURMUR_SEED = 0xADC83B19

_M64 = np.uint64(0xC6A4A7935BD1E995)
_R47 = np.uint64(47)
_U1 = np.uint64(1)
_U8 = np.uint64(8)

# 2^-j lookup, PE[0] == 1 (hyperloglog.c:968-977)
_PE = np.concatenate(([1.0], 1.0 / (2.0 ** np.arange(1, 64)))).astype(np.float64)


def m_for_p(p: int) -> int:
    if not (HLL_P_MIN <= p <= HLL_P_MAX):
        raise ValueError(f"precision p must be in [{HLL_P_MIN}, {HLL_P_MAX}], got {p}")
    return 1 << p


def empty_registers(p: int = HLL_P_DEFAULT) -> np.ndarray:
    """Zeroed raw register array (the agg buffer; hyperloglog.c:1083-1113)."""
    return np.zeros(m_for_p(p), dtype=np.uint8)


def murmur64a_windows(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: int | Sequence[int] = MURMUR_SEED
) -> np.ndarray:
    """Vectorized MurmurHash64A over N byte windows of one shared buffer.

    Windows may overlap (zero-copy shingling) and have arbitrary lengths.
    Implementation: an unaligned little-endian uint64 *view* of the buffer
    (stride 1 byte) turns each 8-byte chunk load into a single gather —
    exactly the reference's ``k = *((uint64_t*)data)`` on LE hosts
    (hyperloglog.c:398), with no padding/scatter step. Bit-exact vs the
    reference C implementation (verified in tests/test_kernel.py).

    ``seed`` may be a sequence of seeds: the result is then one row per
    seed, shape ``(len(seed), N)``. Each chunk is gathered and mixed once
    and folded into every seed's state (``h[..., i]`` indexes both shapes).

    Rows are hashed in tiles of ~1 MB of window bytes (4096..16384 rows),
    so each tile's hash state and positions stay in cache across its chunk
    loop instead of streaming batch-sized arrays through DRAM once per
    chunk.
    """
    seeds = np.asarray(seed, dtype=np.uint64)
    n = len(starts)
    out = np.empty(seeds.shape + (n,), dtype=np.uint64)
    if n == 0:
        return out
    # pad by 8 zero bytes so u64/tail gathers never read out of bounds
    padded = np.empty(len(buf) + 8, dtype=np.uint8)
    padded[: len(buf)] = buf
    padded[len(buf):] = 0
    u64 = np.ndarray(shape=(len(padded) - 7,), dtype="<u8", buffer=padded.data, strides=(1,))

    starts = starts.astype(np.int64, copy=False)
    lens = lens.astype(np.int64, copy=False)
    tile = _tile_rows(lens)
    for t0 in range(0, n, tile):
        out[..., t0:t0 + tile] = _murmur_tile(u64, seeds, starts[t0:t0 + tile], lens[t0:t0 + tile])
    return out


def _tile_rows(lens: np.ndarray) -> int:
    """Rows per murmur tile: ~1 MB of window bytes, 4096..16384 rows."""
    return min(max((1 << 20) // max(int(lens.sum()) // len(lens), 1), 4096), 16384)


def _murmur_tile(u64: np.ndarray, seeds: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """MurmurHash64A of one tile of windows over the padded uint64 view."""
    h = seeds[..., None] ^ (lens.astype(np.uint64) * _M64)

    full_chunks = lens >> 3  # number of whole 8-byte words per window
    min_chunks = int(full_chunks.min())
    max_chunks = int(full_chunks.max())

    # chunks every window has: mask-free in-place loop over the whole tile
    # (web text is near-uniform length, so this covers almost all work)
    pos = starts.copy()
    for _ in range(min_chunks):
        k = u64[pos]
        k *= _M64
        k ^= k >> _R47
        k *= _M64
        h ^= k
        h *= _M64
        pos += 8

    if max_chunks > min_chunks:
        # ragged remainder: sort by chunk count once, then each further
        # chunk touches only the still-active suffix — no masks, no where
        order = np.argsort(full_chunks, kind="stable")
        fc_s = full_chunks[order]
        h_s = h[..., order]
        pos_s = pos[order]
        for c in range(min_chunks, max_chunks):
            a0 = np.searchsorted(fc_s, c, side="right")
            k = u64[pos_s[a0:]]
            k *= _M64
            k ^= k >> _R47
            k *= _M64
            h_s[..., a0:] ^= k
            h_s[..., a0:] *= _M64
            pos_s[a0:] += 8
        h = np.empty_like(h_s)
        h[..., order] = h_s
        pos = np.empty_like(pos_s)
        pos[order] = pos_s

    # tail (< 8 bytes): one LE u64 gather masked to the tail length is
    # exactly the reference's byte-by-byte little-endian fallthrough
    # (hyperloglog.c:407-421); pos <= len(buf) so the gather stays in the
    # zero padding
    tail = (lens & 7).astype(np.uint64)
    if tail.any():
        w = u64[pos]
        w &= (_U1 << (_U8 * tail)) - _U1
        h = np.where(tail > 0, (h ^ w) * _M64, h)

    h ^= h >> _R47
    h *= _M64
    h ^= h >> _R47
    return h


def murmur64a(data: np.ndarray, offsets: np.ndarray, seed: int | Sequence[int] = MURMUR_SEED) -> np.ndarray:
    """Vectorized MurmurHash64A over N byte strings (Arrow buffer layout:
    concatenated uint8 payload + N+1 offsets); a sequence of seeds gives
    one row of hashes per seed, as in :func:`murmur64a_windows`."""
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    return murmur64a_windows(data, starts, lens, seed)


def hash_idx_rho(hashes: np.ndarray, p: int = HLL_P_DEFAULT) -> tuple[np.ndarray, np.ndarray]:
    """Split 64-bit hashes into (register index, rho).

    idx = low p bits; rho = 1 + count of zero bits starting at bit p, with
    bit 63 forced set so the run terminates (hyperloglog.c:438-464; max
    rho = 64 - p + 1).
    """
    m = np.uint64(m_for_p(p))
    idx = (hashes & (m - _U1)).astype(np.int64)
    rest = (hashes >> np.uint64(p)) | (_U1 << np.uint64(63 - p))
    # rho = trailing zero count + 1, via isolate-lowest-set-bit + float exponent
    low = rest & (~rest + _U1)
    # float64 exactly represents any single power of two < 2^64
    tz = (np.frexp(low.astype(np.float64))[1] - 1).astype(np.uint8)
    rho = tz + np.uint8(1)
    return idx, rho


def update_registers(regs: np.ndarray, idx: np.ndarray, rho: np.ndarray) -> None:
    """Fold a batch of (idx, rho) into a raw register array in place.

    The batch analog of ``reg[i] = max(reg[i], rho)`` (hyperloglog.c:479-492).
    """
    np.maximum.at(regs, idx, rho)


def sparse_update(
    idx_cur: np.ndarray, rho_cur: np.ndarray, idx_new: np.ndarray, rho_new: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Fold a batch of (idx, rho) observations into a SPARSE register set
    (sorted unique idx + per-idx max rho) — the in-flight analog of the
    reference's sparse encoding (hyperloglog.c:632-876): low-cardinality
    groups cost O(set registers), not a 2^p raw buffer each.

    Returns the new (idx, rho) pair; same max-merge semantics as
    ``update_registers``, so densifying at any point yields bit-identical
    registers."""
    mi = np.concatenate([idx_cur, idx_new])
    mr = np.concatenate([rho_cur, rho_new])
    if len(mi) == 0:
        return mi, mr
    order = np.argsort(mi, kind="stable")
    si, sr = mi[order], mr[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(si)) + 1))
    return si[starts], np.maximum.reduceat(sr, starts)


def sparse_to_registers(idx: np.ndarray, rho: np.ndarray, p: int = HLL_P_DEFAULT) -> np.ndarray:
    """Densify a sparse (idx, rho) register set into a raw register array
    (sparse-to-dense promotion, hyperloglog.c:897-959)."""
    regs = empty_registers(p)
    if len(idx):
        regs[idx] = rho
    return regs


def add_bytes(regs: np.ndarray, data: np.ndarray, offsets: np.ndarray, p: int | None = None) -> None:
    """Hash + fold a batch of byte strings into ``regs`` (raw layout)."""
    if p is None:
        p = int(regs.size).bit_length() - 1
    if len(offsets) <= 1:
        return
    idx, rho = hash_idx_rho(murmur64a(data, offsets), p)
    update_registers(regs, idx, rho)


def merge_registers(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union of two sketches = element-wise max (hyperloglog.c:1038-1077).

    Associative, commutative, idempotent — safe under any partition
    grouping / shuffle order, which is what makes the distributed
    partial+final aggregation correct.
    """
    if a.size != b.size:
        raise ValueError(f"cannot merge sketches of different precision: {a.size} != {b.size}")
    return np.maximum(a, b)


def estimate(regs: np.ndarray) -> int:
    """Cardinality estimate from a raw register array (hyperloglog.c:961-1018).

    alpha*m^2 / sum(2^-reg); linear counting when E < 2.5m and there are
    zero registers; quartic bias correction only for p=14 below E=72000
    (coefficients hyperloglog.c:1006-1010); truncating uint64 cast.
    """
    m = float(regs.size)
    alpha = 0.7213 / (1 + 1.079 / m)
    pe = _PE[regs]
    E = float(pe.sum())
    ez = int(np.count_nonzero(regs == 0))
    E = (1.0 / E) * alpha * m * m
    if E < m * 2.5 and ez != 0:
        E = m * math.log(m / ez)
    elif m == 16384 and E < 72000:
        bias = (
            5.9119e-18 * (E**4)
            - 1.4253e-12 * (E**3)
            + 1.2940e-7 * (E**2)
            - 5.2921e-3 * E
            + 83.3216
        )
        E -= E * (bias / 100)
    return int(E)


def relative_error_bound(p: int = HLL_P_DEFAULT) -> float:
    """Published standard error 1.04/sqrt(m) (hyperloglog.c:1622)."""
    return 1.04 / math.sqrt(m_for_p(p))


def bytes_to_buffers(items) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate an iterable of ``bytes`` into (data, offsets) Arrow-style
    buffers. Test/driver convenience — Spark paths get buffers straight from
    Arrow without per-element Python (see functions/sketch.py).
    """
    blobs = list(items)
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    if blobs:
        np.cumsum([len(b) for b in blobs], out=offsets[1:])
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8) if blobs else np.empty(0, np.uint8)
    return data, offsets


def hash_one(element: bytes, seed: int = MURMUR_SEED) -> int:
    """Hash a single byte string (tests / scalar paths)."""
    data, offsets = bytes_to_buffers([element])
    return int(murmur64a(data, offsets, seed)[0])
