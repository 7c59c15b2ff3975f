"""Kernel correctness: murmur bit-exactness, idx/rho, estimator branches.

Mirrors the reference's built-in randomized self-test
(pfselftestCommand, hyperloglog.c:1576-1676) and the golden .phpt suite.
"""

import math
import os
import struct
import subprocess
import tempfile

import numpy as np
import pytest

from phphll_spark import kernel


def murmur64a_scalar(data: bytes, seed: int = kernel.MURMUR_SEED) -> int:
    """Straightforward per-byte reference implementation (independent of the
    numpy one) of MurmurHash64A as specified at hyperloglog.c:387-433."""
    m = 0xC6A4A7935BD1E995
    r = 47
    mask = (1 << 64) - 1
    h = (seed ^ ((len(data) * m) & mask)) & mask
    nblocks = len(data) // 8
    for i in range(nblocks):
        (k,) = struct.unpack_from("<Q", data, i * 8)
        k = (k * m) & mask
        k ^= k >> r
        k = (k * m) & mask
        h ^= k
        h = (h * m) & mask
    tail = data[nblocks * 8 :]
    for j in range(len(tail) - 1, -1, -1):
        h ^= tail[j] << (8 * j)
    if tail:
        h = (h * m) & mask
    h ^= h >> r
    h = (h * m) & mask
    h ^= h >> r
    return h


@pytest.mark.parametrize(
    "items",
    [
        [b""],
        [b"a"],
        [b"abcdefg"],
        [b"abcdefgh"],
        [b"abcdefghi"],
        [b"hello world, this is a longer string spanning several words"],
        [b"\x00\x01\x02\xff\xfe binary \x00 safe"],
        [bytes(range(256))],
    ],
)
def test_murmur_matches_scalar_reference(items):
    data, offsets = kernel.bytes_to_buffers(items)
    got = kernel.murmur64a(data, offsets)
    for i, item in enumerate(items):
        assert int(got[i]) == murmur64a_scalar(item), item


def test_murmur_mixed_length_batch():
    rng = np.random.default_rng(42)
    items = [bytes(rng.integers(0, 256, size=int(n), dtype=np.uint8)) for n in rng.integers(0, 64, 200)]
    data, offsets = kernel.bytes_to_buffers(items)
    got = kernel.murmur64a(data, offsets)
    want = [murmur64a_scalar(it) for it in items]
    assert [int(x) for x in got] == want


@pytest.mark.parametrize(
    "lengths",
    [
        [0],
        [0, 0, 0],
        [1, 2, 3, 4, 5, 6, 7],
        [8],
        [8, 16, 24, 64],
        [0, 1, 7, 8, 9, 15, 16, 17, 40, 3, 0, 64],
    ],
    ids=["empty", "all-empty", "1-7", "8", "multiples-of-8", "mixed"],
)
def test_murmur_seed_sequence_matches_per_seed_calls(lengths):
    """One fused pass over several seeds is bit-identical to one call per
    seed; an int seed keeps the 1-D shape."""
    rng = np.random.default_rng(len(lengths))
    items = [bytes(rng.integers(0, 256, size=n, dtype=np.uint8)) for n in lengths]
    data, offsets = kernel.bytes_to_buffers(items)
    seeds = [0x58F0D321, 0x58F0D322, kernel.MURMUR_SEED, 0]
    fused = kernel.murmur64a(data, offsets, seed=seeds)
    assert fused.shape == (len(seeds), len(items)) and fused.dtype == np.uint64
    for row, seed in zip(fused, seeds):
        single = kernel.murmur64a(data, offsets, seed=seed)
        assert single.shape == (len(items),)
        np.testing.assert_array_equal(row, single)
        assert [int(x) for x in single] == [murmur64a_scalar(it, seed) for it in items]
    assert kernel.murmur64a(*kernel.bytes_to_buffers([]), seed=seeds).shape == (len(seeds), 0)


def test_murmur_against_compiled_reference_if_gcc():
    """Optional C oracle: compile MurmurHash64A out-of-tree and diff."""
    src = r"""
#include <stdint.h>
#include <stdio.h>
#include <string.h>
uint64_t MurmurHash64A (const void * key, int len, unsigned int seed) {
    const uint64_t m = 0xc6a4a7935bd1e995; const int r = 47;
    uint64_t h = seed ^ (len * m);
    const uint8_t *data = (const uint8_t *)key;
    const uint8_t *end = data + (len-(len&7));
    while(data != end) { uint64_t k; memcpy(&k, data, 8);
        k *= m; k ^= k >> r; k *= m; h ^= k; h *= m; data += 8; }
    switch(len & 7) {
    case 7: h ^= (uint64_t)data[6] << 48;
    case 6: h ^= (uint64_t)data[5] << 40;
    case 5: h ^= (uint64_t)data[4] << 32;
    case 4: h ^= (uint64_t)data[3] << 24;
    case 3: h ^= (uint64_t)data[2] << 16;
    case 2: h ^= (uint64_t)data[1] << 8;
    case 1: h ^= (uint64_t)data[0]; h *= m; };
    h ^= h >> r; h *= m; h ^= h >> r;
    return h;
}
int main(void) {
    char buf[4096];
    while (fgets(buf, sizeof buf, stdin)) {
        int n = strlen(buf); if (n && buf[n-1]=='\n') n--;
        printf("%llu\n", (unsigned long long)MurmurHash64A(buf, n, 0xadc83b19));
    }
    return 0;
}
"""
    with tempfile.TemporaryDirectory() as td:
        c = os.path.join(td, "mm.c")
        exe = os.path.join(td, "mm")
        with open(c, "w") as f:
            f.write(src)
        try:
            subprocess.run(["gcc", "-O2", "-o", exe, c], check=True, capture_output=True)
        except (FileNotFoundError, subprocess.CalledProcessError):
            pytest.skip("gcc unavailable")
        items = [f"url-{i}-{'x' * (i % 23)}".encode() for i in range(500)]
        out = subprocess.run([exe], input=b"\n".join(items) + b"\n", capture_output=True, check=True)
        want = [int(x) for x in out.stdout.split()]
        data, offsets = kernel.bytes_to_buffers(items)
        got = [int(x) for x in kernel.murmur64a(data, offsets)]
        assert got == want


def test_idx_rho_matches_reference_semantics():
    """hllPatLen (hyperloglog.c:438-464) reimplemented literally."""

    def patlen(h: int, p: int):
        m = 1 << p
        index = h & (m - 1)
        h |= 1 << 63
        bit = m
        count = 1
        while (h & bit) == 0:
            count += 1
            bit <<= 1
        return index, count

    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 2**63, size=1000, dtype=np.uint64) * np.uint64(2) + (
        rng.integers(0, 2, size=1000).astype(np.uint64)
    )
    for p in (4, 14, 18):
        idx, rho = kernel.hash_idx_rho(hashes, p)
        for i in range(0, 1000, 37):
            wi, wc = patlen(int(hashes[i]), p)
            assert int(idx[i]) == wi
            assert int(rho[i]) == wc
    # adversarial: hash with all-zero suffix → max rho
    h = np.array([0], dtype=np.uint64)
    _, rho = kernel.hash_idx_rho(h, 14)
    assert int(rho[0]) == 50  # 63-14 zeros counted + 1


def test_estimator_small_exact():
    """HLL is exact at tiny cardinalities (hll_add_distinct.phpt: 4 -> 4)."""
    regs = kernel.empty_registers()
    data, offsets = kernel.bytes_to_buffers([b"abc", b"def", b"ghi", b"jkl"])
    kernel.add_bytes(regs, data, offsets)
    assert kernel.estimate(regs) == 4


def test_estimator_error_bound_powers_of_ten():
    """|estimate - n| <= ceil(6 * 1.04/sqrt(m) * n) at n = 10..10^6
    (pfselftest acceptance, hyperloglog.c:1610-1667; 10^7 in bench not unit)."""
    regs = kernel.empty_registers()
    relerr = kernel.relative_error_bound()
    checkpoints = {10**k for k in range(1, 7)}
    n = 0
    chunk = 0
    batch_start = 0
    for target in sorted(checkpoints):
        items = [str(i).encode() for i in range(batch_start, target)]
        data, offsets = kernel.bytes_to_buffers(items)
        kernel.add_bytes(regs, data, offsets)
        batch_start = target
        est = kernel.estimate(regs)
        assert abs(est - target) <= math.ceil(6 * relerr * target), (target, est)


def test_estimator_linear_counting_crossover():
    """Cardinalities bracketing the 2.5*m and 72000 branch thresholds."""
    relerr = kernel.relative_error_bound()
    for n in (40000, 41000, 70000, 74000):
        regs = kernel.empty_registers()
        items = [b"x%d" % i for i in range(n)]
        data, offsets = kernel.bytes_to_buffers(items)
        kernel.add_bytes(regs, data, offsets)
        est = kernel.estimate(regs)
        assert abs(est - n) <= math.ceil(6 * relerr * n), (n, est)


def test_merge_properties():
    """Associativity / commutativity / idempotence — the property that makes
    any partition grouping correct (hyperloglog.c:1038-1077)."""
    rng = np.random.default_rng(3)
    sketches = []
    for s in range(4):
        regs = kernel.empty_registers()
        items = [b"%d-%d" % (s, i) for i in range(500)]
        data, offsets = kernel.bytes_to_buffers(items)
        kernel.add_bytes(regs, data, offsets)
        sketches.append(regs)
    a, b, c, d = sketches
    ab_cd = kernel.merge_registers(kernel.merge_registers(a, b), kernel.merge_registers(c, d))
    abcd = kernel.merge_registers(kernel.merge_registers(kernel.merge_registers(a, b), c), d)
    dcba = kernel.merge_registers(kernel.merge_registers(kernel.merge_registers(d, c), b), a)
    assert (ab_cd == abcd).all() and (abcd == dcba).all()
    assert (kernel.merge_registers(a, a) == a).all()  # self-merge identity


def test_merge_equals_single_stream():
    """Partitioned adds then merge == one stream (the distributed invariant)."""
    items = [b"item-%d" % i for i in range(3000)]
    whole = kernel.empty_registers()
    data, offsets = kernel.bytes_to_buffers(items)
    kernel.add_bytes(whole, data, offsets)
    acc = kernel.empty_registers()
    for part in range(7):
        regs = kernel.empty_registers()
        chunk = items[part::7]
        d, o = kernel.bytes_to_buffers(chunk)
        kernel.add_bytes(regs, d, o)
        acc = kernel.merge_registers(acc, regs)
    assert (acc == whole).all()
    assert kernel.estimate(acc) == kernel.estimate(whole)


def test_configurable_precision():
    for p in (4, 8, 12, 16):
        regs = kernel.empty_registers(p)
        n = 1000
        data, offsets = kernel.bytes_to_buffers([b"e%d" % i for i in range(n)])
        kernel.add_bytes(regs, data, offsets)
        est = kernel.estimate(regs)
        bound = math.ceil(6 * kernel.relative_error_bound(p) * n) + 3
        assert abs(est - n) <= bound, (p, est)


def test_sparse_update_matches_dense_registers():
    """Sparse in-flight accumulation (sorted idx + max rho) densifies to
    bit-identical registers vs the raw np.maximum.at path, under arbitrary
    batch splits (the merge-associativity property the fold relies on)."""
    import numpy as np

    from phphll_spark import kernel

    rng = np.random.default_rng(7)
    p = 14
    idx = rng.integers(0, kernel.m_for_p(p), size=5000).astype(np.int64)
    rho = rng.integers(1, 51, size=5000).astype(np.uint8)

    dense = kernel.empty_registers(p)
    kernel.update_registers(dense, idx, rho)

    si = np.empty(0, dtype=np.int64)
    sr = np.empty(0, dtype=np.uint8)
    for lo in range(0, 5000, 613):  # uneven batch splits
        si, sr = kernel.sparse_update(si, sr, idx[lo : lo + 613], rho[lo : lo + 613])
    assert np.array_equal(kernel.sparse_to_registers(si, sr, p), dense)
    # idx stays sorted unique
    assert np.all(np.diff(si) > 0)
    # empty-into-empty is a no-op
    e_i, e_r = kernel.sparse_update(
        np.empty(0, np.int64), np.empty(0, np.uint8), np.empty(0, np.int64), np.empty(0, np.uint8)
    )
    assert len(e_i) == 0 and len(e_r) == 0


@pytest.mark.parametrize(
    "blocks",
    [
        [(4095, 256)],
        [(4096, 256)],
        [(4097, 256)],
        # a tile of 1000-byte rows, a tile of 0..7-byte rows (tail only), a
        # tile of empty rows (no chunk and no tail), then one 9-byte row
        [(4096, 1000), (4096, -7), (4096, 0), (1, 9)],
        # ragged rows straddling the first tile boundary
        [(4090, 300), (12, -40), (4000, 300)],
    ],
    ids=["tile-1", "tile", "tile+1", "long-short-empty", "straddle"],
)
def test_murmur_tile_boundaries(blocks):
    """Row tiling is invisible: every row hashes as it does alone (checked
    with ``hash_one`` near each tile boundary, and elsewhere against calls
    of 1000 rows, which tile differently), with one seed or several. A
    negative length -k draws lengths in 0..k."""
    rng = np.random.default_rng(len(blocks))
    lens = np.concatenate(
        [rng.integers(0, -ln + 1, n) if ln < 0 else np.full(n, ln) for n, ln in blocks]
    )
    tile = kernel._tile_rows(lens)
    assert tile == 4096
    items = [bytes(rng.integers(0, 256, size=int(n), dtype=np.uint8)) for n in lens]
    data, offsets = kernel.bytes_to_buffers(items)
    seeds = [kernel.MURMUR_SEED, 7]
    fused = kernel.murmur64a(data, offsets, seed=seeds)
    near = [i for b in range(0, len(items) + tile, tile) for i in range(b - 20, b + 20) if 0 <= i < len(items)]
    for row, seed in zip(fused, seeds):
        assert [int(row[i]) for i in near] == [kernel.hash_one(items[i], seed) for i in near]
        alone = [kernel.murmur64a(*kernel.bytes_to_buffers(items[i : i + 1000]), seed) for i in range(0, len(items), 1000)]
        np.testing.assert_array_equal(row, np.concatenate(alone))
