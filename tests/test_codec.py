"""HYLL codec: dense/sparse round-trips, header semantics, validation,
promotion — mirrors hll_dump_load.phpt, hll_obj_unserialize.phpt,
hll_count_invalid.phpt, hll_promote.phpt, hll_info.phpt and the 6-bit
packing half of pfselftest (hyperloglog.c:1586-1609)."""

import numpy as np
import pytest

from phphll_spark import codec, kernel
from phphll_spark.hll import HLL


def _sketch_with(n, tag=b"t"):
    regs = kernel.empty_registers()
    data, offsets = kernel.bytes_to_buffers([tag + b"%d" % i for i in range(n)])
    kernel.add_bytes(regs, data, offsets)
    return regs


def test_dense_pack_roundtrip_random_registers():
    """1000 random register patterns through the 6-bit packing
    (pfselftest part 1, hyperloglog.c:1586-1609)."""
    rng = np.random.default_rng(11)
    for _ in range(50):
        regs = rng.integers(0, 64, size=16384, dtype=np.uint8)
        assert (codec.unpack_dense(codec.pack_dense(regs), 14) == regs).all()


def test_dense_pack_roundtrip_all_p():
    rng = np.random.default_rng(12)
    for p in range(4, 19):
        regs = rng.integers(0, 64, size=1 << p, dtype=np.uint8)
        assert (codec.unpack_dense(codec.pack_dense(regs), p) == regs).all()


def test_sparse_roundtrip():
    for n in (0, 1, 5, 100, 1000):
        regs = _sketch_with(n)
        payload = codec.encode_sparse(regs)
        assert payload is not None
        assert (codec.decode_sparse(payload, 14) == regs).all()


def test_sparse_not_representable_high_register():
    regs = kernel.empty_registers()
    regs[7] = 33  # beyond VAL ceiling 32 → must go dense (hyperloglog.c:641-643)
    assert codec.encode_sparse(regs) is None


def test_sparse_empty_is_xzero_16384():
    """Empty sketch = XZERO:16384 (hyperloglog.c:131-132, 1088-1104)."""
    payload = codec.encode_sparse(kernel.empty_registers())
    assert payload == bytes([0x40 | ((16384 - 1) >> 8), (16384 - 1) & 0xFF])


def test_serialize_picks_sparse_when_small_dense_when_big():
    small = codec.serialize(_sketch_with(100))
    assert small[4] == codec.ENC_SPARSE
    assert len(small) < 600
    big = codec.serialize(_sketch_with(100000))
    assert big[4] == codec.ENC_DENSE
    assert len(big) == codec.HDR_SIZE + codec.dense_size(14)


def test_roundtrip_preserves_count_exactly():
    """Mirrors hll_dump_load.phpt: 10k unique / 100x100 repeated / empty."""
    cases = [
        [b"u%d" % i for i in range(10000)],
        [b"r%d" % (i % 100) for i in range(10000)],
        [],
    ]
    for items in cases:
        regs = kernel.empty_registers()
        data, offsets = kernel.bytes_to_buffers(items)
        kernel.add_bytes(regs, data, offsets)
        for force_dense in (False, True):
            blob = codec.serialize(regs, force_dense=force_dense)
            back = codec.deserialize(blob)
            assert (back.regs == regs).all()
            assert kernel.estimate(back.regs) == kernel.estimate(regs)


def test_header_cached_cardinality():
    regs = _sketch_with(500)
    blob = codec.serialize(regs, cache_card=True)
    sk = codec.deserialize(blob)
    assert sk.cached_card == kernel.estimate(regs)
    dirty = codec.serialize(regs, cache_card=False)
    assert codec.deserialize(dirty).cached_card is None
    assert dirty[15] & 0x80  # MSB dirty bit set (hyperloglog.c:184-186)


def test_validation_rejects_corrupt():
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(b"NOPE" + bytes(20))
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(b"HY")
    blob = bytearray(codec.serialize(_sketch_with(10)))
    blob[4] = 7  # bad encoding byte
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(bytes(blob))
    # dense with truncated payload
    dense = bytearray(codec.serialize(_sketch_with(10), force_dense=True))
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(bytes(dense[:-5]), 14)
    # sparse runs not covering exactly m registers
    bad_sparse = codec._header(codec.ENC_SPARSE, None) + bytes([0x40, 0xFF])
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(bad_sparse, 14)


def test_promote_idempotent():
    blob = codec.serialize(_sketch_with(50))
    assert blob[4] == codec.ENC_SPARSE
    d1 = codec.promote(blob)
    d2 = codec.promote(d1)
    assert d1[4] == codec.ENC_DENSE
    assert d1 == d2
    assert (codec.deserialize(d1).regs == codec.deserialize(blob).regs).all()


def test_info():
    got = codec.info(codec.serialize(_sketch_with(100)))
    assert got["encoding"] == "sparse"
    assert got["p"] == 14 and got["m"] == 16384
    assert abs(got["estimate"] - 100) <= 2


def test_sparse_p_inference():
    """Sparse payloads self-describe m via their total run length — a p=10
    sketch round-trips through deserialize with NO p argument (regression:
    the merge agg used to assume p=14 for sparse blobs)."""
    for p in (4, 10, 16):
        regs = np.zeros(1 << p, dtype=np.uint8)
        regs[:3] = 5
        blob = codec.serialize(regs)
        assert blob[4] == codec.ENC_SPARSE
        sk = codec.deserialize(blob)  # p inferred from run total
        assert sk.p == p and (sk.regs == regs).all()
        # explicit-but-wrong p still rejects
        with pytest.raises(codec.InvalidSketchError):
            codec.deserialize(blob, p + 1)
    # inferred path still rejects non-power-of-two coverage
    bad = codec._header(codec.ENC_SPARSE, None) + bytes([0x40, 0xFE])  # 255 regs
    with pytest.raises(codec.InvalidSketchError):
        codec.deserialize(bad)


def test_dense_size_inference():
    for p in (10, 14, 16):
        regs = np.zeros(1 << p, dtype=np.uint8)
        regs[: 1 << (p - 2)] = 40  # force dense
        blob = codec.serialize(regs)
        sk = codec.deserialize(blob)  # p inferred from payload length
        assert sk.p == p


# ---------------------------------------------------------------------------
# Byte-level in-place mutation (sparse_set / dense_set / pfadd_blob) —
# the RLE splice path of hllSparseSet (hyperloglog.c:632-876)
# ---------------------------------------------------------------------------

def _empty_sparse_blob(p=14):
    """hllCreate()'s exact initial bytes: zero header + XZERO chain
    (hyperloglog.c:1083-1113; card bytes zero = clean cache of 0)."""
    return (
        codec.MAGIC
        + bytes([codec.ENC_SPARSE, 0, 0, 0])
        + (0).to_bytes(8, "little")
        + codec.empty_sparse_payload(p)
    )


def test_empty_sparse_payload_matches_create():
    # p=14: one XZERO covering all 16384 registers
    assert codec.empty_sparse_payload(14) == bytes([0x40 | 0x3F, 0xFF])
    # p=15: two XZERO chunks; p=5 (m=32): XZERO even though ZERO would fit
    assert codec.empty_sparse_payload(15) == bytes([0x7F, 0xFF, 0x7F, 0xFF])
    assert codec.empty_sparse_payload(5) == bytes([0x40, 31])


def test_pfadd_blob_equivalent_to_kernel_fold():
    """The byte-splice path (incl. mid-stream promotion to dense) lands on
    register-identical state vs the vectorized kernel fold."""
    items = [b"el-%d" % i for i in range(4000)]
    blob = _empty_sparse_blob()
    blob, changed = codec.pfadd_blob(blob, items)
    assert changed
    assert blob[4] == codec.ENC_DENSE  # 4000 registers forced promotion
    regs = kernel.empty_registers()
    data, offsets = kernel.bytes_to_buffers(items)
    kernel.add_bytes(regs, data, offsets)
    assert (codec.deserialize(blob).regs == regs).all()
    # re-adding the same elements is a no-op with the cache untouched
    blob2, changed2 = codec.pfadd_blob(blob, items)
    assert not changed2 and blob2 == blob


def test_pfadd_blob_sparse_stays_sparse_small():
    items = [b"w%d" % i for i in range(50)]
    blob, changed = codec.pfadd_blob(_empty_sparse_blob(), items)
    assert changed and blob[4] == codec.ENC_SPARSE
    regs = kernel.empty_registers()
    data, offsets = kernel.bytes_to_buffers(items)
    kernel.add_bytes(regs, data, offsets)
    assert (codec.deserialize(blob).regs == regs).all()
    # updated add invalidates the cache (dirty bit), like pfAdd
    assert blob[15] & 0x80


def test_pfadd_blob_dense_start():
    regs = _sketch_with(500)
    blob = codec.serialize(regs, force_dense=True)
    blob2, changed = codec.pfadd_blob(blob, [b"new-element-xyz"])
    assert changed
    data, offsets = kernel.bytes_to_buffers([b"new-element-xyz"])
    kernel.add_bytes(regs, data, offsets)
    assert (codec.deserialize(blob2).regs == regs).all()


def test_sparse_set_rho_overflow_requests_promotion():
    blob = bytearray(_empty_sparse_blob())
    assert codec.sparse_set(blob, 10, 33) == -1
    assert codec.sparse_set(blob, 10, 32) == 1  # 32 itself is representable


def test_sparse_set_split_and_merge_shapes():
    """XZERO split, VAL len-1 overwrite, and the adjacent-VAL merge pass."""
    blob = bytearray(_empty_sparse_blob())
    assert codec.sparse_set(blob, 100, 5) == 1
    # XZERO(100) VAL(5,1) XZERO(16283)
    pay = bytes(blob[16:])
    assert pay == bytes([0x40, 99, 0x80 | (4 << 2), 0x40 | (16282 >> 8), 16282 & 0xFF])
    assert codec.sparse_set(blob, 100, 3) == 0  # case A: no lowering
    assert codec.sparse_set(blob, 100, 7) == 1  # case B: in-place VAL raise
    assert bytes(blob[16:]) == bytes([0x40, 99, 0x80 | (6 << 2), 0x40 | (16282 >> 8), 16282 & 0xFF])
    # neighbor at 101 with same value merges into VAL(7,2)
    assert codec.sparse_set(blob, 101, 7) == 1
    assert bytes(blob[16:]) == bytes([0x40, 99, 0x80 | (6 << 2) | 1, 0x40 | (16281 >> 8), 16281 & 0xFF])


def test_pfadd_blob_byte_parity_vs_compiled_reference():
    """Gold standard: compile the reference (out-of-tree, from
    /root/reference) and diff the FULL blob hex after every single add —
    covers splice, split, merge, promotion timing, cache-dirty bytes and
    the dense read-modify-write, with history-dependent encodings."""
    import os
    import subprocess
    import tempfile

    ref = "/root/reference"
    harness = r"""
#include <stdio.h>
#include <string.h>
#include "hyperloglog.h"
static void dump(hll h) {
    sds s = h->ptr;
    size_t len = sdslen(s);
    for (size_t i = 0; i < len; i++) printf("%02x", (unsigned char)s[i]);
    printf("\n");
}
int main(void) {
    char buf[4096];
    hll h = hllCreate();
    dump(h);
    while (fgets(buf, sizeof buf, stdin)) {
        int n = strlen(buf);
        if (n && buf[n-1] == '\n') n--;
        sds e = sdsnewlen(buf, n);
        if (pfAdd(h, e) < 0) { fprintf(stderr, "pfAdd err\n"); return 1; }
        sdsfree(e);
        dump(h);
    }
    return 0;
}
"""
    with tempfile.TemporaryDirectory() as td:
        c = os.path.join(td, "harness.c")
        exe = os.path.join(td, "harness")
        with open(c, "w") as f:
            f.write(harness)
        try:
            subprocess.run(
                ["gcc", "-O2", f"-I{ref}", "-o", exe, c,
                 f"{ref}/hyperloglog.c", f"{ref}/sds.c", f"{ref}/redis.c", "-lm"],
                check=True, capture_output=True,
            )
        except (FileNotFoundError, subprocess.CalledProcessError):
            pytest.skip("gcc or reference sources unavailable")
        items = [f"el-{i}".encode() for i in range(2500)]
        out = subprocess.run(
            [exe], input=b"\n".join(items) + b"\n", capture_output=True, check=True
        )
        lines = out.stdout.decode().split()
        assert len(lines) == len(items) + 1
        blob = _empty_sparse_blob()
        assert blob.hex() == lines[0], "initial hllCreate bytes differ"
        promoted_at = None
        for i, (el, want) in enumerate(zip(items, lines[1:])):
            blob, _ = codec.pfadd_blob(blob, [el])
            assert blob.hex() == want, f"divergence after element {i} ({el!r})"
            if promoted_at is None and blob[4] == codec.ENC_DENSE:
                promoted_at = i
        # the stream must actually have exercised the promotion boundary
        assert promoted_at is not None and promoted_at > 100


def test_sparse_set_property_random_all_p():
    """Model-based check at precisions the compiled reference (fixed p=14)
    cannot exercise: any sequence of in-range (idx, rho<=32) updates must
    leave the blob decoding to the element-wise max of the updates, with
    the payload a well-formed minimal-state RLE (total run == 2^p)."""
    rng = np.random.default_rng(1234)
    for p in (6, 10, 14, 16):
        m = kernel.m_for_p(p)
        blob = bytearray(
            codec.MAGIC + bytes([codec.ENC_SPARSE, 0, 0, 0]) + (0).to_bytes(8, "little")
            + codec.empty_sparse_payload(p)
        )
        model = np.zeros(m, dtype=np.uint8)
        n_upd = 300
        idxs = rng.integers(0, m, size=n_upd)
        rhos = rng.integers(1, 33, size=n_upd)
        for i, r in zip(idxs.tolist(), rhos.tolist()):
            ret = codec.sparse_set(blob, i, r)
            if ret == -1:  # would exceed 3000 B (plausible at p=16): stop
                break
            assert ret == (1 if r > model[i] else 0), (p, i, r, model[i])
            model[i] = max(model[i], r)
            got = codec.decode_sparse(bytes(blob[codec.HDR_SIZE:]), p)
            assert (got == model).all(), (p, i, r)


def test_pfadd_blob_validates_explicit_p():
    """ADVICE r04: a caller-supplied p that disagrees with the blob must
    raise InvalidSketchError, not silently write registers at wrong bit
    offsets (dense) or splice runs against the wrong register space
    (sparse). The BLOB-CORRECT p still works on both encodings."""
    dense = codec.serialize(_sketch_with(500), force_dense=True)
    for bad_p in (10, 12, 16):
        with pytest.raises(codec.InvalidSketchError, match="dense payload"):
            codec.pfadd_blob(dense, [b"x"], p=bad_p)
    ok, _ = codec.pfadd_blob(dense, [b"x"], p=14)
    assert ok[:4] == b"HYLL"

    sparse, _ = codec.pfadd_blob(_empty_sparse_blob(), [b"a", b"b"])
    assert sparse[4] == codec.ENC_SPARSE
    for bad_p in (10, 12, 16):
        with pytest.raises(codec.InvalidSketchError, match="sparse payload"):
            codec.pfadd_blob(sparse, [b"x"], p=bad_p)
    ok2, _ = codec.pfadd_blob(sparse, [b"x"], p=14)
    assert ok2[:4] == b"HYLL"


def test_pfadd_blob_decodes_sparse_payload_once(monkeypatch):
    """ADVICE r05: the sparse-p check decodes the payload once and reuses
    it for the size check and the error message, with or without p."""
    sparse, _ = codec.pfadd_blob(_empty_sparse_blob(), [b"a", b"b"])
    calls = []
    real = codec.decode_sparse

    def counting(payload, p=None):
        calls.append(p)
        return real(payload, p)

    monkeypatch.setattr(codec, "decode_sparse", counting)
    for p in (None, 14):
        calls.clear()
        codec.pfadd_blob(sparse, [b"x"], p=p)
        assert len(calls) == 1, p
    calls.clear()
    with pytest.raises(codec.InvalidSketchError, match="m=16384, expected 4096"):
        codec.pfadd_blob(sparse, [b"x"], p=12)
    assert len(calls) == 1
