"""HYLL wire codec — byte-compatible with the reference dump format.

Layout (reference ``hyperloglog.h:11-17``, doc ``hyperloglog.c:65-87``):
16-byte header = magic ``"HYLL"`` + 1 encoding byte + 3 reserved zero bytes
+ 8-byte little-endian cached cardinality whose MSB is a dirty bit
(hyperloglog.c:184-186), followed by the register payload:

- dense (0): 2^p six-bit registers packed LSB-first (hyperloglog.c:88-98)
- sparse (1): run-length opcodes ZERO/XZERO/VAL (hyperloglog.c:100-143)

Compute never happens on these encodings — they are (de)serialized to the
1-byte-per-register raw layout of :mod:`.kernel` (the reference's own
``HLL_RAW`` hot-path layout, hyperloglog.c:920-948). Promotion thresholds
(VAL ceiling 32, sparse max 3000 bytes: hyperloglog.c:641-643,812-813,
redis.c:32) are preserved as *serialization* choices.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .kernel import HLL_P_DEFAULT, estimate, m_for_p

MAGIC = b"HYLL"
ENC_DENSE = 0
ENC_SPARSE = 1
ENC_RAW = 255  # internal only, never serialized (hyperloglog.c:197)
HDR_SIZE = 16
SPARSE_VAL_MAX_VALUE = 32
SPARSE_VAL_MAX_LEN = 4
SPARSE_ZERO_MAX_LEN = 64
SPARSE_XZERO_MAX_LEN = 16384
SPARSE_MAX_BYTES = 3000  # server.hll_sparse_max_bytes default (redis.c:32)

CARD_DIRTY_BIT = 1 << 63


class InvalidSketchError(ValueError):
    """Corrupt or non-HYLL blob (mirrors isHLLObjectOrReply, hyperloglog.c:1115-1139)."""


def dense_size(p: int) -> int:
    return (m_for_p(p) * 6 + 7) // 8


def pack_dense(regs: np.ndarray) -> bytes:
    """Raw uint8 registers -> 6-bit LSB-first packed payload.

    Vectorized: 4 registers -> 3 bytes per block (m divisible by 4 for all
    supported p). Matches HLL_DENSE_SET_REGISTER (hyperloglog.c:343-353).
    """
    r = regs.reshape(-1, 4).astype(np.uint16)
    out = np.empty((r.shape[0], 3), dtype=np.uint8)
    out[:, 0] = (r[:, 0] | (r[:, 1] << 6)) & 0xFF
    out[:, 1] = ((r[:, 1] >> 2) | (r[:, 2] << 4)) & 0xFF
    out[:, 2] = ((r[:, 2] >> 4) | (r[:, 3] << 2)) & 0xFF
    return out.tobytes()


def unpack_dense(payload: bytes, p: int) -> np.ndarray:
    m = m_for_p(p)
    if len(payload) != dense_size(p):
        raise InvalidSketchError(f"dense payload length {len(payload)} != {dense_size(p)} for p={p}")
    b = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3).astype(np.uint16)
    regs = np.empty((b.shape[0], 4), dtype=np.uint8)
    regs[:, 0] = b[:, 0] & 0x3F
    regs[:, 1] = ((b[:, 0] >> 6) | (b[:, 1] << 2)) & 0x3F
    regs[:, 2] = ((b[:, 1] >> 4) | (b[:, 2] << 4)) & 0x3F
    regs[:, 3] = (b[:, 2] >> 2) & 0x3F
    return regs.reshape(-1)[:m]


def encode_sparse(regs: np.ndarray) -> bytes | None:
    """Raw registers -> sparse RLE payload, or None if not representable
    (a register > 32) or larger than SPARSE_MAX_BYTES.

    Opcodes (hyperloglog.c:100-143): ZERO ``00xxxxxx`` run 1-64,
    XZERO ``01xxxxxx xxxxxxxx`` run 1-16384, VAL ``1vvvvvxx`` value 1-32
    repeated 1-4.
    """
    if regs.size and int(regs.max()) > SPARSE_VAL_MAX_VALUE:
        return None
    # run boundaries
    change = np.flatnonzero(np.diff(regs.astype(np.int16)) != 0)
    starts = np.concatenate(([0], change + 1))
    ends = np.concatenate((change + 1, [regs.size]))
    # exact encoded size, vectorized — dense-bound sketches skip the opcode
    # loop entirely (this runs once per group per partition in the hot agg)
    runlens = ends - starts
    is_zero = regs[starts] == 0
    zl = runlens[is_zero]
    nchunks = np.where(zl > SPARSE_ZERO_MAX_LEN, -(-(zl - SPARSE_ZERO_MAX_LEN) // SPARSE_XZERO_MAX_LEN), 0)
    zero_bytes = 2 * nchunks + ((zl - nchunks * SPARSE_XZERO_MAX_LEN) > 0)
    val_bytes = -(-runlens[~is_zero] // SPARSE_VAL_MAX_LEN)
    total_bytes = int(zero_bytes.sum()) + int(val_bytes.sum())
    if total_bytes > SPARSE_MAX_BYTES:
        return None
    out = bytearray()
    for s, e in zip(starts.tolist(), ends.tolist()):
        val = int(regs[s])
        run = e - s
        if val == 0:
            while run > SPARSE_ZERO_MAX_LEN:
                chunk = min(run, SPARSE_XZERO_MAX_LEN)
                l = chunk - 1
                out.append(0x40 | (l >> 8))
                out.append(l & 0xFF)
                run -= chunk
            if run > 0:
                out.append(run - 1)
        else:
            while run > 0:
                chunk = min(run, SPARSE_VAL_MAX_LEN)
                out.append(0x80 | ((val - 1) << 2) | (chunk - 1))
                run -= chunk
        if len(out) > SPARSE_MAX_BYTES:
            return None
    return bytes(out)


def decode_sparse(payload: bytes, p: int | None = None) -> np.ndarray:
    """Sparse RLE payload -> raw registers; validates total run == 2^p
    (mirrors hllSparseToDense, hyperloglog.c:562-614).

    ``p=None`` infers precision from the total run length (the sparse
    encoding is purely positional, so the run total IS m; accepted only if
    it is a power of two in the supported p range 4-18)."""
    m = m_for_p(p) if p is not None else None
    b = np.frombuffer(payload, dtype=np.uint8)
    n = len(b)
    if n == 0:
        raise InvalidSketchError("empty sparse payload")
    # opcode widths: XZERO (01xxxxxx) is 2 bytes, ZERO/VAL are 1. Opcode
    # START positions form the orbit of 0 under i -> i + width(b[i]);
    # enumerate it without a per-opcode Python loop by pointer doubling
    # (the reachable set doubles per numpy round, so log2(#opcodes)
    # gathers of at most #opcodes indices each).
    is_xzero = (b & 0xC0) == 0x40
    if not is_xzero.any():
        starts = np.arange(n, dtype=np.int64)
    else:
        jump = np.full(n + 1, n, dtype=np.int64)
        jump[:n] = np.arange(n, dtype=np.int64) + np.where(is_xzero, 2, 1)
        np.minimum(jump, n, out=jump)
        starts = np.array([0], dtype=np.int64)
        hop = jump
        while True:
            new = hop[starts]
            grown = np.union1d(starts, new[new < n])
            if grown.size == starts.size:
                break
            starts = grown
            hop = hop[np.minimum(hop, n)]  # double the hop distance
        if int(jump[starts[-1]]) < n:
            # orbit stalled before consuming the payload (can't happen for
            # well-formed input; guard against pathological cycles)
            raise InvalidSketchError("sparse opcode stream does not terminate")
    ops = b[starts]
    if bool(is_xzero[starts[-1]]) and int(starts[-1]) + 1 >= n:
        raise InvalidSketchError("truncated XZERO opcode")
    op_is_val = (ops & 0x80) != 0
    op_is_xzero = (ops & 0xC0) == 0x40
    second = b[np.minimum(starts + 1, n - 1)].astype(np.int64)
    runs_arr = np.where(
        op_is_val,
        (ops & 0x3).astype(np.int64) + 1,
        np.where(
            op_is_xzero,
            (((ops & 0x3F).astype(np.int64) << 8) | second) + 1,
            (ops & 0x3F).astype(np.int64) + 1,
        ),
    )
    vals_arr = np.where(op_is_val, ((ops >> 2) & 0x1F).astype(np.uint8) + 1, 0).astype(np.uint8)
    total = int(runs_arr.sum())
    if m is None:
        if total < 16 or total > (1 << 18) or total & (total - 1):
            raise InvalidSketchError(f"sparse runs cover {total} registers, not a supported 2^p")
    elif total != m:
        raise InvalidSketchError(f"sparse runs cover {total} registers, expected {m}")
    return np.repeat(vals_arr, runs_arr)


def empty_sparse_payload(p: int = HLL_P_DEFAULT) -> bytes:
    """Sparse payload of an EMPTY sketch exactly as hllCreate builds it
    (hyperloglog.c:1083-1113): XZERO opcodes of <=16384 registers each —
    XZERO even when a ZERO opcode would fit, mirroring the reference."""
    out = bytearray()
    aux = m_for_p(p)
    while aux:
        chunk = min(aux, SPARSE_XZERO_MAX_LEN)
        out.append(0x40 | ((chunk - 1) >> 8))
        out.append((chunk - 1) & 0xFF)
        aux -= chunk
    return bytes(out)


def _invalidate_cache(blob: bytearray) -> None:
    """Set the dirty bit on the cached cardinality (HLL_INVALIDATE_CACHE,
    hyperloglog.c:185: MSB of the little-endian card field = byte 15)."""
    blob[HDR_SIZE - 1] |= 0x80


def _merge_val_runs(blob: bytearray, start: int) -> None:
    """Step 4 of hllSparseSet (hyperloglog.c:820-860): merge adjacent VAL
    opcodes with equal value whose combined run fits VAL_MAX_LEN, scanning
    at most 5 opcodes from ``start`` and re-trying in place after each
    merge. Mutates ``blob`` (may shrink it)."""
    p = start
    scanlen = 5
    while p < len(blob) and scanlen:
        scanlen -= 1
        op = blob[p]
        if not (op & 0x80):  # ZERO / XZERO: skip
            p += 2 if (op & 0x40) else 1
            continue
        if p + 1 < len(blob) and (blob[p + 1] & 0x80):
            v1 = ((op >> 2) & 0x1F) + 1
            v2 = ((blob[p + 1] >> 2) & 0x1F) + 1
            if v1 == v2:
                ln = ((op & 0x3) + 1) + ((blob[p + 1] & 0x3) + 1)
                if ln <= SPARSE_VAL_MAX_LEN:
                    blob[p + 1] = 0x80 | ((v1 - 1) << 2) | (ln - 1)
                    del blob[p]  # the reference's memmove-left
                    continue  # re-try the merged opcode against its right
        p += 1


def sparse_set(blob: bytearray, index: int, count: int, *, max_bytes: int = SPARSE_MAX_BYTES) -> int:
    """Byte-level in-place register update on a sparse HYLL blob — the RLE
    splice path of hllSparseSet (hyperloglog.c:632-876) re-derived.

    ``blob`` is the FULL serialized sketch (header + sparse payload) as a
    mutable bytearray; returns 1 (register raised; blob mutated, cache
    invalidated), 0 (no change needed), or -1 (caller must promote to
    dense: count > 32, or the spliced blob would exceed ``max_bytes`` —
    the reference's ``goto promote``, size checked against the whole sds
    string i.e. header included). The resulting opcode stream is
    history-dependent exactly like the reference's (e.g. a run of five
    equal values may encode VAL4+VAL1 or VAL1+VAL4 depending on insertion
    order) — byte-parity is tested against the compiled reference C in
    tests/test_codec.py.
    """
    if count > SPARSE_VAL_MAX_VALUE:
        return -1
    # Step 1: locate the opcode covering `index`
    pos, end = HDR_SIZE, len(blob)
    first = 0
    prev = -1
    span = 0
    while pos < end:
        op = blob[pos]
        if op & 0x80:  # VAL
            oplen, span = 1, (op & 0x3) + 1
        elif op & 0x40:  # XZERO
            oplen, span = 2, (((op & 0x3F) << 8) | blob[pos + 1]) + 1
        else:  # ZERO
            oplen, span = 1, (op & 0x3F) + 1
        if index <= first + span - 1:
            break
        prev = pos
        pos += oplen
        first += span
    else:
        raise InvalidSketchError("sparse opcodes do not cover the register index")
    if span == 0:
        raise InvalidSketchError("invalid sparse opcode stream")

    op = blob[pos]
    is_val = bool(op & 0x80)
    is_xzero = (not is_val) and bool(op & 0x40)
    is_zero = not is_val and not is_xzero
    runlen = span
    oldcount = ((op >> 2) & 0x1F) + 1 if is_val else 0

    # Steps 2-3: trivial in-place overwrites, else splice a split sequence
    if is_val and oldcount >= count:
        return 0  # case A
    if (is_val or is_zero) and runlen == 1:  # cases B and C
        blob[pos] = 0x80 | ((count - 1) << 2)
    else:  # case D: split into <=3 opcodes (worst case XZERO-VAL-XZERO)
        last = first + span - 1
        seq = bytearray()

        def _zero_opcode(length: int) -> bytes:
            if length > SPARSE_ZERO_MAX_LEN:
                return bytes([0x40 | ((length - 1) >> 8), (length - 1) & 0xFF])
            return bytes([length - 1])

        if is_zero or is_xzero:
            if index != first:
                seq += _zero_opcode(index - first)
            seq.append(0x80 | ((count - 1) << 2))
            if index != last:
                seq += _zero_opcode(last - index)
        else:
            if index != first:
                seq.append(0x80 | ((oldcount - 1) << 2) | (index - first - 1))
            seq.append(0x80 | ((count - 1) << 2))
            if index != last:
                seq.append(0x80 | ((oldcount - 1) << 2) | (last - index - 1))
        oldlen = 2 if is_xzero else 1
        deltalen = len(seq) - oldlen
        if deltalen > 0 and len(blob) + deltalen > max_bytes:
            return -1
        blob[pos : pos + oldlen] = seq

    # Step 4: merge adjacent equal-VAL opcodes around the edit
    _merge_val_runs(blob, prev if prev >= 0 else HDR_SIZE)
    _invalidate_cache(blob)
    return 1


def dense_set(blob: bytearray, index: int, count: int) -> int:
    """In-place register max-update on a DENSE HYLL blob: read-modify-write
    of the 6-bit packed register (HLL_DENSE_GET/SET_REGISTER,
    hyperloglog.c:326-353; max fold hllDenseAdd:479-492). Returns 1 if the
    register was raised (cache invalidated), else 0."""
    bit = index * 6
    byte = HDR_SIZE + (bit >> 3)
    fb = bit & 7
    b0 = blob[byte]
    b1 = blob[byte + 1] if fb > 2 else 0  # register spans 2 bytes iff fb>2
    old = ((b0 >> fb) | (b1 << (8 - fb))) & 0x3F
    if old >= count:
        return 0
    blob[byte] = (b0 & ~(0x3F << fb) & 0xFF) | ((count << fb) & 0xFF)
    if fb > 2:
        blob[byte + 1] = (b1 & ~(0x3F >> (8 - fb))) | (count >> (8 - fb))
    _invalidate_cache(blob)
    return 1


def pfadd_blob(blob: bytes, elements, p: int | None = None) -> tuple[bytes, bool]:
    """PFADD against a serialized HYLL blob WITHOUT a full decode/re-encode
    round-trip — the reference's stored-object update path (pfAdd → hllAdd,
    hyperloglog.c:1021-1035,1169-1190): sparse blobs take the byte-level
    RLE splice per element and promote mid-stream on VAL overflow or the
    3000-byte ceiling; dense blobs take the packed 6-bit read-modify-write.

    Elements are bytes (or str, UTF-8 encoded). Returns (new_blob,
    updated); the cached cardinality is invalidated iff a register rose,
    so an unchanged add keeps a clean cache exactly like the reference.
    """
    from .kernel import hash_idx_rho, murmur64a, bytes_to_buffers

    if len(blob) < HDR_SIZE or blob[:4] != MAGIC:
        raise InvalidSketchError("bad magic, expected 'HYLL'")
    encoding = blob[4]
    if encoding > ENC_SPARSE:
        raise InvalidSketchError(f"unknown encoding byte {encoding}")
    if encoding == ENC_DENSE:
        if p is None:
            p = int(len(blob[HDR_SIZE:]) * 8 // 6).bit_length() - 1
        elif len(blob) - HDR_SIZE != dense_size(p):
            # a wrong caller-supplied p would silently write registers at
            # wrong bit offsets (ADVICE r04) — validate the payload length
            raise InvalidSketchError(
                f"dense payload is {len(blob) - HDR_SIZE} bytes, expected "
                f"{dense_size(p)} for p={p}"
            )
    else:
        # sparse payloads self-describe m via total run length (≤3000 B, so
        # one decode is cheap) — a mismatched p would splice RLE runs
        # against the wrong register space
        m = int(decode_sparse(blob[HDR_SIZE:], None).size)
        if p is None:
            p = m.bit_length() - 1
        elif m != 1 << p:
            raise InvalidSketchError(f"sparse payload describes m={m}, expected {1 << p} for p={p}")
    items = [e.encode("utf-8") if isinstance(e, str) else bytes(e) for e in elements]
    if not items:
        return blob, False
    data, offsets = bytes_to_buffers(items)
    idx, rho = hash_idx_rho(murmur64a(data, offsets), p)
    buf = bytearray(blob)
    changed = False
    for i in range(len(idx)):
        if encoding == ENC_SPARSE:
            r = sparse_set(buf, int(idx[i]), int(rho[i]))
            if r == -1:  # promote, then redo this element dense
                # header (incl. stale card bytes + dirty bit) is copied
                # VERBATIM like hllSparseToDense's `*hdr = *oldhdr`
                regs = decode_sparse(bytes(buf[HDR_SIZE:]), p)
                buf = bytearray(
                    bytes(buf[:4]) + bytes([ENC_DENSE]) + bytes(buf[5:HDR_SIZE]) + pack_dense(regs)
                )
                encoding = ENC_DENSE
            else:
                changed = changed or r == 1
                continue
        changed = bool(dense_set(buf, int(idx[i]), int(rho[i]))) or changed
    return bytes(buf), changed


def _header(encoding: int, card: int | None) -> bytes:
    """Header with cached cardinality; ``card=None`` writes the dirty bit
    (hyperloglog.c:78-87,184-186)."""
    if card is None:
        card_field = CARD_DIRTY_BIT
    else:
        card_field = card & (CARD_DIRTY_BIT - 1)
    return MAGIC + bytes([encoding, 0, 0, 0]) + int(card_field).to_bytes(8, "little")


def serialize(regs: np.ndarray, *, cache_card: bool = True, force_dense: bool = False) -> bytes:
    """Raw registers -> HYLL bytes.

    Picks sparse when representable and smaller than the dense payload
    (promotion thresholds preserved: VAL<=32, <=3000 B), else dense — so a
    low-cardinality per-group sketch costs ~tens of bytes in the shuffle /
    checkpoint instead of 12 KB. A valid cached cardinality is written by
    default, mirroring pfCount's write-back (hyperloglog.c:1234-1267).
    """
    card = estimate(regs) if cache_card else None
    if not force_dense:
        sparse = encode_sparse(regs)
        if sparse is not None and len(sparse) < dense_size(int(regs.size).bit_length() - 1):
            return _header(ENC_SPARSE, card) + sparse
    return _header(ENC_DENSE, card) + pack_dense(regs)


@dataclass
class Sketch:
    regs: np.ndarray
    encoding: int
    cached_card: int | None  # None = dirty

    @property
    def p(self) -> int:
        return int(self.regs.size).bit_length() - 1


def deserialize(blob: bytes, p: int | None = None) -> Sketch:
    """HYLL bytes -> raw registers + metadata, with validation
    (mirrors hllLoad/isHLLObjectOrReply, hyperloglog.c:1115-1152).

    ``p`` defaults to inferring from the payload: dense by payload length,
    sparse by total run length (both uniquely determine m). Pass ``p`` to
    additionally validate the blob against an expected precision.
    """
    if len(blob) < HDR_SIZE:
        raise InvalidSketchError("blob shorter than HYLL header")
    if blob[:4] != MAGIC:
        raise InvalidSketchError("bad magic, expected 'HYLL'")
    encoding = blob[4]
    if encoding > ENC_SPARSE:
        raise InvalidSketchError(f"unknown encoding byte {encoding}")
    card_field = int.from_bytes(blob[8:16], "little")
    cached = None if card_field & CARD_DIRTY_BIT else card_field
    payload = blob[HDR_SIZE:]
    if encoding == ENC_DENSE:
        if p is None:
            # infer m from payload length: len == ceil(m*6/8), m a power of two
            m = len(payload) * 8 // 6
            p = int(m).bit_length() - 1
        regs = unpack_dense(payload, p)
    else:
        regs = decode_sparse(payload, p)
    return Sketch(regs=regs, encoding=encoding, cached_card=cached)


def promote(blob: bytes, p: int | None = None) -> bytes:
    """Force dense encoding; idempotent (mirrors hllSparseToDense /
    hll_promote, hyperloglog.c:562-614, php/hll.c:707-731)."""
    sk = deserialize(blob, p)
    return _header(ENC_DENSE, sk.cached_card) + pack_dense(sk.regs)


def info(blob: bytes, p: int | None = None) -> dict:
    """Encoding / precision / register stats (extends hll_info,
    php/hll.c:734-762 which only reports encoding)."""
    sk = deserialize(blob, p)
    return {
        "encoding": "dense" if sk.encoding == ENC_DENSE else "sparse",
        "p": sk.p,
        "m": int(sk.regs.size),
        "nonzero_registers": int(np.count_nonzero(sk.regs)),
        "estimate": estimate(sk.regs),
        "cached_card": sk.cached_card,
    }
