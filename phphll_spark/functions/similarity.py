"""Similarity primitives: MinHash signatures, SimHash fingerprints, cosine.

Design for scale:

- Every per-document column (MinHash, SimHash, shingle and window
  hashes, n-gram repetition, surprisal) is one ``mapInArrow`` pass,
  ``_append_doc_columns``, over a per-batch kernel with *batch-level*
  vectorization: shingles are overlapping windows straight over the Arrow
  string buffer (zero copies, no per-row Python), hashed in one murmur64a
  call (``_window_hashes``, reusing the HLL kernel's hash), then per-doc
  minima / bit-votes / runs are taken with ``np.minimum.reduceat`` /
  ``np.add.reduceat`` / one (doc, hash) lexsort over document boundaries.
- Cosine: the JVM path uses higher-order functions (zip_with + aggregate)
  for plan-native scoring; the blocked path (operators/ann.py) broadcasts
  the query matrix and runs one numpy matmul per Arrow batch.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, DoubleType, LongType, StructField, StructType

from .. import kernel
from ..fold import _arrow_to_buffers


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic affine coefficients h_i(x) = (a_i*x + b_i) mod 2^64
    (odd a_i — a bijection on uint64, multiply-shift family). The inputs
    are already murmur64-mixed shingle hashes, for which multiply-add
    wraparound is an adequate permutation family in practice (the same
    scheme production sketch libraries use); the former Mersenne-61
    modulus spent ~60% of the whole transform loop on integer division —
    measured 10.5 s vs 4.1 s per 15.5 M-shingle batch per core."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def _shingle_windows_from_buffers(
    buf: np.ndarray, doc_off: np.ndarray, doc_lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All character k-gram shingles of all docs as *overlapping windows*
    over one shared byte buffer (Arrow data buffer — zero copies): returns
    (window_starts, window_lens, shingles_per_doc).

    Shorter-than-k nonempty docs contribute themselves as one shingle."""
    counts = np.where(doc_lens >= k, doc_lens - k + 1, (doc_lens > 0).astype(np.int64))
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), counts
    rep_off = np.repeat(doc_off, counts)
    intra = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    starts = rep_off + intra
    wlens = np.repeat(np.minimum(doc_lens, k), counts)
    return starts, wlens, counts


def _char_shingle_windows_from_buffers(
    buf: np.ndarray, doc_off: np.ndarray, doc_lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Character (code-point) k-gram windows over a UTF-8 byte buffer.

    Windows span k CHARACTERS — matching JVM ``substring`` /
    ``char_shingles`` and the DuckDB oracles' semantics (ADVICE r2 #1:
    plain byte windows split multi-byte code points and shift the
    Jaccard for non-ASCII text) — but each window still hashes the
    chars' UTF-8 BYTES, so an all-ASCII batch produces bit-identical
    hashes to the byte-window path (and takes it as the fast path:
    char-start detection is one mask over the buffer).

    Char starts are the non-continuation bytes ((b & 0xC0) != 0x80);
    docs are contiguous in the Arrow buffer, so the byte end of a char
    window is simply the NEXT char-start position (or the batch end
    sentinel). Sub-k rule matches the byte path: a nonempty doc shorter
    than k chars is its own single shingle."""
    if len(doc_off) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(0, np.int64)
    lo = int(doc_off[0])
    hi = int(doc_off[-1] + doc_lens[-1])
    is_start = (buf[lo:hi] & 0xC0) != 0x80
    if bool(is_start.all()):  # pure single-byte batch: chars == bytes
        return _shingle_windows_from_buffers(buf, doc_off, doc_lens, k)
    cpos = np.flatnonzero(is_start).astype(np.int64) + lo
    cpos_ext = np.concatenate((cpos, [hi]))
    cstart = np.searchsorted(cpos, doc_off)
    cend = np.searchsorted(cpos, doc_off + doc_lens)
    ccount = cend - cstart
    counts = np.where(ccount >= k, ccount - k + 1, (ccount > 0).astype(np.int64))
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), counts
    rep_cstart = np.repeat(cstart, counts)
    intra = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    ws = rep_cstart + intra
    we = ws + np.repeat(np.minimum(ccount, k), counts)
    starts = cpos_ext[ws]
    wlens = cpos_ext[we] - starts
    return starts, wlens, counts


def _word_shingle_windows_from_buffers(
    buf: np.ndarray, doc_off: np.ndarray, doc_lens: np.ndarray, n: int, *, sub_n: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Word n-gram windows over a buffer of NORMALIZED text (single-space
    separated, trimmed — normalized_text's output): each window spans n
    consecutive words, hashed as the exact byte range from the first
    word's start to the last word's end (the separating single spaces
    included, so equal windows ⇔ equal space-joined word tuples).

    Vectorized: word starts are non-space bytes preceded by a space or a
    doc boundary (0x20 never occurs inside a UTF-8 multi-byte sequence,
    so the byte test is char-correct); per-doc word counts come from two
    searchsorted calls. Sub-n rule mirrors the char path: a nonempty doc
    with fewer than n words is its own single shingle — unless
    ``sub_n=False`` (positional window mode, duplicated_ngram_spans'
    semantics: a doc shorter than n words has NO windows). Returns
    (window_starts, window_lens, windows_per_doc)."""
    if len(doc_off) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(0, np.int64)
    lo = int(doc_off[0])
    hi = int(doc_off[-1] + doc_lens[-1])
    seg = buf[lo:hi]
    if len(seg) == 0:  # every doc empty
        return np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(len(doc_off), np.int64)
    nonspace = seg != 0x20
    prev_is_space = np.empty(len(seg), dtype=bool)
    prev_is_space[0] = True
    np.equal(seg[:-1], 0x20, out=prev_is_space[1:])
    # doc boundaries restart words; an empty doc's offset coincides with
    # the next doc's start (or the buffer end — clip those)
    bnd = doc_off - lo
    prev_is_space[bnd[bnd < len(seg)]] = True
    wstart = np.flatnonzero(nonspace & prev_is_space).astype(np.int64) + lo
    g0 = np.searchsorted(wstart, doc_off)
    gend = np.searchsorted(wstart, doc_off + doc_lens)
    wc = gend - g0
    short = (wc > 0).astype(np.int64) if sub_n else np.zeros(len(wc), dtype=np.int64)
    counts = np.where(wc >= n, wc - n + 1, short)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), counts
    doc_end = doc_off + doc_lens
    rep_g0 = np.repeat(g0, counts)
    rep_wc = np.repeat(wc, counts)
    rep_end = np.repeat(doc_end, counts)
    intra = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    gw = rep_g0 + intra
    starts = wstart[gw]
    is_tail = intra + n >= rep_wc  # window reaches the doc's last word
    # clip the gather for tail windows (index would cross into the next doc)
    nxt = np.minimum(gw + n, len(wstart) - 1)
    ends = np.where(is_tail, rep_end, wstart[nxt] - 1)
    return starts, ends - starts, counts


def _window_hashes(
    buf: np.ndarray,
    doc_off: np.ndarray,
    doc_lens: np.ndarray,
    k: int,
    unit: str = "char",
    *,
    sub_n: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one window → hash step: every k-``unit`` window of every doc,
    hashed with murmur64a straight out of ``buf``. Returns (uint64
    hashes, window byte lengths, windows per doc). ``unit``: "char" (k
    code points) or "word" (k words of NORMALIZED single-space text;
    ``sub_n`` as in _word_shingle_windows_from_buffers)."""
    if unit == "char":
        starts, wlens, counts = _char_shingle_windows_from_buffers(buf, doc_off, doc_lens, k)
    elif unit == "word":
        starts, wlens, counts = _word_shingle_windows_from_buffers(buf, doc_off, doc_lens, k, sub_n=sub_n)
    else:
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    return kernel.murmur64a_windows(buf, starts, wlens), wlens, counts


def _doc_hash_runs(hashes: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Runs of equal (doc, hash) pairs, in (doc, hash) order: returns each
    run's first index into ``hashes``, its doc and its length."""
    if len(hashes) == 0:  # every doc NULL/empty: no runs
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    doc_ids = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    order = np.lexsort((hashes, doc_ids))
    sd, sh = doc_ids[order], hashes[order]
    run_idx = np.flatnonzero(np.concatenate(([True], (np.diff(sd) != 0) | (np.diff(sh) != 0))))
    return order[run_idx], sd[run_idx], np.diff(np.append(run_idx, len(sd)))


def _round4(x: np.ndarray) -> np.ndarray:
    """Half-up rounding to 4 decimals — the repo's portable floor rule."""
    return np.floor(x * 1e4 + 0.5) / 1e4


def _minhash_from_buffers(
    buf: np.ndarray,
    doc_off: np.ndarray,
    doc_lens: np.ndarray,
    num_hashes: int,
    shingle_k: int,
    seed: int = 42,
    unit: str = "char",
) -> np.ndarray:
    """(n_docs, num_hashes) int64 MinHash signature matrix for a batch.

    One murmur64a pass over every shingle of every doc, then ``num_hashes``
    affine transforms each reduced per-doc with np.minimum.reduceat. Empty
    docs get all-max signatures (match nothing). ``unit``: "char" (k
    code-point windows) or "word" (k consecutive words of NORMALIZED
    single-space text — the web-dedup shingle; see with_hashed_shingles).
    """
    hashes, _, counts = _window_hashes(buf, doc_off, doc_lens, shingle_k, unit)
    sig = np.full((len(doc_lens), num_hashes), np.iinfo(np.int64).max, dtype=np.int64)
    a, b = _minhash_coeffs(num_hashes, seed)
    nonempty = counts > 0
    ne_starts = (np.cumsum(counts) - counts)[nonempty]
    # uint64 wraparound affine (see _minhash_coeffs), ONE preallocated
    # scratch reused across hash functions — a fresh `a[i]*hashes + b[i]`
    # array per function allocates num_hashes × ~120 MB per batch and
    # measures 1.7× slower (same churn pathology as _simhash_from_buffers)
    hv = np.empty(len(hashes), dtype=np.uint64)
    for i in range(num_hashes):
        np.multiply(hashes, a[i], out=hv)
        np.add(hv, b[i], out=hv)
        sig[nonempty, i] = np.minimum.reduceat(hv, ne_starts).astype(np.int64)
    return sig


def minhash_signatures_batch(
    texts: list[bytes], num_hashes: int, shingle_k: int, seed: int = 42
) -> np.ndarray:
    buf, doc_off, doc_lens = _docs_to_buffers(texts)
    return _minhash_from_buffers(buf, doc_off, doc_lens, num_hashes, shingle_k, seed)


def _simhash_from_buffers(
    buf: np.ndarray, doc_off: np.ndarray, doc_lens: np.ndarray, shingle_k: int = 4
) -> np.ndarray:
    """64-bit SimHash per doc: sign-vote over the bits of every shingle
    hash. Vectorized bit-plane-at-a-time with ONE preallocated uint64
    scratch reused across all 64 planes (shift and mask via out=): the
    obvious `((h >> b) & 1).astype(int32)` form allocates a fresh plane
    per bit — 64 × ~60 MB per 65k batch — and the allocation/page-fault
    churn measured 3.3× slower single-core (7.2 s vs 2.1 s per batch)
    and collapsed 16-worker parallel efficiency to ~0.4. 2D alternatives
    are worse: reduceat(axis=0) over an unpackbits matrix measured 96 s,
    a cumsum-difference segment sum 59 s."""
    hashes, _, counts = _window_hashes(buf, doc_off, doc_lens, shingle_k)
    out = np.zeros(len(doc_lens), dtype=np.int64)
    nonempty = counts > 0
    doc_starts = (np.cumsum(counts) - counts)[nonempty]
    half = counts[nonempty].astype(np.float64) / 2.0
    fp = np.zeros(int(nonempty.sum()), dtype=np.uint64)
    scratch = np.empty(len(hashes), dtype=np.uint64)
    for b in range(64):
        np.right_shift(hashes, np.uint64(b), out=scratch)
        np.bitwise_and(scratch, np.uint64(1), out=scratch)
        votes = np.add.reduceat(scratch, doc_starts)
        fp |= (votes > half).astype(np.uint64) << np.uint64(b)
    out[nonempty] = fp.astype(np.int64)  # two's-complement reinterpret for LongType
    return out


def simhash64_batch(texts: list[bytes], shingle_k: int = 4) -> np.ndarray:
    buf, doc_off, doc_lens = _docs_to_buffers(texts)
    return _simhash_from_buffers(buf, doc_off, doc_lens, shingle_k)


def _docs_to_buffers(texts: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """List-of-bytes -> shared buffer + per-doc offsets/lens (tests/local)."""
    buf, offsets = kernel.bytes_to_buffers(texts)
    return buf, offsets[:-1], np.diff(offsets)


def _arrow_doc_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow string/binary array -> (buf, doc_off, doc_lens), nulls as
    empty docs, no per-row Python and no byte copies."""
    if arr.null_count:
        arr = pc.fill_null(arr, "" if str(arr.type).endswith(("string", "utf8")) else b"")
    data, offsets, _ = _arrow_to_buffers(arr)
    return data, offsets[:-1], offsets[1:] - offsets[:-1]


def _list_array(counts: np.ndarray, values: np.ndarray) -> pa.Array:
    """``array<long>`` column: doc i holds the next ``counts[i]`` values."""
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _append_doc_columns(
    df: DataFrame,
    text_col: str,
    fields: list[tuple[str, DataType]],
    per_batch: Callable[[np.ndarray, np.ndarray, np.ndarray], list[pa.Array]],
) -> DataFrame:
    """The one per-document Arrow pass: append the non-nullable ``fields``
    to ``df`` with ``per_batch(buf, doc_off, doc_lens)``, the kernel that
    turns one Arrow batch's ``text_col`` (NULLs as empty docs, see
    _arrow_doc_buffers) into one array per field, one row per doc
    (mapInArrow, narrow — no shuffle)."""
    # an empty batch on the driver: bad parameters fail here, and it gives the Arrow types
    probe = per_batch(*_docs_to_buffers([]))
    appended = [pa.field(name, col.type, nullable=False) for (name, _), col in zip(fields, probe)]
    schema = StructType(list(df.schema.fields) + [StructField(name, t, False) for name, t in fields])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = per_batch(*_arrow_doc_buffers(rb.column(rb.schema.get_field_index(text_col))))
            out_schema = pa.schema(list(rb.schema) + appended, metadata=rb.schema.metadata)
            yield pa.RecordBatch.from_arrays(list(rb.columns) + cols, schema=out_schema)

    return df.mapInArrow(gen, schema=schema)


def with_minhash(
    df: DataFrame,
    text_col: str,
    *,
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    out_col: str = "minhash",
    unit: str = "char",
) -> DataFrame:
    """Append an ``array<long>`` MinHash signature column (mapInArrow,
    narrow — no shuffle; shingles hashed straight out of Arrow buffers).
    ``unit="word"`` REQUIRES normalized (single-space) text — see
    with_hashed_shingles."""

    def per_batch(buf, off, lens):
        sig = _minhash_from_buffers(buf, off, lens, num_hashes, shingle_k, seed, unit=unit)
        return [_list_array(np.full(len(lens), num_hashes), sig.ravel())]

    return _append_doc_columns(df, text_col, [(out_col, ArrayType(LongType()))], per_batch)


def with_hashed_shingles(
    df: DataFrame,
    text_col: str,
    *,
    shingle_k: int = 5,
    out_col: str = "shingle_hashes",
    unit: str = "char",
) -> DataFrame:
    """Append a sorted-unique ``array<long>`` of murmur64 shingle hashes of
    the doc's text (mapInArrow, narrow, zero-copy windows over the Arrow
    buffer — same shingle rule as char_shingles incl. sub-k self-shingle;
    windows span k CODE POINTS, not bytes, so non-ASCII text gets the
    same Jaccard as JVM/oracle character shingling — ADVICE r2 #1; see
    _char_shingle_windows_from_buffers, whose all-ASCII fast path is
    bit-identical to plain byte windows).

    The fast exact-verification representation for near-dup Jaccard: set
    operations on longs instead of building/distinct-ing millions of JVM
    substring objects (~10× on ~2 KB docs). Jaccard over these equals
    string-shingle Jaccard up to 64-bit hash collisions (probability
    ~n²/2⁶⁵ — negligible at any realistic corpus size, and the LSH
    candidate stage already relies on the same hashes).

    ``unit``: "char" (default — k code-point windows) or "word"
    (k consecutive whitespace-delimited words of NORMALIZED text, the
    GPT-3-style decontamination unit — see
    _word_shingle_windows_from_buffers).

    NB: normalize first (e.g. ``.withColumn(tmp, normalized_text(col))``)
    when content-identity semantics are wanted — operators/dedup.py
    does; word mode REQUIRES normalized (single-space) text."""

    def per_batch(buf, off, lens):
        hashes, _, counts = _window_hashes(buf, off, lens, shingle_k, unit)
        hashes = hashes.astype(np.int64)  # sorted as the longs Spark holds
        first, run_doc, _ = _doc_hash_runs(hashes, counts)  # within-doc duplicates dropped
        return [_list_array(np.bincount(run_doc, minlength=len(lens)), hashes[first])]

    return _append_doc_columns(df, text_col, [(out_col, ArrayType(LongType()))], per_batch)


def with_word_window_hashes(
    df: DataFrame,
    text_col: str,
    *,
    n: int,
    out_col: str = "window_hashes",
) -> DataFrame:
    """Append an ``array<long>`` of POSITIONAL murmur64 hashes of every
    n-word window of the doc — element ``i`` is the hash of words
    ``[i, i+n)`` — via mapInArrow (narrow, zero-copy windows over the
    Arrow buffer; no dedup, no sub-n shingle: a doc with fewer than n
    words gets an empty array).

    This is the throughput path for ``duplicated_ngram_spans``
    (operators/dedup.py): the JVM ``md5(concat_ws(...))`` per window
    re-materializes ~n× the corpus text bytes and allocates a string per
    window, while these windows hash straight out of the shared buffer
    (same kernel as with_hashed_shingles). Hash equality ⇔ window text
    equality up to 64-bit murmur collisions (~n²/2⁶⁵ — the LSH stage
    already rides the same hashes).

    ``text_col`` must be single-space normalized (e.g.
    ``F.concat_ws(" ", tokens)`` of the whitespace-split token array) so
    word index == token index and window bytes == the space-joined token
    tuple."""

    def per_batch(buf, off, lens):
        hashes, _, counts = _window_hashes(buf, off, lens, n, "word", sub_n=False)
        return [_list_array(counts, hashes.astype(np.int64))]

    return _append_doc_columns(df, text_col, [(out_col, ArrayType(LongType()))], per_batch)


def with_ngram_repetition(
    df: DataFrame,
    text_col: str,
    *,
    n: int = 2,
    out_top: str = "top_ngram_fraction",
    out_dup: str = "dup_ngram_fraction",
) -> DataFrame:
    """Gopher-style word n-gram repetition signals per doc (Rae et al.
    2021 quality filters), appended as two double columns:

    - ``out_top``: bytes covered by the most frequent word n-gram
      (count × gram byte-length) / doc byte-length, capped at 1.
    - ``out_dup``: bytes covered by ALL word n-grams occurring more than
      once (Σ count×len over duplicated grams) / doc byte-length, capped
      at 1 (overlapping grams double-count, as in the paper's filter).

    Expects NORMALIZED text (single-space separated — pair with
    normalized_text); lengths are UTF-8 bytes on both sides of the
    oracle (DuckDB ``strlen``), fractions rounded half-up to 4 via the
    repo's portable floor rule. A nonempty doc with fewer than n words
    is its own single gram (count 1 → top 1.0, dup 0.0), matching the
    shingle sub-k rule; empty docs score 0/0.

    Vectorized mapInArrow: word windows + one murmur pass + a
    (doc, hash) lexsort → run-length stats; no per-row Python."""

    def per_batch(buf, off, lens):
        hashes, wlens, counts = _window_hashes(buf, off, lens, n, "word")
        first, run_doc, run_counts = _doc_hash_runs(hashes, counts)
        coverage = (run_counts * wlens[first]).astype(np.float64)  # same hash ⇒ same length
        top = np.zeros(len(lens), dtype=np.float64)
        dup = np.zeros(len(lens), dtype=np.float64)
        np.maximum.at(top, run_doc, coverage)
        dup_runs = run_counts > 1
        np.add.at(dup, run_doc[dup_runs], coverage[dup_runs])
        nz = lens > 0
        top[nz] = _round4(np.minimum(top[nz] / lens[nz], 1.0))
        dup[nz] = _round4(np.minimum(dup[nz] / lens[nz], 1.0))
        return [pa.array(top), pa.array(dup)]

    return _append_doc_columns(df, text_col, [(out_top, DoubleType()), (out_dup, DoubleType())], per_batch)


def unigram_vocab(
    df: DataFrame, text_col: str, *, max_vocab: int = 65536
) -> tuple[np.ndarray, np.ndarray, int]:
    """Corpus unigram statistics for surprisal scoring: the ``max_vocab``
    most frequent lowercased tokens as (sorted murmur64 hashes, aligned
    counts, total token count N). One explode + hash agg over the corpus
    (top-V collect is V rows to the driver — the broadcastable model)."""
    from .text import tokens

    counts = (
        df.select(F.explode(F.transform(tokens(text_col), F.lower)).alias("t"))
        .groupBy("t")
        .count()
    )
    total = counts.agg(F.sum("count")).collect()[0][0] or 0
    top = counts.orderBy(F.desc("count"), F.asc("t")).limit(max_vocab).collect()
    toks = [r["t"].encode() for r in top]
    cnts = np.array([r["count"] for r in top], dtype=np.int64)
    if not toks:
        return np.empty(0, np.uint64), np.empty(0, np.int64), 0
    data, offsets = kernel.bytes_to_buffers(toks)
    hashes = kernel.murmur64a(data, offsets)
    order = np.argsort(hashes)
    return hashes[order], cnts[order], int(total)


def with_unigram_surprisal(
    df: DataFrame,
    text_col: str,
    vocab: tuple[np.ndarray, np.ndarray, int],
    *,
    out_col: str = "surprisal",
    oov_count: float = 0.5,
) -> DataFrame:
    """Per-doc mean unigram surprisal −mean(ln p(token)) — the lib-free
    stand-in for CCNet-style LM-perplexity quality filtering: fluent text
    built from frequent tokens scores LOW, gibberish/rare-token text
    scores HIGH, and thresholding on the score is the filter.

    ``vocab`` comes from :func:`unigram_vocab` (broadcast by closure:
    ≤65k hashes + counts ≈ 1 MB); p(token) = count/N for in-vocab,
    ``oov_count``/N for out-of-vocab. Scoring is one narrow mapInArrow
    pass: word windows (n=1) over normalized lowercased text share the
    shingle machinery, one murmur sweep, one ``searchsorted`` lookup per
    batch — no per-row Python, no join, no shuffle. Empty docs score
    0.0; rounded half-up to 4 (portable rule)."""
    vhash, vcount, total = vocab
    if total <= 0:
        total = 1
    # ln p per vocab entry, then the out-of-vocab ln p at index len(vhash)
    logp = np.append(np.log(vcount.astype(np.float64) / total), np.log(oov_count / total))

    def per_batch(buf, off, lens):
        hashes, _, counts = _window_hashes(buf, off, lens, 1, "word")
        pos = np.searchsorted(vhash, hashes)
        hit = pos < len(vhash)
        hit[hit] = vhash[pos[hit]] == hashes[hit]
        doc_ids = np.repeat(np.arange(len(lens), dtype=np.int64), counts)
        sums = np.bincount(doc_ids, weights=-logp[np.where(hit, pos, len(vhash))], minlength=len(lens))
        score = np.zeros(len(lens), dtype=np.float64)
        nz = counts > 0
        score[nz] = sums[nz] / counts[nz]
        return [pa.array(_round4(score))]

    return _append_doc_columns(df, text_col, [(out_col, DoubleType())], per_batch)


def with_simhash(df: DataFrame, text_col: str, *, shingle_k: int = 4, out_col: str = "simhash") -> DataFrame:
    """Append a 64-bit SimHash fingerprint column (narrow, vectorized)."""

    def per_batch(buf, off, lens):
        return [pa.array(_simhash_from_buffers(buf, off, lens, shingle_k))]

    return _append_doc_columns(df, text_col, [(out_col, LongType())], per_batch)


# ---------------------------------------------------------------------------
# Cosine similarity — JVM-native expressions (no UDF)
# ---------------------------------------------------------------------------

def dot(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column | str, b: Column | str) -> Column:
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Jaccard of two array columns (native set ops)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(F.array_union(ca, cb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb)).cast("int")
