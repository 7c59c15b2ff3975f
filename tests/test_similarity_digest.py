"""Output digests of the per-document Arrow passes in
``functions/similarity.py``: every ``with_*`` column (char and word units
where a function takes one), plus the list-of-bytes batch helpers, over
one seeded frame of awkward docs — NULL, empty, sub-k, multi-space and
multi-byte UTF-8 — in three Arrow batches, one of them only NULL/empty.

A refactor of the window → hash → per-doc kernels must leave every digest
unchanged."""

import hashlib

import numpy as np
import pytest

from phphll_spark.functions import similarity as sim

_WORDS = ["the", "cat", "sat", "on", "mat", "naïve", "café", "日本語", "テキスト", "🙂", "x", "ab"]


def _docs() -> list[list]:
    """(id, text) rows in three slices; the last slice is only NULL/empty."""
    rng = np.random.default_rng(13)
    fixed = [None, "", "ab", "a  b  c", "  lead and trail  ", "日本", "é", "🙂🙂🙂🙂🙂🙂", "the cat the cat the cat"]
    rand = []
    for _ in range(40):
        n = int(rng.integers(1, 14))
        sep = " " if rng.random() < 0.8 else "  "
        rand.append(sep.join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n)))
    first = fixed + rand[:20]
    second = rand[20:] + [None, "", "x"]
    third = [None, "", None, ""]
    return [first, second, third]


@pytest.fixture(scope="module")
def docs_df(spark):
    slices, i = [], 0
    for s in _docs():
        slices.append([(i + j, t) for j, t in enumerate(s)])
        i += len(s)
    # one slice per partition, so each slice is its own Arrow batch
    rdd = spark.sparkContext.parallelize(slices, len(slices)).flatMap(lambda s: s)
    assert [len(p) for p in rdd.glom().collect()] == [len(s) for s in slices]
    return spark.createDataFrame(rdd, "id long, text string")


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _frame_digest(df, cols) -> str:
    rows = sorted(tuple(r[c] for c in ["id", *cols]) for r in df.collect())
    return _digest(rows)


_VOCAB_WORDS = ["the", "cat", "sat", "café", "🙂", "ab"]


_CASES = {
    "minhash_char": (lambda df, v: sim.with_minhash(df, "text", num_hashes=16, shingle_k=5), ["minhash"]),
    "minhash_word": (
        lambda df, v: sim.with_minhash(df, "text", num_hashes=8, shingle_k=2, unit="word", out_col="mw"),
        ["mw"],
    ),
    "shingles_char": (lambda df, v: sim.with_hashed_shingles(df, "text", shingle_k=4), ["shingle_hashes"]),
    "shingles_word": (
        lambda df, v: sim.with_hashed_shingles(df, "text", shingle_k=2, unit="word", out_col="sw"),
        ["sw"],
    ),
    "word_windows_2": (lambda df, v: sim.with_word_window_hashes(df, "text", n=2), ["window_hashes"]),
    "word_windows_3": (lambda df, v: sim.with_word_window_hashes(df, "text", n=3, out_col="w3"), ["w3"]),
    "ngram_repetition": (
        lambda df, v: sim.with_ngram_repetition(df, "text", n=2),
        ["top_ngram_fraction", "dup_ngram_fraction"],
    ),
    "ngram_repetition_1": (
        lambda df, v: sim.with_ngram_repetition(df, "text", n=1, out_top="t1", out_dup="d1"),
        ["t1", "d1"],
    ),
    "surprisal": (lambda df, v: sim.with_unigram_surprisal(df, "text", v), ["surprisal"]),
    "surprisal_empty_vocab": (
        lambda df, v: sim.with_unigram_surprisal(
            df, "text", (np.empty(0, np.uint64), np.empty(0, np.int64), 0), out_col="s0"
        ),
        ["s0"],
    ),
    "simhash": (lambda df, v: sim.with_simhash(df, "text"), ["simhash"]),
    "simhash_k2": (lambda df, v: sim.with_simhash(df, "text", shingle_k=2, out_col="s2"), ["s2"]),
}

_WANT = {
    "minhash_char": "aa1c1695b5882a94",
    "minhash_word": "1e85625d7b58e8a0",
    "shingles_char": "84c683b628e5ad69",
    "shingles_word": "b5854743c5738340",
    "word_windows_2": "d3038ab67dde93bb",
    "word_windows_3": "53c2919bcb5cd769",
    "ngram_repetition": "43da6ca8dcbd3275",
    "ngram_repetition_1": "ab59f6473fabfa79",
    "surprisal": "5d3de67f76eb3bc8",
    "surprisal_empty_vocab": "93bdd05e49341f9e",
    "simhash": "31b8d971568ae44f",
    "simhash_k2": "12627e709b4decad",
    "minhash_signatures_batch": "9685eb03ac5da746",
    "simhash64_batch": "731dd5da06e763c6",
}


def _vocab():
    from phphll_spark import kernel

    toks = [w.encode() for w in _VOCAB_WORDS]
    data, offsets = kernel.bytes_to_buffers(toks)
    hashes = kernel.murmur64a(data, offsets)
    order = np.argsort(hashes)
    return hashes[order], np.arange(len(toks), 0, -1, dtype=np.int64)[order] * 3, 100


@pytest.mark.parametrize("case", list(_CASES))
def test_with_column_digest(docs_df, case):
    fn, cols = _CASES[case]
    out = fn(docs_df, _vocab())
    assert out.columns == docs_df.columns + cols
    assert all(not out.schema[c].nullable for c in cols)
    assert _frame_digest(out, cols) == _WANT[case]


def _texts() -> list[bytes]:
    return [(t or "").encode() for s in _docs() for t in s]


def test_minhash_signatures_batch_digest():
    sig = sim.minhash_signatures_batch(_texts(), 16, 5)
    assert sig.shape == (sum(len(s) for s in _docs()), 16) and sig.dtype == np.int64
    assert _digest(sig.tolist()) == _WANT["minhash_signatures_batch"]


def test_simhash64_batch_digest():
    fp = sim.simhash64_batch(_texts(), 3)
    assert fp.dtype == np.int64
    assert _digest(fp.tolist()) == _WANT["simhash64_batch"]
