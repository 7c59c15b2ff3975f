"""Self-check of the benchmark's answer checks: each check passes a right
answer and fails a deliberately wrong one, and a wrong answer in the timed
loop lowers ``ok_frac``. Needs no Spark session.

Run from the repository root:  python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from data import Dataset, word_shingles  # noqa: E402
from run import Runner  # noqa: E402
from workloads import NearDupDocs, PagesCmsUrl, PagesTextLang, SketchFamilies, hll_group_errors  # noqa: E402


def expect(name: str, got: bool, want: bool) -> None:
    if got != want:
        raise SystemExit(f"selfcheck: {name}: check returned {got}, expected {want}")
    print(f"selfcheck: {name}: {'passes' if got else 'fails'} as expected")


def hll_cases() -> None:
    exact = {("en",): 120_000, ("de",): 20_000, ("zh",): 50}
    expect("hll right", hll_group_errors({("en",): 120_900, ("de",): 19_880, ("zh",): 51}, exact, 14)[0], True)
    expect("hll 20% over", hll_group_errors({("en",): 144_000, ("de",): 20_000, ("zh",): 50}, exact, 14)[0], False)
    expect("hll missing group", hll_group_errors({("en",): 120_000, ("de",): 20_000}, exact, 14)[0], False)


def cms_cases() -> None:
    from phphll_spark import kernel
    from phphll_spark.sketches.cms import cms_deserialize, cms_serialize, cms_update, empty_cms

    wl = PagesCmsUrl()
    rng = np.random.default_rng(11)
    urls = [f"https://h{int(x)}.example/" for x in rng.zipf(1.5, 20_000) % 5_000]
    exact = pd.Series(urls).value_counts()
    sample = list(exact.index[:10]) + [u for u in exact.index if u.endswith("7.example/")][:20]
    g = ("en",)
    ds = Dataset(df=None, path="", rows=len(urls),
                 truth={g: {"n": len(urls), "items": {u: int(exact[u]) for u in sample}}})
    cms = empty_cms(wl.depth, wl.width)
    cms_update(cms, *kernel.bytes_to_buffers([u.encode() for u in urls]))
    right = cms_serialize(cms)
    expect("cms right", wl.check(ds, {g: right})[0], True)
    expect("cms undercount", wl.check(ds, {g: cms_serialize(empty_cms(wl.depth, wl.width))})[0], False)
    expect("cms overcount", wl.check(ds, {g: cms_serialize(cms_deserialize(right) + 1000)})[0], False)
    expect("cms missing group", wl.check(ds, {})[0], False)


def near_dup_cases() -> None:
    wl = NearDupDocs()
    base = " ".join(f"w{i}" for i in range(40))
    texts = {1: base, 2: base, 3: base + " x y", 4: " ".join(f"v{i}" for i in range(40))}
    sh = {i: word_shingles(t, wl.shingle_k) for i, t in texts.items()}
    ds = Dataset(df=None, path="", rows=4, truth={"shingles": sh, "pairs": {(1, 2), (1, 3), (2, 3)}})
    expect("near-dup right", wl.check(ds, [(1, 2), (1, 3), (2, 3)])[0], True)
    expect("near-dup low recall", wl.check(ds, [(1, 2)])[0], False)
    expect("near-dup dissimilar pair", wl.check(ds, [(1, 2), (1, 3), (2, 3), (1, 4)])[0], False)
    expect("near-dup repeated pair", wl.check(ds, [(1, 2), (1, 2), (1, 3), (2, 3)])[0], False)


def family_sketches(fams: SketchFamilies, items: list[str], values: np.ndarray) -> dict[str, bytes]:
    """One group's six sketches, built with the library's own folds."""
    from phphll_spark import kernel
    from phphll_spark.sketches.bloom import bloom_serialize, bloom_update, empty_bloom
    from phphll_spark.sketches.cms import cms_serialize, cms_update, empty_cms
    from phphll_spark.sketches.heavyhitters import mg_fold, mg_serialize
    from phphll_spark.sketches.kll import KLL
    from phphll_spark.sketches.tdigest import TDigest
    from phphll_spark.sketches.theta import _THETA_ONE, theta_fold, theta_serialize

    data, offsets = kernel.bytes_to_buffers([s.encode() for s in items])
    cms = empty_cms(fams.cms_depth, fams.cms_width)
    cms_update(cms, data, offsets)
    words = empty_bloom(65536)
    bloom_update(words, data, offsets, 7)
    kll, td = KLL(fams.kll_k), TDigest(fams.tdigest_delta)
    kll.add(values)
    td.add(values)
    entries, theta = theta_fold(np.empty(0, np.uint64), _THETA_ONE, kernel.murmur64a(data, offsets), fams.theta_k)
    counts: dict[bytes, int] = {}
    n = mg_fold(counts, pd.Series(items), fams.mg_k)
    return {
        "cms": cms_serialize(cms), "bloom": bloom_serialize(words, 7), "kll": kll.serialize(),
        "tdigest": td.serialize(), "theta": theta_serialize(entries, theta, fams.theta_k),
        "mg": mg_serialize(counts, n, fams.mg_k),
    }


def family_cases() -> None:
    from phphll_spark.sketches.cms import cms_deserialize, cms_serialize, empty_cms

    fams = SketchFamilies(["g"], "item", "value")
    rng = np.random.default_rng(7)
    items = [f"u{int(x)}" for x in rng.zipf(1.5, 20_000) % 5_000]
    values = rng.normal(100.0, 15.0, 20_000).round(1)
    g = ("a",)
    exact_items = pd.Series(items).value_counts()
    sample = list(exact_items.index[:10]) + [s for s in exact_items.index if s.endswith("7")][:20]
    truth = {g: {"n": len(items), "distinct": len(exact_items), "vals": np.sort(values),
                 "items": {s: int(exact_items[s]) for s in sample}}}
    right = {f: {g: b} for f, b in family_sketches(fams, items, values).items()}
    expect("families right", fams.check(right, truth), True)
    wrong = {f: dict(v) for f, v in right.items()}
    wrong["cms"][g] = cms_serialize(empty_cms(fams.cms_depth, fams.cms_width))
    expect("families cms undercount", fams.check(wrong, truth), False)
    wrong["cms"][g] = cms_serialize(cms_deserialize(right["cms"][g]) + 1000)
    expect("families cms overcount", fams.check(wrong, truth), False)
    shifted = {f: {g: b} for f, b in family_sketches(fams, items, values + 10.0).items()}
    wrong = {**right, "kll": shifted["kll"]}
    expect("families kll rank error", fams.check(wrong, truth), False)
    wrong = {**right, "theta": {g: family_sketches(fams, items[:5000], values)["theta"]}}
    expect("families theta estimate", fams.check(wrong, truth), False)
    wrong = {f: {g: b} for f, b in family_sketches(fams, items[:-1], values).items()}
    expect("families mg stream length", fams.check({**right, "mg": wrong["mg"]}, truth), False)


class _AlternatingPages(PagesTextLang):
    """The pages workload's own check over canned answers, every other one
    20% high."""

    def __init__(self) -> None:
        self.n = 0

    def call(self, ds):
        self.n += 1
        scale = 1.2 if self.n % 2 == 0 else 1.0
        return {g: int(v * scale) for g, v in ds.truth["exact"].items()}


def ok_frac_case() -> None:
    ds = Dataset(df=None, path="", rows=1, truth={"exact": {("en",): 100_000, ("de",): 30_000}})
    r = Runner(_AlternatingPages())
    _, oks = r.timed_loop(ds, 0.0, 4)
    ok_frac = sum(oks) / len(oks)
    expect("ok_frac below 1.0 with wrong answers", ok_frac < 1.0 and not r.all_correct, True)
    print(f"selfcheck: ok_frac = {ok_frac} over {len(oks)} calls")


def main() -> int:
    hll_cases()
    cms_cases()
    near_dup_cases()
    family_cases()
    ok_frac_case()
    print("selfcheck: all checks behave")
    return 0


if __name__ == "__main__":
    sys.exit(main())
