"""Count-Min and Bloom sketches: kernel properties, merge laws, distributed
== serial, codec validation (same test strategy as the HLL family)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from phphll_spark import kernel
from phphll_spark.functions import hll_sketch
from phphll_spark.sketches import bloom_sketch, cms_sketch, kll_sketch, mg_sketch, tdigest_sketch, theta_sketch
from phphll_spark.sketches.bloom import (
    InvalidBloomError,
    bloom_contains,
    bloom_deserialize,
    bloom_merge,
    bloom_might_contain,
    bloom_serialize,
    bloom_update,
    empty_bloom,
    optimal_params,
)
from phphll_spark.sketches.cms import (
    InvalidCMSError,
    cms_deserialize,
    cms_merge,
    cms_point_estimate,
    cms_query,
    cms_serialize,
    cms_update,
    empty_cms,
)


def _bufs(items):
    return kernel.bytes_to_buffers([i.encode() if isinstance(i, str) else i for i in items])


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------

def test_cms_overestimates_never_under():
    cms = empty_cms(4, 512)
    items = [f"k{i % 50}" for i in range(5000)]
    data, offsets = _bufs(items)
    cms_update(cms, data, offsets)
    qd, qo = _bufs([f"k{i}" for i in range(50)])
    est = cms_query(cms, qd, qo)
    assert (est >= 100).all()  # every key occurs exactly 100 times
    # epsilon bound: est <= true + e/w * N with high probability
    assert (est <= 100 + int(np.e / 512 * 5000) + 100).all()


def test_cms_exact_when_wide():
    cms = empty_cms(4, 1 << 16)
    data, offsets = _bufs([f"k{i % 20}" for i in range(2000)])
    cms_update(cms, data, offsets)
    qd, qo = _bufs([f"k{i}" for i in range(20)])
    assert (cms_query(cms, qd, qo) == 100).all()
    qd, qo = _bufs(["absent"])
    assert int(cms_query(cms, qd, qo)[0]) == 0


def test_cms_merge_equals_single_stream():
    items = [f"x{i % 97}" for i in range(3000)]
    whole = empty_cms()
    d, o = _bufs(items)
    cms_update(whole, d, o)
    acc = empty_cms()
    for part in range(5):
        c = empty_cms()
        d, o = _bufs(items[part::5])
        cms_update(c, d, o)
        acc = cms_merge(acc, c)
    assert (acc == whole).all()


def test_cms_codec_roundtrip_and_validation():
    cms = empty_cms(4, 256)
    d, o = _bufs(["a", "b", "a"])
    cms_update(cms, d, o)
    blob = cms_serialize(cms)
    assert (cms_deserialize(blob) == cms).all()
    with pytest.raises(InvalidCMSError):
        cms_deserialize(b"XXXX" + blob[4:])
    with pytest.raises(InvalidCMSError):
        cms_deserialize(blob[:-8])
    with pytest.raises(InvalidCMSError):
        cms_merge(empty_cms(4, 256), empty_cms(4, 512))


def test_cms_distributed_matches_serial(spark):
    rows = [(f"t{i % 3}", f"u{i % 40}") for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, item string")
    sk = {r["grp"]: r["cms"] for r in cms_sketch(df, ["grp"], "item", depth=4, width=4096).collect()}
    for grp in ("t0", "t1", "t2"):
        serial = empty_cms(4, 4096)
        d, o = _bufs([it for g, it in rows if g == grp])
        cms_update(serial, d, o)
        assert (cms_deserialize(bytes(sk[grp])) == serial).all(), grp
    # scalar point-estimate UDF
    one = spark.createDataFrame([(bytes(sk["t0"]), "u0")], "cms binary, item string")
    est = one.select(cms_point_estimate("cms", "item").alias("e")).collect()[0]["e"]
    true = sum(1 for g, it in rows if g == "t0" and it == "u0")
    assert est >= true and est <= true + 5


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_bounded_false_positives():
    m, k = optimal_params(1000, 0.01)
    words = empty_bloom(m)
    d, o = _bufs([f"member{i}" for i in range(1000)])
    bloom_update(words, d, o, k)
    assert bloom_contains(words, d, o, k).all()  # no false negatives, ever
    qd, qo = _bufs([f"nonmember{i}" for i in range(10000)])
    fp = bloom_contains(words, qd, qo, k).mean()
    assert fp < 0.03  # target 1%, generous margin


def test_bloom_merge_laws():
    m, k = 4096, 5
    a, b = empty_bloom(m), empty_bloom(m)
    da, oa = _bufs([f"a{i}" for i in range(100)])
    db, ob = _bufs([f"b{i}" for i in range(100)])
    bloom_update(a, da, oa, k)
    bloom_update(b, db, ob, k)
    ab, ba = bloom_merge(a, b), bloom_merge(b, a)
    assert (ab == ba).all()
    assert (bloom_merge(a, a) == a).all()  # idempotent
    assert bloom_contains(ab, da, oa, k).all() and bloom_contains(ab, db, ob, k).all()
    with pytest.raises(InvalidBloomError):
        bloom_merge(empty_bloom(64), empty_bloom(128))


def test_bloom_codec_roundtrip_and_validation():
    words = empty_bloom(1024)
    d, o = _bufs(["x", "y"])
    bloom_update(words, d, o, 7)
    blob = bloom_serialize(words, 7)
    back, k = bloom_deserialize(blob)
    assert k == 7 and (back == words).all()
    with pytest.raises(InvalidBloomError):
        bloom_deserialize(blob[:-1])
    with pytest.raises(InvalidBloomError):
        bloom_deserialize(b"NOPE" + blob[4:])


def test_bloom_distributed_matches_serial(spark):
    rows = [(f"s{i % 2}", f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "grp string, item string")
    sk = {r["grp"]: r["bloom"] for r in bloom_sketch(df, ["grp"], "item", m_bits=16384, k=7).collect()}
    for grp in ("s0", "s1"):
        serial = empty_bloom(16384)
        d, o = _bufs([it for g, it in rows if g == grp])
        bloom_update(serial, d, o, 7)
        got, k = bloom_deserialize(bytes(sk[grp]))
        assert k == 7 and (got == serial).all(), grp
    probe = spark.createDataFrame(
        [(bytes(sk["s0"]), "v0"), (bytes(sk["s0"]), "v1"), (bytes(sk["s0"]), "not-there")],
        "bloom binary, item string",
    )
    got = [r["hit"] for r in probe.select(bloom_might_contain("bloom", "item").alias("hit")).collect()]
    # v0 is in s0 (even ids); v1 is in s1 only; "not-there" absent — fp odds
    # at 16384 bits / 500 items are negligible
    assert got == [True, False, False]


@pytest.mark.parametrize(
    "dtype, values",
    [
        ("string", ["a", "b", "b"]),
        ("long", [1, 2, 2]),
        ("double", [1.5, 2.0, 2.0]),
        ("boolean", [True, False, False]),
        ("binary", [b"ab", b"c", b"c"]),
    ],
    ids=["string", "long", "double", "boolean", "binary"],
)
def test_point_lookups_hash_what_the_fold_hashed(spark, dtype, values):
    """A Bloom lookup of a folded item is never a miss and a CMS estimate
    never undercounts, whatever the item type; a NULL item finds nothing."""
    df = spark.createDataFrame([(v,) for v in values] + [(None,)], f"item {dtype}")
    bloom = bytes(bloom_sketch(df, [], "item").collect()[0]["bloom"])
    cms = bytes(cms_sketch(df, [], "item").collect()[0]["cms"])
    got = df.select(
        "item",
        bloom_might_contain(F.lit(bloom), "item").alias("hit"),
        cms_point_estimate(F.lit(cms), "item").alias("est"),
    ).collect()
    assert len(got) == len(values) + 1
    for r in got:
        if r["item"] is None:
            assert (r["hit"], r["est"]) == (False, 0)
        else:
            item = bytes(r["item"]) if dtype == "binary" else r["item"]
            assert r["hit"] and r["est"] >= values.count(item), (item, r["hit"], r["est"])


def test_bloom_partition_invariance(spark):
    rows = [("g", f"v{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "grp string, item string")
    a = bloom_sketch(df.repartition(1), ["grp"], "item").collect()[0]["bloom"]
    b = bloom_sketch(df.repartition(13), ["grp"], "item").collect()[0]["bloom"]
    assert bytes(a) == bytes(b)


def test_register_sketch_sql_functions(spark):
    """Full sketch family reachable from SQL: build partials as columns,
    then merge + probe entirely in SQL."""
    from phphll_spark.sketches import (
        cms_sketch,
        kll_sketch,
        register_sketch_sql_functions,
    )

    register_sketch_sql_functions(spark)
    df = spark.createDataFrame(
        [("a", f"u{i % 50}", float(i)) for i in range(500)], "grp string, uid string, x double"
    )
    cms_sketch(df, ["grp"], "uid").createOrReplaceTempView("cms_parts")
    est = spark.sql(
        "SELECT cms_point_estimate(cms_merge_agg(cms), 'u7') AS est FROM cms_parts"
    ).collect()[0]["est"]
    assert est >= 10  # u7 occurs 10 times; CMS never undercounts

    kll_sketch(df, ["grp"], "x").createOrReplaceTempView("kll_parts")
    p50 = spark.sql(
        "SELECT kll_quantile(kll_merge_agg(kll), 0.5) AS p50 FROM kll_parts"
    ).collect()[0]["p50"]
    assert 200.0 <= p50 <= 300.0


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters
# ---------------------------------------------------------------------------

def test_mg_codec_roundtrip_and_validation():
    from phphll_spark.sketches.heavyhitters import (
        InvalidMGError,
        mg_deserialize,
        mg_serialize,
    )

    counts = {b"a": 10, b"bb": 3, b"": 1}
    blob = mg_serialize(counts, 14, 64)
    c2, n, k = mg_deserialize(blob)
    assert c2 == counts and n == 14 and k == 64
    with pytest.raises(InvalidMGError):
        mg_deserialize(b"XXXX" + blob[4:])
    with pytest.raises(InvalidMGError):
        mg_deserialize(blob[:-1])


def test_mg_exact_when_under_capacity():
    import pandas as pd

    from phphll_spark.sketches.heavyhitters import mg_fold

    rng = np.random.default_rng(3)
    items = pd.Series(rng.choice([f"t{i}" for i in range(10)], size=5000))
    counts: dict = {}
    n = mg_fold(counts, items, k=64)
    truth = items.value_counts()
    assert n == 5000
    assert {key.decode(): c for key, c in counts.items()} == truth.to_dict()


def test_mg_bound_under_random_merge_orders():
    """The published MG guarantee — est ∈ [true − N/(k+1), true] and every
    item with true > N/(k+1) present — must hold for ANY partition split
    and merge order (mergeable-summaries property)."""
    import pandas as pd

    from phphll_spark.sketches.heavyhitters import mg_fold, mg_merge

    rng = np.random.default_rng(11)
    k = 16
    # zipf-ish stream: a few heavy items + a long tail
    pool = [f"h{i}" for i in range(5)] * 200 + [f"t{i}" for i in range(400)]
    stream = rng.choice(pool, size=8000)
    truth = pd.Series(stream).value_counts().to_dict()
    n_total = len(stream)
    slack = n_total // (k + 1)

    for trial in range(5):
        # random split into 2-8 parts, random merge order
        n_parts = int(rng.integers(2, 9))
        bounds = np.sort(rng.choice(np.arange(1, n_total), size=n_parts - 1, replace=False))
        parts = np.split(stream, bounds)
        summaries = []
        for part in parts:
            c: dict = {}
            n = mg_fold(c, pd.Series(part), k)
            summaries.append((c, n))
        rng.shuffle(summaries)
        acc = summaries[0]
        for s in summaries[1:]:
            acc = mg_merge(acc, s, k)
        counts, n = acc
        assert n == n_total
        assert len(counts) <= k
        for key, est in counts.items():
            t = truth[key.decode()]
            assert est <= t, (trial, key)
            assert est >= t - slack, (trial, key)
        for item, t in truth.items():
            if t > slack:
                assert item.encode() in counts, (trial, item)


def test_mg_distributed_matches_serial(spark):
    """Spark fold+merge in the exact regime (distinct ≪ k) equals plain
    groupBy counts; SQL re-merge of checkpointed summaries agrees."""
    from phphll_spark.sketches import mg_entries, mg_sketch, register_sketch_sql_functions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select("event_type")
    truth = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    sk = mg_sketch(ev.repartition(7), [], "event_type", k=64)
    got = {
        r["event_type"]: r["n"]
        for r in sk.select(F.explode(mg_entries(F.col("mg"))).alias("event_type", "n")).collect()
    }
    assert got == truth
    # re-merge partial summaries through the SQL aggregate
    from phphll_spark.sketches import mg_partial_sketches

    register_sketch_sql_functions(spark)
    mg_partial_sketches(ev.repartition(5), [], "event_type", k=64).createOrReplaceTempView(
        "mg_partials"
    )
    merged = spark.sql("SELECT mg_merge_agg(mg) AS mg FROM mg_partials")
    got2 = {
        r["event_type"]: r["n"]
        for r in merged.select(F.explode(mg_entries(F.col("mg"))).alias("event_type", "n")).collect()
    }
    assert got2 == truth


# ---------------------------------------------------------------------------
# Theta (KMV) sketch — set operations
# ---------------------------------------------------------------------------

def test_theta_exact_regime_and_set_ops(spark):
    """Below k distinct values theta stays 1 and union / intersection /
    difference are EXACT — validated against Python set truth."""
    from pyspark.sql import functions as F

    from phphll_spark.sketches import (
        theta_a_not_b,
        theta_estimate,
        theta_intersect,
        theta_sketch,
        theta_union_pair,
    )

    a_vals = {f"u{i}" for i in range(600)}
    b_vals = {f"u{i}" for i in range(400, 900)}
    df = spark.createDataFrame(
        [("a", v) for v in sorted(a_vals)] + [("b", v) for v in sorted(b_vals)],
        "side string, v string",
    ).repartition(7)
    sk = theta_sketch(df, ["side"], "v", k=4096)
    a = sk.filter(F.col("side") == "a").select(F.col("theta").alias("ta"))
    b = sk.filter(F.col("side") == "b").select(F.col("theta").alias("tb"))
    row = (
        a.crossJoin(b)
        .select(
            theta_estimate(F.col("ta")).alias("ea"),
            theta_estimate(F.col("tb")).alias("eb"),
            theta_estimate(theta_union_pair(F.col("ta"), F.col("tb"))).alias("eu"),
            theta_estimate(theta_intersect(F.col("ta"), F.col("tb"))).alias("ei"),
            theta_estimate(theta_a_not_b(F.col("ta"), F.col("tb"))).alias("ed"),
        )
        .collect()[0]
    )
    assert row["ea"] == len(a_vals)
    assert row["eb"] == len(b_vals)
    assert row["eu"] == len(a_vals | b_vals)
    assert row["ei"] == len(a_vals & b_vals)
    assert row["ed"] == len(a_vals - b_vals)


def test_theta_estimation_regime_bound_and_merge_invariance(spark):
    """Above k the estimate must sit inside the 6/sqrt(k-1) relative
    bound, and the merged sketch bytes must be IDENTICAL under different
    partitionings (theta merges are bit-exact, like HLL)."""
    import math

    from pyspark.sql import functions as F

    from phphll_spark.sketches import theta_estimate, theta_sketch

    n, k = 100_000, 4096
    df = spark.range(n).select(F.concat(F.lit("item-"), F.col("id")).alias("v"))
    est = {}
    blobs = {}
    for parts in (3, 17):
        sk = theta_sketch(df.repartition(parts), [], "v", k=k)
        r = sk.select(theta_estimate(F.col("theta")).alias("e"), F.col("theta")).collect()[0]
        est[parts], blobs[parts] = r["e"], bytes(r["theta"])
    assert blobs[3] == blobs[17]  # bit-exact partition invariance
    bound = 6 / math.sqrt(k - 1)
    assert abs(est[3] - n) <= bound * n, est


def test_theta_intersection_report_both_regimes(spark):
    """VERDICT r04 #3: the regime-aware intersection export. Below k per
    side: theta_exact_regime TRUE and theta_intersection pinned to the
    true count. Above k (synthetic >k cardinality): the regime flag flips,
    the value column degrades to -1 (never export an estimate where a
    gate would hash-compare it), and theta_within_bound holds via the
    6/sqrt(k-1)·union bound."""
    from pyspark.sql import functions as F

    from phphll_spark.sketches import theta_intersection_report, theta_sketch

    k = 1024

    def report(n_a, n_b, overlap):
        # a = [0, n_a), b = [n_a - overlap, n_a - overlap + n_b)
        a = spark.range(n_a).select(F.lit("a").alias("side"), F.concat(F.lit("u"), "id").alias("v"))
        b = spark.range(n_a - overlap, n_a - overlap + n_b).select(
            F.lit("b").alias("side"), F.concat(F.lit("u"), "id").alias("v")
        )
        sk = theta_sketch(a.unionAll(b).repartition(5), ["side"], "v", k=k)
        ta = sk.filter(F.col("side") == "a").select(F.col("theta").alias("ta"))
        tb = sk.filter(F.col("side") == "b").select(F.col("theta").alias("tb"))
        union = n_a + n_b - overlap
        return (
            ta.crossJoin(tb)
            .select(
                *theta_intersection_report(
                    F.col("ta"), F.col("tb"), F.lit(overlap), F.lit(union), k=k
                )
            )
            .collect()[0]
        )

    exact = report(800, 700, 300)  # both sides < k
    assert exact["theta_exact_regime"] is True
    assert exact["theta_intersection"] == 300
    assert exact["theta_within_bound"] is True

    est = report(20_000, 15_000, 6_000)  # both sides > k: estimation regime
    assert est["theta_exact_regime"] is False
    assert est["theta_intersection"] == -1
    assert est["theta_within_bound"] is True


def test_theta_fold_merge_property():
    """Kernel-level property: folding a stream in arbitrary chunkings and
    merge orders yields the identical (entries, theta) state."""
    import numpy as np

    from phphll_spark.sketches.theta import (
        _THETA_ONE,
        theta_fold,
        theta_merge,
        theta_serialize,
    )

    rng = np.random.default_rng(11)
    hashes = rng.integers(0, 1 << 63, size=50_000, dtype=np.uint64)
    k = 512
    empty = np.empty(0, dtype=np.uint64)

    def run(splits, order):
        chunks = np.array_split(hashes, splits)
        states = []
        for ch in chunks:
            states.append(theta_fold(empty, _THETA_ONE, ch, k))
        acc = states[order[0]]
        for i in order[1:]:
            acc = theta_merge(acc, states[i], k)
        return theta_serialize(acc[0], acc[1], k)

    a = run(1, [0])
    b = run(5, [0, 1, 2, 3, 4])
    c = run(5, [4, 2, 0, 3, 1])
    d = run(9, list(range(9))[::-1])
    assert a == b == c == d


def test_theta_codec_roundtrip_and_validation():
    """THTA wire framing: roundtrip identity, corrupt blobs rejected."""
    import numpy as np
    import pytest

    from phphll_spark.sketches.theta import (
        InvalidThetaError,
        _THETA_ONE,
        theta_deserialize,
        theta_serialize,
    )

    entries = np.array([5, 1, 9, 2**63], dtype=np.uint64)
    blob = theta_serialize(entries, np.uint64(2**62), 128)
    e, t, k = theta_deserialize(blob)
    assert list(e) == sorted(entries.tolist()) and int(t) == 2**62 and k == 128
    # empty sketch
    e2, t2, k2 = theta_deserialize(theta_serialize(np.empty(0, np.uint64), _THETA_ONE, 16))
    assert len(e2) == 0 and t2 == _THETA_ONE and k2 == 16
    with pytest.raises(InvalidThetaError):
        theta_deserialize(b"NOPE" + blob[4:])
    with pytest.raises(InvalidThetaError):
        theta_deserialize(blob[:-3])  # truncated payload
    with pytest.raises(InvalidThetaError):
        theta_deserialize(b"")


# ---------------------------------------------------------------------------
# Rules shared by every family: NULL merges, driver-side guards
# ---------------------------------------------------------------------------

# one sketch per registered merge aggregate, with non-default parameters
_NON_DEFAULT_SKETCH = {
    "hll_merge_agg": lambda df: hll_sketch(df, [], "item"),  # the aggregate validates p
    "cms_merge_agg": lambda df: cms_sketch(df, [], "item", 4, 512),
    # 65536 bits, not the 8192 of empty_bloom()'s default
    "bloom_merge_agg": lambda df: bloom_sketch(df, [], "item"),
    "kll_merge_agg": lambda df: kll_sketch(df, [], "x", 64),
    "tdigest_merge_agg": lambda df: tdigest_sketch(df, [], "x", 64),
    "theta_merge_agg": lambda df: theta_sketch(df, [], "item", 1024),
    "mg_merge_agg": lambda df: mg_sketch(df, [], "item", 32),
}


@pytest.mark.parametrize("agg", list(_NON_DEFAULT_SKETCH))
def test_merge_agg_all_null_group_merges_to_null(spark, agg):
    """Every registered merge aggregate merges an all-NULL group to NULL,
    so re-merging that result with a partial of non-default parameters
    gives back the partial unchanged."""
    from phphll_spark.functions import register_sql_functions
    from phphll_spark.sketches import register_sketch_sql_functions

    register_sql_functions(spark)
    register_sketch_sql_functions(spark)
    src = spark.createDataFrame([(f"u{i % 37}", float(i)) for i in range(300)], "item string, x double")
    blob = bytes(_NON_DEFAULT_SKETCH[agg](src).collect()[0][0])
    parts = spark.createDataFrame([("none", None), ("none", None), ("real", blob)], "g string, s binary")
    parts.createOrReplaceTempView("merge_null_parts")
    again = spark.sql(
        f"SELECT {agg}(s) AS s FROM (SELECT {agg}(s) AS s FROM merge_null_parts WHERE g = 'none' "
        "UNION ALL SELECT s FROM merge_null_parts WHERE g = 'real')"
    ).collect()[0]["s"]
    assert bytes(again) == blob
    merged = {r["g"]: r["s"] for r in spark.sql(f"SELECT g, {agg}(s) AS s FROM merge_null_parts GROUP BY g").collect()}
    assert merged["none"] is None


def test_theta_set_ops_null_side_is_null(spark):
    from phphll_spark.sketches import theta_a_not_b, theta_intersect, theta_union_pair

    src = spark.createDataFrame([(f"u{i}",) for i in range(50)], "item string")
    blob = bytes(theta_sketch(src, [], "item", 64).collect()[0]["theta"])
    pairs = spark.createDataFrame([(blob, None), (None, blob), (None, None), (blob, blob)], "a binary, b binary")
    for op in (theta_intersect, theta_a_not_b, theta_union_pair):
        got = [r["r"] for r in pairs.select(op("a", "b").alias("r")).collect()]
        assert got[:3] == [None, None, None], op
        assert got[3] is not None, op


def test_bloom_bad_m_bits_rejected_on_driver(spark, assert_no_job):
    from phphll_spark.sketches import bloom_partial_sketches

    with pytest.raises(ValueError, match="multiple of 64"):
        empty_bloom(100)
    df = spark.createDataFrame([("g", "v")], "g string, v string")
    with assert_no_job(), pytest.raises(ValueError, match="multiple of 64"):
        bloom_partial_sketches(df, ["g"], "v", m_bits=100)
