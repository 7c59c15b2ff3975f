"""Physical-plan quality gates: the properties that make the engine hold
at 100 TB must be visible in the plan, not assumed.

- column pruning: the sketch path must never read the fat `html` column
- predicate pushdown: filters reach the parquet scan (PushedFilters)
- broadcast joins: small dims broadcast, no shuffle-sort-merge
- sketch-only shuffle: the exchange after partial aggregation carries
  (keys, sketch) rows, not raw elements
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from phphll_spark.functions import hll_count_distinct, hll_partial_sketches
from phphll_spark.sources.pages import generate_pages_parquet


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    generate_pages_parquet(spark, path, 5_000, n_files=4)
    return path


def test_sketch_path_prunes_html(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = _plan(hll_count_distinct(pages, ["lang"], "url"))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "html" not in read_schema[0]
    assert "text" not in read_schema[0]  # only lang + url are read
    assert "url" in read_schema[0] and "lang" in read_schema[0]


def test_filter_pushdown_reaches_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = hll_count_distinct(pages.filter(F.col("lang") == "en"), ["lang"], "url")
    plan = _plan(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0], plan


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.q_hll_nations_per_region(spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_shuffle_carries_sketches_not_rows(spark, pages_path):
    """The only exchange in the agg pipeline sits ABOVE the partial-sketch
    map stage: its input schema is (keys, sketch), never raw value rows."""
    pages = spark.read.parquet(pages_path)
    partials = hll_partial_sketches(pages, ["lang"], "url")
    plan = _plan(
        partials.groupBy("lang").count()
    )
    # the exchange's child must be the python map stage, i.e. hashpartitioning
    # happens on the partials' lang column after the Arrow map stage
    assert "MapInArrow" in plan
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l or "hashpartitioning" in l]
    assert exchange_lines, plan


def test_whole_stage_codegen_on_native_paths(spark):
    """Text-analysis expressions stay inside WholeStageCodegen (JVM)."""
    from phphll_spark.functions import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.groupBy("lang").agg(F.sum(T.token_count("text")).alias("t"))
    plan = _plan(q, "simple")
    # AQE prints the pre-final plan; HashAggregate over native expressions is
    # the codegen path — the key assertion is the absence of Python eval nodes
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan  # no python UDF

def test_sessionize_single_shuffle_no_python(spark):
    """Sessionization = analytic windows on one user-key shuffle; the whole
    operator stays JVM-side (no Python eval nodes)."""
    from phphll_spark.operators import session_stats

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(session_stats(ev, "user_id", "ts"), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan


def test_dedup_exact_native_partial_agg(spark):
    """Exact dedup is a JVM md5 + hash agg with map-side partial
    aggregation — no Python, one shuffle."""
    from phphll_spark.operators import dedup_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup_exact(docs, "doc_id", "text"), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_embedding_near_dup_blocked_no_cross_join(spark):
    """The blocked near-dup plan must contain no cartesian/unblocked
    nested-loop join (VERDICT r01 #4): candidates come from equi-grouped
    (table, bucket) cells, verification joins only on pair ids."""
    from phphll_spark.operators import embedding_near_dup_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = embedding_near_dup_blocked(emb, "vec_id", "embedding", threshold=0.5, dim=64)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_indexed_probe_prunes_partitions(spark, tmp_path_factory):
    """The materialized IVF index is partitioned by centroid; a probe must
    read ONLY its probe partitions — visible as PartitionFilters on the
    scan (VERDICT r01 #4 'Done' criterion)."""
    import numpy as np

    from phphll_spark.operators import ivf_build_index, ivf_topk_indexed, kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    train = np.array([r["embedding"] for r in emb.limit(256).collect()], dtype=np.float64)
    centroids = kmeans_centroids(train, 8, seed=42)
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_build_index(emb, "vec_id", "embedding", centroids=centroids, path=path)
    qvecs = {int(r["vec_id"]): list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 3).collect()}
    out = ivf_topk_indexed(spark, path, qvecs, centroids=centroids, n_probe=2, k=3)
    plan = _plan(out)
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and "centroid" in part[0], plan
    # and the probe still returns k rows per query
    counts = {r["query_id"]: r["n"] for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(v == 3 for v in counts.values())


def test_minhash_candidates_single_shuffle_no_self_join(spark):
    """Candidate generation groups each (band, bucket) once and expands
    pairs in-place — no self-join (two scans / extra shuffle). The banded
    rows ARE persisted by design (the bucket-size pricing pass and the
    collect share one signature computation — see
    _candidate_pairs_from_sigs), so the expansion reads an
    InMemoryTableScan of banded (id, band, bucket) rows, never a second
    signature pass; release_cached() drops it."""
    from phphll_spark.operators import minhash_candidate_pairs, release_cached

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=16, bands=8)
    plan = _plan(pairs, "simple")
    release_cached(spark)
    assert "Join" not in plan, plan  # pair expansion is a transform, not a join
    # exactly one cached input: the banded rows (not signatures, not pairs)
    assert plan.count("InMemoryRelation") <= 1, plan


def test_all_pairs_gemm_no_cartesian(spark):
    """The blocked-GEMM all-pairs plan joins block matrices through a tiny
    combo table with broadcast equi-joins — no cartesian/nested-loop."""
    from phphll_spark.operators import cosine_all_pairs_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = cosine_all_pairs_blocked(emb, "vec_id", "embedding", threshold=0.4, num_blocks=4)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_intersection_single_events_scan(spark):
    """VERDICT r02 #5: the inclusion-exclusion intersection query must
    scan events ONCE — all branches (three sketches + exact) hang off the
    same uid-grouped exchange, which Spark then reuses."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_hll_intersection_event_types(spark, "/root/testdata/sf0.001")
    plan = _plan(df, "formatted")
    scans = [l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l]
    assert len(scans) == 1 and "events.parquet" in plan, plan
    # one uid exchange + the tiny partials exchange — never one per branch
    exchanges = [l for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l]
    assert len(exchanges) <= 2, plan
    # and the answer is still right
    row = df.collect()[0]
    assert row["within_bound"] is True


def test_ivf_ensure_index_builds_once(spark, tmp_path_factory):
    """VERDICT r02 #4: the IVF index is built at most once per
    (data, quantizer) fingerprint — the second call must return the same
    path without rewriting it, and no tmp dirs may survive."""
    import os

    import numpy as np

    from phphll_spark.operators import ivf_ensure_index, kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    train = np.array([r["embedding"] for r in emb.limit(64).collect()], dtype=np.float64)
    centroids = kmeans_centroids(train, 4, seed=42)
    root = str(tmp_path_factory.mktemp("ivfcache"))
    p1 = ivf_ensure_index(emb, "vec_id", "embedding", centroids=centroids, cache_root=root)
    mtime = os.path.getmtime(p1)
    p2 = ivf_ensure_index(emb, "vec_id", "embedding", centroids=centroids, cache_root=root)
    assert p1 == p2 and os.path.getmtime(p1) == mtime
    assert [d for d in os.listdir(root) if ".tmp-" in d] == []
    # a different quantizer gets its own index
    p3 = ivf_ensure_index(
        emb, "vec_id", "embedding", centroids=kmeans_centroids(train, 4, seed=7), cache_root=root
    )
    assert p3 != p1


def test_minhash_prefilter_never_exchanges_signatures(spark):
    """VERDICT r03 #3: the signature-agreement prefilter joins broadcast
    the (tiny) candidate-pair frame, so the corpus-sized signature frame
    is streamed map-side — no Exchange in the plan may carry a minhash
    signature column (m_a/m_b/minhash)."""
    from phphll_spark.operators import dedup_minhash, release_cached

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup_minhash(docs, "doc_id", "text", threshold=0.8, num_hashes=16, bands=8)
    plan = _plan(pairs, "formatted")
    release_cached(spark)
    # formatted mode: each node is "(n) Name" followed by an "Input"
    # (or Output) column list — collect the Input lines of SHUFFLE
    # Exchange nodes (a BroadcastExchange of the pairs-side frame with
    # one signature attached is the intended broadcast, not a shuffle
    # of the corpus-sized signature frame)
    lines = plan.splitlines()
    bad = []
    for i, l in enumerate(lines):
        if ") Exchange" in l:
            for j in range(i + 1, min(i + 4, len(lines))):
                if lines[j].startswith("Input"):
                    cols = lines[j]
                    if "m_a" in cols or "m_b" in cols or "minhash" in cols:
                        bad.append((l, cols))
    assert not bad, bad


def test_simhash_pairs_no_self_join_guarded_shape(spark):
    """VERDICT r03 #2: simhash candidates come from grouped (chunk_idx,
    chunk) cells with in-cell pair expansion — no cartesian/nested-loop
    join, no SortMergeJoin over the fingerprint frame, and the pair frame
    broadcasts into verification."""
    from phphll_spark.operators import release_cached
    from phphll_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = simhash_near_dup_pairs(docs, "doc_id", "text", max_bucket_size=1000)
    plan = _plan(df, "simple")
    release_cached(spark)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_ensure_index_adhoc_for_memory_corpus(spark, tmp_path_factory):
    """ADVICE r03: a non-file-backed corpus has no input-file metadata to
    fingerprint — two different in-memory corpora with the same quantizer
    must NOT share an index. ADVICE r04 upgrade: the fallback fingerprints
    the DATA (order-independent row digest), so a REPEATED call on the
    same in-memory corpus reuses its index instead of leaking a fresh
    adhoc dir per call."""
    import numpy as np

    from phphll_spark.operators import ivf_ensure_index, kmeans_centroids

    rng = np.random.default_rng(11)
    c1 = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    c2 = spark.createDataFrame(
        [(1000 + i, rng.standard_normal(8).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(rng.standard_normal((32, 8)), 4, seed=3)
    root = str(tmp_path_factory.mktemp("ivfadhoc"))
    p1 = ivf_ensure_index(c1, "vec_id", "embedding", centroids=cents, cache_root=root)
    p2 = ivf_ensure_index(c2, "vec_id", "embedding", centroids=cents, cache_root=root)
    assert p1 != p2
    # same corpus again (even reordered): the content digest reuses p1
    p1b = ivf_ensure_index(
        c1.orderBy(F.desc("vec_id")), "vec_id", "embedding", centroids=cents, cache_root=root
    )
    assert p1b == p1
    assert len([d for d in os.listdir(root) if not d.endswith("_ckpt")]) == 2
    # the materialized index schema is (centroid, id, vec)
    ids1 = {r["id"] for r in spark.read.parquet(p1).collect()}
    ids2 = {r["id"] for r in spark.read.parquet(p2).collect()}
    assert ids1 == set(range(64)) and ids2 == {1000 + i for i in range(64)}


def test_minhash_bands_must_divide_num_hashes(spark, assert_no_job):
    """The banding guard rejects a bad split on the driver, before any
    job, in both entry points."""
    from phphll_spark.operators import dedup_minhash, minhash_candidate_pairs, release_cached

    docs = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    try:
        with assert_no_job():
            with pytest.raises(ValueError, match="must divide"):
                minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=10, bands=3)
            with pytest.raises(ValueError, match="must divide"):
                dedup_minhash(docs, "doc_id", "text", num_hashes=10, bands=3)
    finally:
        release_cached(spark)
