"""Deterministic hash-based sampling for training-data pipelines.

Training sets routinely downsample over-represented strata (head
languages, boilerplate-heavy domains). Doing it with ``rand()`` makes the
corpus irreproducible; these operators derive the keep/drop decision from
a salted md5 of the row's id, so the sample is a pure function of the
data — stable across runs, partitionings, and engines (md5 is identical
in Spark and DuckDB, which is what makes the driver oracle possible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

BUCKETS = 10_000


def hash_bucket(col: Column | str, *, salt: str = "", buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets): first 8 md5 hex chars of the
    salted string form, as an integer. Engine-portable (md5 + hex parse
    exist in Spark and DuckDB with identical results)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, *, salt: str = "", buckets: int = BUCKETS
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows keyed on ``id_col``."""
    return df.filter(hash_bucket(id_col, salt=salt, buckets=buckets) < int(round(fraction * buckets)))


def cap_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    max_rows: int,
    *,
    salt_buckets: int = 64,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per stratum, deterministically (the
    lowest ids win) — the 'cap boilerplate-heavy domains' step of a
    training-data pipeline.

    Skew-safe two-phase top-k (VERDICT r02 #2 — a single window over the
    stratum key sorts an entire head domain in one task):

    1. salted partial top-k: rank within (stratum, salt) where salt =
       xxhash64(id) % ``salt_buckets`` — a boilerplate-heavy stratum is
       spread over ``salt_buckets`` tasks; each salt class keeps its own
       ``max_rows`` lowest ids, so ≤ salt_buckets·max_rows candidates
       per stratum survive.
    2. exact re-rank of the (now bounded) candidates within the stratum.

    Every one of the stratum's ``max_rows`` globally-lowest ids survives
    phase 1 (at most max_rows−1 ids in its own salt class are lower), so
    the result is identical to the single-window rank. Requires ``id_col``
    to be unique (the deterministic tiebreak); the salt is a pure function
    of the id, so results are independent of physical partitioning. Size
    ``salt_buckets`` ≈ cluster parallelism; each phase-1 task then holds
    O(stratum/salt_buckets) rows and the phase-2 sort is over
    salt_buckets·max_rows rows per stratum.

    NB Spark ≥3.5 additionally plans a map-side ``WindowGroupLimit
    (Partial)`` for literal row_number limits (visible in PLANS.md), so
    even each phase's own shuffle carries at most max_rows rows per
    (partition, window key) — the salted phase is the explicit,
    engine-portable guarantee that no single task ever ranks a whole
    head stratum, and the group-limit pushdown makes both phases cheap."""
    return _salted_top_k(df, id_col, strata_col, max_rows, salt_buckets)


def _salted_top_k(
    df: DataFrame, id_col: str, strata_col: str, k: int, salt_buckets: int, order: tuple[str, ...] = ()
) -> DataFrame:
    """The first ``k`` rows per stratum by ``order`` columns, then id, in
    cap_per_stratum's two phases: a top-k within (stratum,
    xxhash64(id) % ``salt_buckets``), then an exact top-k of those
    candidates within the stratum. ``order`` columns are dropped."""
    from pyspark.sql import Window

    by = [F.col(c) for c in (*order, id_col)]
    w1 = Window.partitionBy(strata_col, "_salt").orderBy(*by)
    w2 = Window.partitionBy(strata_col).orderBy(*by)
    return (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt", *order)
    )


def sample_k_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    *,
    salt: str = "",
    salt_buckets: int = 64,
) -> DataFrame:
    """Deterministic UNIFORM k-sample per stratum: keep the k rows whose
    salted md5(id) sorts smallest — uniform because the hash order is
    independent of data order, reproducible across runs/partitionings/
    engines, and re-salting draws an independent sample. The 'pull k
    docs per source for eval' step.

    Same two-phase skew-safe shape as cap_per_stratum (salted partial
    top-k, then exact re-rank of the bounded candidates), ordered by the
    hash instead of the id; ``id_col`` must be unique (ties broken by
    id)."""
    order = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return _salted_top_k(df.withColumn("_ord", order), id_col, strata_col, k, salt_buckets, ("_ord",))


def weighted_sample_k_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "",
    salt_buckets: int = 64,
) -> DataFrame:
    """Deterministic weighted k-sample per stratum (probability ∝
    ``weight_col``) via the Efraimidis–Spirakis A-ES scheme: each row
    gets key u^(1/w) with u a salted-hash uniform in (0,1); the k largest
    keys are a weighted sample without replacement. Deterministic,
    partitioning/engine-invariant, independent re-draws per salt — e.g.
    'sample docs for inspection proportional to token count'.

    Implemented as -ln(u)/w ascending (same order as u^(1/w) descending,
    numerically safer); rows with weight ≤ 0/NULL never selected. Same
    salted two-phase top-k shape as cap_per_stratum; ``id_col`` unique."""
    # u in (0,1): 52-bit mantissa from md5 — reproducible everywhere
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    w = F.col(weight_col).cast("double")
    key = F.when(
        w > 0, -F.log(F.greatest(u, F.lit(1e-300))) / w
    ).otherwise(F.lit(float("inf")))
    keyed = df.withColumn("_key", key).filter(F.col("_key") != float("inf"))
    return _salted_top_k(keyed, id_col, strata_col, k, salt_buckets, ("_key",))


def cap_tokens_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    tokens_col: str,
    max_tokens: int,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Token-BUDGET capping: per stratum keep the longest ascending-id
    prefix whose cumulative ``tokens_col`` stays ≤ ``max_tokens`` (a row
    survives iff the running total *including it* fits) — the 'cap each
    source at N tokens' step of a training-data mix, deterministic given
    unique ids.

    Skew-safe two-phase shape (a naive per-stratum cumsum window sorts a
    whole head stratum in one task — the anti-pattern cap_per_stratum
    fixed for row caps):

    1. per-stratum id quantile boundaries (``percentile_approx`` — one
       hash agg; accuracy only affects bucket BALANCE, never the result)
       assign each row a bucket MONOTONE in id;
    2. exact per-(stratum, bucket) token sums (hash agg) + a cumsum over
       the tiny bucket frame locate each stratum's boundary bucket;
    3. buckets that fit entirely are kept with a pure filter; ONLY the
       single boundary bucket (~1/n_buckets of the stratum) is ranked
       exactly with a cumsum window, charged from its bucket's exact
       starting offset.

    Rows with NULL tokens count as 0; ``id_col`` must be unique and
    NUMERIC (``percentile_approx`` computes the bucket boundaries).
    A NULL stratum is budgeted like any other stratum (the bounds join
    is null-safe) — consistent with ``cap_per_stratum``, where
    ``Window.partitionBy`` already treats NULL as its own group."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2 (one boundary minimum)")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # materialize the tiny bounds frame ONCE (O(n_strata × n_buckets) —
    # the op already assumes broadcast-sized strata): the final plan has
    # several branches over the bounds join, and an unmaterialized
    # percentile_approx subtree is re-aggregated and re-broadcast in
    # every one (measured: the whole-frame percentile pass is ~3.5 s per
    # branch at 32 M rows, VERDICT r04 #6)
    bounds_lazy = df.groupBy(strata_col).agg(
        F.percentile_approx(id_col, probs, 10_000).alias("_bounds")
    ).withColumnRenamed(strata_col, "_strat_b")
    bounds = df.sparkSession.createDataFrame(
        bounds_lazy.collect(), schema=bounds_lazy.schema
    )
    tok = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))

    # bucket = #{b in _bounds : id > b}, by BINARY SEARCH over the sorted
    # bounds as a nested CASE WHEN tree (log2 codegen'd comparisons per
    # row). The obvious higher-order form — F.aggregate(_bounds, 0,
    # acc + when(id > x, 1)) — is evaluated as an interpreted lambda per
    # element: measured 37 s vs a 0.46 s bare scan on 32 M rows (VERDICT
    # r04 #6). But the tree must stay SMALL: a single when-expression of
    # 63 nodes (depth-6 tree / flat chained sum / balanced-add sum) falls
    # out of whole-stage codegen — measured 16 s / 114 s / 85 s per scan
    # at 32 M rows — while ≤31 nodes costs ~1 s over the bare scan. So:
    # ≤32 buckets → one static tree; more → a chained-when BLOCK selector
    # (linear code, one comparison per 32-bucket block) projected first,
    # then one depth-5 tree probing at a dynamic offset (measured 5.0 s
    # vs 2.8 s bare at 64 buckets). Ties/duplicated bounds (heavy id
    # skew) stay monotone; a NULL id falls through every when to bucket 0
    # (same as the old form's sum of 0s); an out-of-range probe (past the
    # array on a partial last block) must be try_element_at — plain
    # element_at THROWS under ANSI mode (Spark 4 default) — and yields
    # NULL → "not greater" → the search stays in range.
    def _tree(lo: int, hi: int, off):  # bucket-in-block range [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        # bkt >= mid  <=>  id > sorted_bounds[mid]  (element_at is 1-based)
        return F.when(
            F.col(id_col) > F.try_element_at(F.col("_bounds"), F.lit(mid) + off),
            _tree(mid, hi, off),
        ).otherwise(_tree(lo, mid - 1, off))

    src = df.join(
        F.broadcast(bounds), F.col(strata_col).eqNullSafe(F.col("_strat_b"))
    ).drop("_strat_b")
    if n_buckets <= 32:
        src = src.withColumn("_bkt", _tree(0, n_buckets - 1, 0))
    else:
        blk = F.lit(0)
        for b in range(32, n_buckets, 32):
            blk = F.when(F.col(id_col) > F.element_at(F.col("_bounds"), b), b).otherwise(blk)
        src = (
            src.withColumn("_blk", blk)
            .withColumn("_bkt", F.col("_blk") + _tree(0, 31, F.col("_blk")))
            .drop("_blk")
        )
    sums = src.groupBy(strata_col, "_bkt").agg(F.sum(tok).alias("_tok"))
    wb = Window.partitionBy(strata_col).orderBy("_bkt")
    cums_lazy = (
        sums.withColumn("_cum_end", F.sum("_tok").over(wb))
        .withColumn("_cum_start", F.col("_cum_end") - F.col("_tok"))
        .select(
            F.col(strata_col).alias("_strat_c"),
            F.col("_bkt").alias("_bkt_c"),
            "_cum_start",
            "_cum_end",
        )
    )
    # materialize the per-(stratum, bucket) cumsum frame too (≤ n_strata ×
    # n_buckets rows): the final plan is a UNION of two branches over the
    # cums join, and a lazy cums re-runs the full-frame `sums` aggregation
    # (scan + shuffle) inside EACH branch — exchange reuse dies under
    # column pruning (CLAUDE.md), so this is 2 extra full passes at scale
    cums = df.sparkSession.createDataFrame(cums_lazy.collect(), schema=cums_lazy.schema)
    j = src.join(
        F.broadcast(cums),
        F.col(strata_col).eqNullSafe(F.col("_strat_c")) & (F.col("_bkt") == F.col("_bkt_c")),
    ).drop("_strat_c", "_bkt_c")
    full = j.filter(F.col("_cum_end") <= max_tokens)
    boundary = j.filter((F.col("_cum_start") < max_tokens) & (F.col("_cum_end") > max_tokens))
    win = Window.partitionBy(strata_col, "_bkt").orderBy(F.col(id_col))
    kept_boundary = (
        boundary.withColumn("_run", F.sum(tok).over(win) + F.col("_cum_start"))
        .filter(F.col("_run") <= max_tokens)
        .drop("_run")
    )
    return full.unionByName(kept_boundary).drop("_bkt", "_bounds", "_cum_start", "_cum_end")


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    *,
    default_rate: float = 1.0,
    salt: str = "",
    buckets: int = BUCKETS,
) -> DataFrame:
    """Per-stratum deterministic downsampling: stratum s keeps a
    ~``rates.get(s, default_rate)`` fraction of its rows. The id hash is
    stratum-independent, so changing one stratum's rate never changes
    which rows another stratum keeps."""
    rate = F.lit(int(round(default_rate * buckets)))
    for s, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == s, F.lit(int(round(r * buckets)))).otherwise(rate)
    return df.filter(hash_bucket(id_col, salt=salt, buckets=buckets) < rate)
