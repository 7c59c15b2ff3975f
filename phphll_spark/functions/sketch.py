"""Spark surface of the HLL engine: vectorized Arrow UDFs and
DataFrame-level operators.

Scale design (the part that matters at 10^12 rows):

- ``hll_partial_sketches`` is a ``mapInArrow`` **map-side combine** (the
  shared fold driver, phphll_spark/fold.py, with ``HLLFamily``): each
  input partition folds its rows into one register set per group and
  emits one ~(16 B..12 KB) sketch row per (partition, group). The shuffle
  that follows carries only those sketches — never raw elements. This
  mirrors the reference's batched ``pfAddMany`` hot path
  (hyperloglog.c:1192-1219) with Arrow batches as the batch unit.
- The final/merge half is ``fold.merge``: a shuffle by the keys and one
  partition-wise ``mapInArrow`` taking the associative-commutative
  element-wise max (hyperloglog.c:1038-1077), safe under any partition
  grouping or AQE re-plan. ``hll_count_distinct`` takes the estimate
  inside that merge. ``hll_merge_agg`` is the same merge as a grouped-agg
  Arrow UDF, for what needs an aggregate function (SQL, rollups).
- Grouped-agg Arrow UDF ``hll_sketch_agg`` is also provided for SQL
  composition (`GROUP BY` over raw values); note Spark executes grouped-agg
  UDFs with a full shuffle of input rows, so the two-phase operator
  above is the preferred path at scale.

No per-row Python anywhere: hashing reads Arrow string buffers directly
(offsets + data) and the per-batch work is numpy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codec, kernel
from ..fold import _arrow_to_buffers, merge, merge_agg, partial_sketches
from ..kernel import HLL_P_DEFAULT

# In-flight sparse groups promote to a raw 2^p buffer past this many set
# registers — the accumulator analog of the reference's 3000-byte sparse
# cap (hyperloglog.c:812-813): beyond it the raw buffer is both smaller
# and faster to update.
_SPARSE_PROMOTE_ENTRIES = 3072
_EMPTY_SPARSE = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint8))


def _arrow_idx_rho(arr: pa.Array, p: int) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    data, offsets, valid = _arrow_to_buffers(arr)
    idx, rho = kernel.hash_idx_rho(kernel.murmur64a(data, offsets), p)
    return idx, rho, valid


# ---------------------------------------------------------------------------
# Map-side partial aggregation (the scale path)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class HLLFamily:
    """The HLL sketch family for the fold driver (phphll_spark/fold.py).

    In-flight state is SPARSE per group (sorted idx + rho arrays, the
    distributed analog of the reference's sparse encoding) until a group
    exceeds ``_SPARSE_PROMOTE_ENTRIES`` set registers, then it promotes to
    a 2^p raw buffer — so a partition holding many tiny groups
    (high-cardinality keys, rollups) costs O(set registers) per group,
    not 16 KB each. Densifying is max-merge-exact, so sketches are
    bit-identical to the always-dense path (tested)."""

    p: int = HLL_P_DEFAULT
    name = "hll"
    column = "sketch"

    def empty(self):
        kernel.m_for_p(self.p)
        return _EMPTY_SPARSE

    def batch(self, arr: pa.Array):
        idx, rho, valid = _arrow_idx_rho(arr, self.p)
        return (idx, rho), valid

    def fold(self, state, prepared, sel):
        idx, rho = prepared[0][sel], prepared[1][sel]
        if isinstance(state, np.ndarray):  # already dense
            kernel.update_registers(state, idx, rho)
            return state
        if len(idx) > _SPARSE_PROMOTE_ENTRIES:
            # heavy group (big batch slice): densify now — a raw buffer
            # is cheaper than sorting large sparse merges
            regs = kernel.sparse_to_registers(state[0], state[1], self.p)
            kernel.update_registers(regs, idx, rho)
            return regs
        ni, nr = kernel.sparse_update(state[0], state[1], idx, rho)
        if len(ni) > _SPARSE_PROMOTE_ENTRIES:
            return kernel.sparse_to_registers(ni, nr, self.p)
        return ni, nr

    def serialize(self, state) -> bytes:
        if not isinstance(state, np.ndarray):
            state = kernel.sparse_to_registers(state[0], state[1], self.p)
        return codec.serialize(state)

    def deserialize(self, blob: bytes) -> np.ndarray:
        # the merge passes its p explicitly, for validation
        return codec.deserialize(blob, self.p).regs

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return kernel.merge_registers(a, b)


def hll_partial_sketches(df: DataFrame, keys: list[str], value_col: str, p: int = HLL_P_DEFAULT) -> DataFrame:
    """Per-partition, per-group partial sketches: ``keys..., sketch binary``."""
    return partial_sketches(df, keys, value_col, HLLFamily(p))


def hll_partial_sketches_multi(
    df: DataFrame,
    value_cols: list[str],
    p: int = HLL_P_DEFAULT,
    *,
    sum_cols: tuple[str, ...] = (),
    theta_cols: tuple[str, ...] = (),
    theta_k: int = 4096,
) -> DataFrame:
    """One ``mapInArrow`` pass folding SEVERAL value columns into one
    partial sketch each (plus optional exact int64 sums) — one row per
    input partition, schema ``sketch_<col> binary ..., sum_<col> long``.

    The one-scan building block for queries needing multiple related
    sketches of the same frame — e.g. inclusion-exclusion intersection
    (A, B and A∪B sketches + the exact overlap count from a single
    pass). Separate per-sketch plans rescan/reshuffle the source once
    per sketch, and Catalyst's column pruning specializes each branch's
    aggregate enough to defeat exchange reuse (VERDICT r02 #5), so the
    fusion has to happen here, in the fold. NULL values in a column are
    skipped (Spark agg semantics), so ``F.when(cond, col)`` selects each
    sketch's subset for free.

    ``theta_cols``: columns to ALSO fold into theta (KMV) sketches
    (``theta_<col>`` binary outputs, sketches/theta.py) — they reuse the
    very murmur pass the HLL fold already ran on that column, so
    first-class set algebra (exact intersections below ``theta_k``
    distinct) costs no extra hashing or scanning. Every theta col must
    also be in ``value_cols``."""
    import pyarrow.compute as pc

    from ..sketches.theta import _THETA_ONE, theta_fold, theta_serialize

    if not set(theta_cols) <= set(value_cols):
        raise ValueError(f"theta_cols {list(theta_cols)} must all be in value_cols {list(value_cols)}")
    out_schema = StructType(
        [StructField(f"sketch_{c}", BinaryType(), False) for c in value_cols]
        + [StructField(f"theta_{c}", BinaryType(), False) for c in theta_cols]
        + [StructField(f"sum_{c}", LongType(), False) for c in sum_cols]
    )
    arrow_schema = to_arrow_schema(out_schema)
    m = kernel.m_for_p(p)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        regs = {c: np.zeros(m, dtype=np.uint8) for c in value_cols}
        thetas = {c: [np.empty(0, dtype=np.uint64), _THETA_ONE] for c in theta_cols}
        sums = {c: 0 for c in sum_cols}
        seen = False
        for rb in batches:
            if rb.num_rows == 0:
                continue
            seen = True
            for c in value_cols:
                data, offsets, _ = _arrow_to_buffers(rb.column(rb.schema.get_field_index(c)))
                if len(offsets) <= 1:
                    continue
                hashes = kernel.murmur64a(data, offsets)
                idx, rho = kernel.hash_idx_rho(hashes, p)
                kernel.update_registers(regs[c], idx, rho)
                if c in thetas:
                    st = thetas[c]
                    st[0], st[1] = theta_fold(st[0], st[1], hashes, theta_k)
            for c in sum_cols:
                s = pc.sum(rb.column(rb.schema.get_field_index(c))).as_py()
                sums[c] += int(s or 0)
        if not seen:
            return
        out: dict = {f"sketch_{c}": [codec.serialize(regs[c])] for c in value_cols}
        out.update(
            {f"theta_{c}": [theta_serialize(thetas[c][0], thetas[c][1], theta_k)] for c in theta_cols}
        )
        out.update({f"sum_{c}": [sums[c]] for c in sum_cols})
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return df.select(*value_cols, *sum_cols).mapInArrow(fold, schema=out_schema)


def make_hll_merge_agg(p: int = HLL_P_DEFAULT):
    """Grouped-agg Arrow UDF ``hll_merge_agg``: column of HYLL blobs ->
    merged HYLL blob (element-wise max). NULL blobs are skipped
    (hyperloglog.c:1293,1319); an all-NULL group merges to NULL."""
    return merge_agg(HLLFamily(p))


def make_hll_sketch_agg(p: int = HLL_P_DEFAULT):
    """Grouped-agg Arrow UDF over raw values (SQL convenience path).

    ``SELECT lang, hll_count(hll_sketch_agg(url)) ... GROUP BY lang``.
    Shuffles raw rows (Spark grouped-agg UDFs have no partial agg); prefer
    hll_count_distinct()/hll_partial_sketches() at scale.
    """

    family = HLLFamily(p)

    @arrow_udf(BinaryType())
    def hll_sketch_agg(values: pa.Array) -> bytes:
        prepared, _ = family.batch(values)
        return family.serialize(family.fold(family.empty(), prepared, slice(None)))

    return hll_sketch_agg


# ---------------------------------------------------------------------------
# Scalar sketch functions
# ---------------------------------------------------------------------------

@arrow_udf(LongType())
def hll_count_sketch(blobs: pa.Array) -> pa.Array:
    """Estimate per sketch blob (pfCount; serves the cached cardinality
    when the header's dirty bit is clear, hyperloglog.c:1223-1268)."""
    out = np.zeros(len(blobs), dtype=np.int64)
    for i, blob in enumerate(blobs.to_pylist()):
        if blob is not None:
            sk = codec.deserialize(blob)
            out[i] = sk.cached_card if sk.cached_card is not None else kernel.estimate(sk.regs)
    return pa.array(out)


@arrow_udf(BinaryType())
def hll_merge_pair(a: pa.Array, b: pa.Array) -> pa.Array:
    """Pure two-sketch merge (hll_merge, php/hll.c:463-585); NULL = empty."""
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if x is None and y is None:
            out.append(codec.serialize(kernel.empty_registers()))
        elif x is None or y is None:
            out.append(x if y is None else y)
        else:
            out.append(codec.serialize(kernel.merge_registers(codec.deserialize(x).regs, codec.deserialize(y).regs)))
    return pa.array(out, pa.binary())


@arrow_udf(BinaryType())
def hll_promote_sketch(blobs: pa.Array) -> pa.Array:
    """Force dense encoding; idempotent (hll_promote, php/hll.c:707-731)."""
    return pa.array([None if b is None else codec.promote(b) for b in blobs.to_pylist()], pa.binary())


@arrow_udf(StringType())
def hll_encoding(blobs: pa.Array) -> pa.Array:
    """'dense' | 'sparse' (hll_info, php/hll.c:734-762)."""
    return pa.array([None if b is None else codec.info(b)["encoding"] for b in blobs.to_pylist()], pa.string())


@arrow_udf(LongType())
def hll_nonzero_registers(blobs: pa.Array) -> pa.Array:
    return pa.array([0 if b is None else codec.info(b)["nonzero_registers"] for b in blobs.to_pylist()], pa.int64())


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------

def hll_sketch(df: DataFrame, keys: list[str], value_col: str, p: int = HLL_P_DEFAULT) -> DataFrame:
    """keys... + merged ``sketch`` per group (partial fold + sketch-only
    shuffle + max-merge)."""
    family = HLLFamily(p)
    return merge(partial_sketches(df, keys, value_col, family), keys, family)


def hll_count_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int = HLL_P_DEFAULT,
    *,
    alias: str = "approx_distinct",
) -> DataFrame:
    """APPROX COUNT DISTINCT of ``value_col`` per group — the engine's
    flagship operator (the distributed pfAdd+pfCount+pfMerge pipeline).
    The estimate is taken from the merged registers inside the merge, so
    the plan has two Python operators: the fold and the merge."""
    family = HLLFamily(p)
    finish = (StructField(alias, LongType(), False), _estimate)
    return merge(partial_sketches(df, keys, value_col, family), keys, family, finish)


def _estimate(regs: np.ndarray | None) -> int:
    """pfCount of merged registers; 0 for a group with no sketch, as
    ``hll_count_sketch`` gives for a NULL blob."""
    return 0 if regs is None else kernel.estimate(regs)


def hll_global_distinct(df: DataFrame, value_col: str, p: int = HLL_P_DEFAULT) -> int:
    """One global estimate. Partials tree-merge through a single tiny final
    task (P x <=12 KB rows); the collect moves one integer to the driver."""
    row = hll_count_distinct(df, [], value_col, p).collect()[0]
    return row["approx_distinct"]


# ---------------------------------------------------------------------------
# Element normalization (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def element_str(col: Column | str) -> Column:
    """Fast native normalization to Spark's string rendering (JVM-side,
    whole-stage codegen). For exact PHP float rendering use
    element_php_str (Arrow UDF, parity path)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(""))


@arrow_udf(StringType())
def _php_render_double(values: pa.Array) -> pa.Array:
    """%.14G of each double; NULL and NaN give NULL."""
    from ..hll import php_string

    return pa.array([None if v is None or v != v else php_string(v) for v in values.to_pylist()], pa.string())


def element_php_str(col: Column | str, spark_type: str = "string") -> Column:
    """PHP-coercion-exact normalization (php/hll.c:273-298): bool -> '1'/'',
    null -> '', double -> %.14G, else string rendering."""
    c = F.col(col) if isinstance(col, str) else col
    if spark_type == "boolean":
        return F.when(c.isNull(), F.lit("")).when(c, F.lit("1")).otherwise(F.lit(""))
    if spark_type == "double":
        return F.coalesce(_php_render_double(c.cast("double")), F.lit(""))
    return F.coalesce(c.cast("string"), F.lit(""))


def register_sql_functions(spark, p: int = HLL_P_DEFAULT) -> None:
    """Expose the surface to Spark SQL:
    hll_sketch_agg / hll_merge_agg (aggregates), hll_count, hll_merge,
    hll_promote, hll_encoding, hll_nonzero_registers (scalars)."""
    spark.udf.register("hll_sketch_agg", make_hll_sketch_agg(p))
    spark.udf.register("hll_merge_agg", make_hll_merge_agg(p))
    spark.udf.register("hll_count", hll_count_sketch)
    spark.udf.register("hll_merge", hll_merge_pair)
    spark.udf.register("hll_promote", hll_promote_sketch)
    spark.udf.register("hll_encoding", hll_encoding)
    spark.udf.register("hll_nonzero_registers", hll_nonzero_registers)
