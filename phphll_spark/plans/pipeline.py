"""Resumable sketch pipeline: scan → (salt) → per-split sketch + lineage →
checkpoint table → merge → results.

This is the distributed analog of the reference's ``hllcnt`` batch-ingest
pipeline (hllcnt.c:7-31; redis-interop round-trip junk/redis-interop.php),
designed for kill/resume at 10^12-row scale:

- **Stable split ids**: lineage keys on the *source file path*
  (``F.input_file_name()``), never Spark task/partition ids, so a resumed
  run at different parallelism still dedupes correctly (SURVEY.md §7
  hard-part d).
- **Checkpoint table**: parquet files + a JSON snapshot manifest with an
  atomic pointer swap (os.replace) — the offline stand-in for an Iceberg
  snapshot commit; each incremental run appends a partials file and
  publishes a new manifest listing completed splits.
- **Resume** = anti-join source splits against the manifest's completed
  set; only missing splits are re-scanned. Correct because merge is
  associative/commutative/idempotent (hyperloglog.c:1038-1077).
- Lineage rows carry (split_id, row_count, register_checksum, wall_time_s)
  per FIXTURES.md §5 for audit/metrics.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, replace
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codec, kernel
from ..fold import merge, partial_sketches
from ..functions.sketch import HLLFamily, hll_count_sketch
from ..kernel import HLL_P_DEFAULT

MANIFEST = "manifest.json"


def _partials_schema(key_fields: list[StructField]) -> StructType:
    return StructType(
        [StructField("split_id", StringType(), False)]
        + key_fields
        + [
            StructField("sketch", BinaryType(), False),
            StructField("row_count", LongType(), False),
            StructField("register_checksum", StringType(), False),
            StructField("wall_time_s", DoubleType(), False),
        ]
    )


def _read_manifest(checkpoint_dir: str) -> dict:
    path = os.path.join(checkpoint_dir, MANIFEST)
    if not os.path.exists(path):
        return {"completed_splits": [], "partial_files": [], "runs": []}
    with open(path) as f:
        return json.load(f)


def _publish_manifest(checkpoint_dir: str, manifest: dict) -> None:
    """Atomic snapshot commit: write tmp, fsync, rename (pointer swap)."""
    path = os.path.join(checkpoint_dir, MANIFEST)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@dataclass
class PipelineResult:
    run_id: str
    processed_splits: int
    skipped_splits: int
    results: DataFrame  # keys..., the merged sketch column (+ approx_distinct for HLL)


def _fold_with_lineage(key_cols: list[str], value_col: str, p: int, out_schema: StructType):
    """Arrow-native fold (mapInArrow): hash straight from Arrow buffers,
    group codes from Arrow dictionary encoding — same hot path as
    functions.sketch.hll_partial_sketches, plus per-group lineage."""
    import pyarrow as pa

    from ..fold import _arrow_group_codes, _segments
    from ..functions.sketch import _arrow_idx_rho
    from pyspark.sql.pandas.types import to_arrow_schema

    m = kernel.m_for_p(p)
    arrow_schema = to_arrow_schema(out_schema)
    group_cols = ["_split_id"] + key_cols

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict = {}  # (split_id, key...) -> [regs, row_count]
        t0 = time.time()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            varr = rb.column(rb.schema.get_field_index(value_col))
            idx, rho, valid = _arrow_idx_rho(varr, p)
            codes_full, uniques_rows = _arrow_group_codes(rb, group_cols)
            counts_full = np.bincount(codes_full, minlength=len(uniques_rows))
            for gi, row in enumerate(uniques_rows):
                if row not in acc:
                    acc[row] = [np.zeros(m, dtype=np.uint8), 0]
                acc[row][1] += int(counts_full[gi])
            codes = codes_full[valid] if valid is not None else codes_full
            for code, sel in _segments(codes):
                np.maximum.at(acc[uniques_rows[code]][0], idx[sel], rho[sel])
        if not acc:
            return
        wall = time.time() - t0
        rows = list(acc.keys())
        out = {"split_id": [r[0] for r in rows]}
        for ki, k in enumerate(key_cols):
            out[k] = [r[ki + 1] for r in rows]
        out["sketch"] = [codec.serialize(acc[r][0]) for r in rows]
        out["row_count"] = [acc[r][1] for r in rows]
        out["register_checksum"] = [
            hashlib_sha1(acc[r][0].tobytes()) for r in rows
        ]
        out["wall_time_s"] = [float(wall)] * len(rows)
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return fold


def hashlib_sha1(b: bytes) -> str:
    import hashlib

    return hashlib.sha1(b).hexdigest()


def _pipeline_core(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    family,
    make_partials,
    fail_after_splits: int | None = None,
) -> PipelineResult:
    """The shared resumable-checkpoint loop (both pipeline flavors run
    through this one commit protocol, so fixes to it apply everywhere):

    - split discovery is METADATA-ONLY (file listing, no row scan) and
      resume reads ONLY the missing files — a predicate on
      input_file_name() can't push down, so filtering post-scan would
      re-read every completed split on every resume (fatal at 10^12 rows)
    - manifest commit is atomic (write-tmp + fsync + rename) and happens
      AFTER the partials file lands, so a mid-run kill leaves at worst an
      orphan partials file the manifest never references
    - ``make_partials(subset_df)`` folds this run's splits (the subset
      carries a ``_split_id`` column) into ``key_cols..., family.column``
      rows; ``fold.merge`` then merges every manifest-listed partials file
      into the results. Key types come from the input's schema, so the
      results have the same schema before the first commit as after it.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    manifest = _read_manifest(checkpoint_dir)
    done = set(manifest["completed_splits"])
    source = spark.read.parquet(input_path)
    all_splits = sorted(source.inputFiles())
    todo = [s for s in all_splits if s not in done]
    if fail_after_splits is not None:
        todo = todo[:fail_after_splits]

    run_id = uuid.uuid4().hex[:12]
    processed = 0
    if todo:
        subset = spark.read.parquet(*todo).withColumn("_split_id", F.input_file_name())
        partials = make_partials(subset)
        out_file = os.path.join(checkpoint_dir, f"partials-{run_id}.parquet")
        partials.write.mode("overwrite").parquet(out_file)
        processed = len(todo)
        manifest = _read_manifest(checkpoint_dir)
        manifest["completed_splits"] = sorted(set(manifest["completed_splits"]) | set(todo))
        manifest["partial_files"] = manifest["partial_files"] + [out_file]
        manifest["runs"] = manifest["runs"] + [
            {"run_id": run_id, "splits": len(todo), "ts": time.time()}
        ]
        _publish_manifest(checkpoint_dir, manifest)

    manifest = _read_manifest(checkpoint_dir)
    if manifest["partial_files"]:
        allp = spark.read.parquet(*manifest["partial_files"]).select(*key_cols, family.column)
        results = merge(allp, key_cols, family)
    else:
        fields = [source.schema[k] for k in key_cols] + [StructField(family.column, BinaryType(), True)]
        results = spark.createDataFrame([], StructType(fields))
    return PipelineResult(
        run_id=run_id,
        processed_splits=processed,
        skipped_splits=len(done),
        results=results,
    )


def run_sketch_pipeline(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    value_col: str,
    p: int = HLL_P_DEFAULT,
    salt_partitions: int | None = None,
    fail_after_splits: int | None = None,
) -> PipelineResult:
    """One (possibly resuming) HLL pipeline run over a parquet directory
    (specialized Arrow fold with per-split lineage rows); the results carry
    ``approx_distinct`` beside each merged ``sketch``.

    ``salt_partitions``: repartition the scan by xxhash64(value, split) to
    break url-host skew before sketching — harmless to results because
    merge is grouping-independent, but it must stay OFF when lineage
    matters (salting mixes rows across files, so per-split attribution
    needs the split column carried through, which we do — the salt only
    reshuffles rows, split_id rides along).
    ``fail_after_splits``: test hook — process only the first N remaining
    splits this run (simulates a mid-scan kill before the final merge).
    """

    def make_partials(subset: DataFrame) -> DataFrame:
        subset = subset.select("_split_id", *key_cols, value_col)
        if salt_partitions:
            subset = subset.repartition(
                salt_partitions, F.xxhash64(F.col(value_col), F.col("_split_id"))
            )
        schema = _partials_schema([subset.schema[k] for k in key_cols])
        return subset.mapInArrow(_fold_with_lineage(key_cols, value_col, p, schema), schema=schema)

    res = _pipeline_core(
        spark,
        input_path,
        checkpoint_dir,
        key_cols=key_cols,
        family=HLLFamily(p),
        make_partials=make_partials,
        fail_after_splits=fail_after_splits,
    )
    return replace(
        res, results=res.results.withColumn("approx_distinct", hll_count_sketch(F.col("sketch")))
    )


def run_summary_pipeline(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    value_col: str,
    family,
    fail_after_splits: int | None = None,
) -> PipelineResult:
    """The resumable checkpoint pipeline for ANY sketch family (a
    ``fold.py`` family object: ``CMSFamily``, ``BloomFamily``,
    ``ThetaFamily``, ``MGFamily``, ``ObjectFamily`` for KLL / t-digest, or
    ``HLLFamily``) — the same shape as the HLL ``run_sketch_pipeline``,
    which keeps its specialized fold with per-split lineage.

    Each run folds its splits with ``fold.partial_sketches(subset,
    key_cols, value_col, family)``; resume correctness needs no split
    column in the partials — the manifest's completed-file set is the
    unit of work, and re-merging whole partial files is safe because the
    family's merges are associative/commutative (max/OR families are
    idempotent too; counter families are never re-folded thanks to the
    file-level dedupe). Results: ``key_cols..., family.column``."""
    return _pipeline_core(
        spark,
        input_path,
        checkpoint_dir,
        key_cols=key_cols,
        family=family,
        make_partials=lambda subset: partial_sketches(subset, key_cols, value_col, family),
        fail_after_splits=fail_after_splits,
    )


def lineage_table(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """All checkpointed lineage rows (FIXTURES.md §5 audit view)."""
    manifest = _read_manifest(checkpoint_dir)
    if not manifest["partial_files"]:
        raise FileNotFoundError("no checkpointed partials")
    return spark.read.parquet(*manifest["partial_files"])
