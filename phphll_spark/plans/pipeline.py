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
- Lineage rows carry (run_id, split_id, row_count, register_checksum, wall_time_s)
  per FIXTURES.md §5 for audit/metrics, for every sketch family: the
  partials come out of the same fold loop as ``fold.partial_sketches``
  (``fold._fold_groups``), grouped by split as well as by key.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, replace
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..fold import _fold_groups, merge
from ..functions.sketch import HLLFamily, hll_count_sketch
from ..kernel import HLL_P_DEFAULT

MANIFEST = "manifest.json"


def _read_manifest(checkpoint_dir: str) -> dict:
    path = os.path.join(checkpoint_dir, MANIFEST)
    if not os.path.exists(path):
        return {"completed_splits": [], "partial_files": [], "runs": []}
    with open(path) as f:
        return json.load(f)


def _publish(path: str, text: str) -> None:
    """Atomic pointer swap: write a uniquely named tmp sibling, fsync it,
    then rename it over ``path``, so a reader sees the old or the new
    content, never a torn or empty file."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@dataclass
class PipelineResult:
    run_id: str
    processed_splits: int
    skipped_splits: int
    results: DataFrame  # keys..., the merged sketch column (+ approx_distinct for HLL)


def _lineage_partials(
    subset: DataFrame, key_cols: list[str], value_col: str, family, run_id: str
) -> DataFrame:
    """One row per (input partition, split, key) of ``subset`` (which
    carries ``_split_id``): ``run_id, split_id, keys..., <family.column>,
    row_count, register_checksum, wall_time_s`` (FIXTURES.md §5).
    ``run_id`` names the run that folded the split, ``row_count`` counts
    NULL-value rows too and ``register_checksum`` is the sha1 of the
    serialized partial."""
    family.empty()  # bad parameters fail here, on the driver
    schema = StructType(
        [StructField("run_id", StringType(), False), StructField("split_id", StringType(), False)]
        + [subset.schema[k] for k in key_cols]
        + [
            StructField(family.column, BinaryType(), False),
            StructField("row_count", LongType(), False),
            StructField("register_checksum", StringType(), False),
            StructField("wall_time_s", DoubleType(), False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    group_cols = ["_split_id", *key_cols]

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.time()
        acc = _fold_groups(batches, group_cols, value_col, family)
        if not acc:
            return
        wall = time.time() - t0
        out = {"run_id": [run_id] * len(acc)}
        out.update({c: [g[i] for g in acc] for i, c in enumerate(["split_id", *key_cols])})
        blobs = [family.serialize(state) for state, _ in acc.values()]
        out[family.column] = blobs
        out["row_count"] = [rows for _, rows in acc.values()]
        out["register_checksum"] = [hashlib.sha1(b).hexdigest() for b in blobs]
        out["wall_time_s"] = [wall] * len(blobs)
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return subset.select(*group_cols, value_col).mapInArrow(fold, schema=schema)


def run_summary_pipeline(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    value_col: str,
    family,
    fail_after_splits: int | None = None,
    _salt_partitions: int | None = None,
) -> PipelineResult:
    """One (possibly resuming) pipeline run over a parquet directory for
    ANY sketch family (a ``fold.py`` family object: ``HLLFamily``,
    ``CMSFamily``, ``BloomFamily``, ``ThetaFamily``, ``MGFamily``,
    ``ObjectFamily`` for KLL / t-digest). Results: ``key_cols...,
    family.column``; ``lineage_table`` lists the checkpointed partials.

    - split discovery is METADATA-ONLY (file listing, no row scan) and
      resume reads ONLY the missing files — a predicate on
      input_file_name() can't push down, so filtering post-scan would
      re-read every completed split on every resume (fatal at 10^12 rows)
    - each run folds its splits into per-(split, key) partials with
      lineage (``_lineage_partials``); the manifest commit is atomic and
      happens AFTER the partials file lands, so a mid-run kill leaves at
      worst an orphan partials file the manifest never references
    - ``fold.merge`` merges every manifest-listed partials file into the
      results, reading only ``key_cols..., family.column`` (so a
      checkpoint written without lineage columns still resumes). Re-merging
      whole partial files is safe because the family's merges are
      associative/commutative, and counter families are never re-folded
      thanks to the file-level dedupe. Key types come from the input's
      schema, so the results have the same schema before the first commit
      as after it.

    ``fail_after_splits``: test hook — process only the first N remaining
    splits this run (simulates a mid-scan kill before the final merge).
    ``_salt_partitions``: repartition the scan by xxhash64(value, split)
    to break url-host skew before sketching (``run_sketch_pipeline``'s
    ``salt_partitions``); the split id rides along, so lineage stays
    per split and the merged results do not change.
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
    if todo:
        subset = spark.read.parquet(*todo).withColumn("_split_id", F.input_file_name())
        if _salt_partitions:
            subset = subset.repartition(
                _salt_partitions, F.xxhash64(F.col(value_col), F.col("_split_id"))
            )
        out_file = os.path.join(checkpoint_dir, f"partials-{run_id}.parquet")
        _lineage_partials(subset, key_cols, value_col, family, run_id).write.mode("overwrite").parquet(out_file)
        manifest = _read_manifest(checkpoint_dir)
        manifest["completed_splits"] = sorted(set(manifest["completed_splits"]) | set(todo))
        manifest["partial_files"] = manifest["partial_files"] + [out_file]
        manifest["runs"] = manifest["runs"] + [
            {"run_id": run_id, "splits": len(todo), "ts": time.time()}
        ]
        _publish(os.path.join(checkpoint_dir, MANIFEST), json.dumps(manifest, indent=1))

    if manifest["partial_files"]:
        allp = spark.read.parquet(*manifest["partial_files"]).select(*key_cols, family.column)
        results = merge(allp, key_cols, family)
    else:
        fields = [source.schema[k] for k in key_cols] + [StructField(family.column, BinaryType(), True)]
        results = spark.createDataFrame([], StructType(fields))
    return PipelineResult(
        run_id=run_id,
        processed_splits=len(todo),
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
    """``run_summary_pipeline`` with ``HLLFamily(p)``; the results carry
    ``approx_distinct`` beside each merged ``sketch``.

    ``salt_partitions``: repartition the scan by xxhash64(value, split) to
    break url-host skew before sketching — harmless to results because
    merge is grouping-independent, and the split id rides along, so the
    lineage rows stay per split.
    """
    res = run_summary_pipeline(
        spark,
        input_path,
        checkpoint_dir,
        key_cols=key_cols,
        value_col=value_col,
        family=HLLFamily(p),
        fail_after_splits=fail_after_splits,
        _salt_partitions=salt_partitions,
    )
    return replace(
        res, results=res.results.withColumn("approx_distinct", hll_count_sketch(F.col("sketch")))
    )


def lineage_table(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """All checkpointed lineage rows (FIXTURES.md §5 audit view). The
    partials files' schemas are merged, so a file written before a lineage
    column existed (e.g. ``run_id``) shows it as NULL."""
    manifest = _read_manifest(checkpoint_dir)
    if not manifest["partial_files"]:
        raise FileNotFoundError("no checkpointed partials")
    return spark.read.option("mergeSchema", "true").parquet(*manifest["partial_files"])
