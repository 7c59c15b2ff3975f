#!/usr/bin/env python
"""North-rule scaling evidence through the REAL deployment path: the same
``spark-submit --py-files dist/phphll_spark.zip jobs/sketch_submit.py``
job at two ``--master local[N]`` levels on identical input (the sandbox
stand-in for N vs 4N executors — no real cluster here).

Fresh checkpoint per run (so every run re-scans everything); per-level
minimum over ``--reps`` interleaved rounds to filter shared-host noise.

Usage: python tools/submit_scaling.py [n_rows] [--low 2] [--high 8] [--reps 2]
Writes BENCH_submit.json and prints the efficiency table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def ensure_cache(n_rows: int) -> str:
    """The pages table at ``n_rows`` in 64 files (tools/bench_executors.py
    reads it too); the name carries the file count because the
    ``maxPartitionBytes`` below assumes ~150 MB files."""
    cache = os.path.join(REPO, ".bench_cache", f"pages_{n_rows}_64files")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from pyspark.sql import SparkSession\n"
            "from phphll_spark.sources.pages import generate_pages_parquet\n"
            "spark = (SparkSession.builder.master('local[32]')"
            ".config('spark.driver.memory','48g').config('spark.ui.enabled','false').getOrCreate())\n"
            "generate_pages_parquet(spark, {cache!r}, {n}, n_files=64)\n"
            "spark.stop()\n"
        ).format(repo=REPO, cache=cache, n=n_rows)
        subprocess.run([sys.executable, "-c", gen], check=True)
    return cache


def _pin_prefix(cpus: int) -> list[str]:
    """Model an N-core executor container honestly: bound the WHOLE process
    tree (JVM scan threads + Python workers) to N cpus. Plain local[N] only
    caps JVM task slots — Python workers run on extra host cores, which
    inflates the small level and understates scaling."""
    if shutil.which("taskset"):
        return ["taskset", "-c", f"0-{cpus - 1}"]
    return []


def submit_once(cpus: int, cache: str, zip_path: str, value_col: str) -> dict:
    ckpt = tempfile.mkdtemp(prefix=f"submit-ckpt-{cpus}-")
    try:
        env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
        out = subprocess.run(
            [
                *_pin_prefix(cpus),
                SPARK_SUBMIT,
                "--master", f"local[{cpus}]",
                "--driver-memory", "24g",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=65536",
                # one ~150 MB cache file per task -> exact waves, no stragglers
                "--conf", "spark.sql.files.maxPartitionBytes=160m",
                "--conf", "spark.sql.files.openCostInBytes=160m",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "sketch_submit.py"),
                "--input", cache,
                "--checkpoint", ckpt,
                "--value", value_col,
                "--shuffle-partitions", str(cpus),
                "--warmup",
            ],
            check=True,
            capture_output=True,
            text=True,
            env=env,
            cwd=tempfile.gettempdir(),  # package must come from the zip
        )
        return json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_rows", nargs="?", type=int, default=8_000_000)
    ap.add_argument("--low", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "2")))
    ap.add_argument("--high", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "8")))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--value", default="text")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from tools.package import build_zip

    zip_path = build_zip(REPO)
    cache = ensure_cache(args.n_rows)

    best: dict[int, dict] = {}
    for _ in range(args.reps):
        for cpus in (args.low, args.high):  # interleaved vs ambient load drift
            r = submit_once(cpus, cache, zip_path, args.value)
            if cpus not in best or r["wall_sec"] < best[cpus]["wall_sec"]:
                best[cpus] = r

    lo, hi = best[args.low], best[args.high]
    speedup = lo["wall_sec"] / hi["wall_sec"]
    eff = speedup / (args.high / args.low)
    record = {
        "path": "spark-submit --py-files dist/phphll_spark.zip jobs/sketch_submit.py",
        "value_col": args.value,
        "rows": args.n_rows,
        "levels": {str(args.low): lo, str(args.high): hi},
        "speedup": round(speedup, 3),
        "efficiency": round(eff, 3),
    }
    with open(os.path.join(REPO, "BENCH_submit.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(
        f"spark-submit local[{args.low}] {lo['wall_sec']}s ({lo['rows_per_sec']:,}/s) -> "
        f"local[{args.high}] {hi['wall_sec']}s ({hi['rows_per_sec']:,}/s): "
        f"speedup {speedup:.2f}x, efficiency {eff:.2f}"
    )


if __name__ == "__main__":
    main()
