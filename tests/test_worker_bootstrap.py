"""The worker bootstrap: the heap is frozen at each task start in Spark
Python workers (every Python version), and the zip guard keeps unchanged
archives from being re-read on ``importlib.invalidate_caches()`` while
changed ones are (Python < 3.13 only). Neither touches the driver."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from phphll_spark import _worker

zip_guard_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads directories lazily on 3.13+"
)


def _guarded():
    return hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")


def _hooked():
    return _worker._FreezeAtTaskStart in sys.meta_path


@pytest.fixture
def as_worker(monkeypatch):
    """Install the bootstrap as a worker would; the original method and
    meta path come back, and the heap is unfrozen, at teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "meta_path", list(sys.meta_path))
    monkeypatch.setattr(_worker, "_in_spark_worker", lambda: True)
    _worker.install()
    yield
    gc.unfreeze()


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@zip_guard_only
def test_unchanged_archive_not_reread_changed_one_is(as_worker, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m_a"])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    for name in ("m_a", "m_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("m_a").NAME == "m_a"

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first guarded call records the signature
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, ["m_a", "m_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("m_b").NAME == "m_b"


@zip_guard_only
def test_install_is_idempotent(as_worker):
    assert _guarded()
    method = zipimport.zipimporter.invalidate_caches
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is method


def test_invalidate_caches_freezes_the_heap(as_worker):
    assert _hooked()
    _worker.install()
    assert sys.meta_path.count(_worker._FreezeAtTaskStart) == 1
    assert _worker._FreezeAtTaskStart.find_spec("no_such_module_anywhere") is None
    gc.unfreeze()
    importlib.invalidate_caches()
    assert gc.get_freeze_count() > 0


def test_noop_in_driver_and_on_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "meta_path", list(sys.meta_path))
    assert not _worker._in_spark_worker()  # this test process is a driver
    _worker.install()
    assert not _guarded() and not _hooked()

    monkeypatch.setattr(_worker, "_in_spark_worker", lambda: True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker.install()
    assert not _guarded() and _hooked()


def _frame(spark):
    from pyspark.sql import functions as F

    # more scan tasks than task slots: the calls cycle through every idle worker
    return spark.range(0, 800, 1, 16).select(
        (F.col("id") % 4).alias("k"), F.col("id").cast("string").alias("v")
    )


def _library_calls(spark, n):
    from phphll_spark.sketches import cms_sketch

    df = _frame(spark)
    for _ in range(n):
        assert len(cms_sketch(df, ["k"], "v").collect()) == 4


def _heap_at_task_start(spark):
    """{worker pid: (tracked objects, frozen objects)} as each probe task
    sees them before it reads a row. The probe consumes its whole input,
    so Spark keeps reusing its worker."""
    from phphll_spark.kernel import murmur64a

    def probe(batches):
        import gc as worker_gc
        import os

        import pyarrow as pa

        tracked, frozen = len(worker_gc.get_objects()), worker_gc.get_freeze_count()
        assert murmur64a is not None  # the closure makes this a library UDF
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "tracked": [tracked], "frozen": [frozen]},
            schema=pa.schema([("pid", pa.int64()), ("tracked", pa.int64()), ("frozen", pa.int64())]),
        )

    rows = _frame(spark).mapInArrow(probe, "pid long, tracked long, frozen long").collect()
    return {r["pid"]: (r["tracked"], r["frozen"]) for r in rows}


def test_worker_heap_is_frozen_at_task_start(spark):
    """After a library fold, a reused worker starts each task with its
    import-time heap frozen, so the daemon's per-task ``gc.collect()`` has
    almost nothing to walk; the driver's heap is never frozen."""
    _library_calls(spark, 3)
    heap = _heap_at_task_start(spark)
    assert heap
    for pid, (tracked, frozen) in heap.items():
        assert tracked < 0.01 * frozen, (pid, tracked, frozen)
    assert gc.get_freeze_count() == 0


def test_frozen_heap_stays_flat_over_calls(spark):
    """Re-freezing at every task start moves only what survived the
    previous task, so a worker's freeze count stops growing."""
    _library_calls(spark, 3)
    before = _heap_at_task_start(spark)
    _library_calls(spark, 50)
    after = _heap_at_task_start(spark)
    same = set(before) & set(after)
    assert same, (before, after)
    for pid in same:
        grown = after[pid][1] - before[pid][1]
        assert before[pid][1] > 0 and grown < 0.01 * before[pid][1], (pid, before[pid], after[pid])
    assert gc.get_freeze_count() == 0


@zip_guard_only
def test_guard_reaches_workers_not_driver(spark):
    """A library fold runs in the workers; a probe that unpickles library
    code then sees the guarded method there, while the driver keeps the
    original."""
    from pyspark.sql import functions as F

    from phphll_spark.functions import hll_count_distinct
    from phphll_spark.kernel import murmur64a

    df = spark.range(0, 400, 1, 4).select(
        (F.col("id") % 4).alias("k"), F.col("id").cast("string").alias("v")
    )
    counts = {r["k"]: r["approx_distinct"] for r in hll_count_distinct(df, ["k"], "v").collect()}
    assert sorted(counts) == [0, 1, 2, 3]
    assert all(abs(c - 100) <= 2 for c in counts.values()), counts

    def probe(batches):
        import zipimport as zi

        assert murmur64a is not None  # the closure makes this a library UDF
        guarded = hasattr(zi.zipimporter.invalidate_caches, "unguarded")
        for b in batches:
            yield b.__class__.from_pydict({"guarded": [guarded] * b.num_rows})

    flags = [r["guarded"] for r in df.select("k").mapInArrow(probe, "guarded boolean").collect()]
    assert len(flags) == 400 and all(flags)
    assert not _guarded()
