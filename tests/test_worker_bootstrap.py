"""The worker bootstrap guard: unchanged zip archives are not re-read on
``importlib.invalidate_caches()``, changed ones are, and the guard installs
only in Spark Python workers on Python < 3.13."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from phphll_spark import _worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads directories lazily on 3.13+"
)


def _guarded():
    return hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")


@pytest.fixture
def as_worker(monkeypatch):
    """Install the guard as a worker would; the original method comes back
    at teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_worker, "_in_spark_worker", lambda: True)
    _worker.install()
    assert _guarded()


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


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


def test_install_is_idempotent(as_worker):
    method = zipimport.zipimporter.invalidate_caches
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is method


def test_noop_in_driver_and_on_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert not _worker._in_spark_worker()  # this test process is a driver
    _worker.install()
    assert not _guarded()

    monkeypatch.setattr(_worker, "_in_spark_worker", lambda: True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker.install()
    assert not _guarded()


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
