"""Per-process preparation of Spark Python workers (``_worker.prepare``):
unchanged zip archives are not re-read on every task, and the
import-time heap is frozen out of the per-task ``gc.collect()``."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from tiledb_py_spark import _worker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)


def _count_directory_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ invalidates zipimporters lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tdbps_zip_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(_worker, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._invalidate_if_changed)
    for name in ("tdbps_zip_a", "tdbps_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import tdbps_zip_a

    assert tdbps_zip_a.VALUE == "a"
    # the first call records the archive's stamp (one read, like stdlib)
    importlib.invalidate_caches()
    calls = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in calls

    # a rewritten archive is re-read, so its new module imports
    _write_zip(archive, {"tdbps_zip_a": "VALUE = 'a'\n",
                         "tdbps_zip_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    import tdbps_zip_b

    assert tdbps_zip_b.VALUE == "b"


def test_prepare_acts_only_in_workers(spark):
    def probe(batches):
        import gc
        import importlib
        import zipimport

        import pyarrow as pa

        import tiledb_py_spark  # noqa: F401  (prepares this worker)

        # the first call after prepare() records each archive's stamp
        importlib.invalidate_caches()
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "reads": [len(calls)], "frozen": [gc.get_freeze_count()]})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "reads long, frozen long")
            .collect())
    assert len(rows) == 1
    row = rows[0]
    assert row.reads == 0
    assert row.frozen > 0
    # the driver is left alone
    assert zipimport.zipimporter.invalidate_caches is _worker._stdlib_invalidate
    assert gc.get_freeze_count() == 0
