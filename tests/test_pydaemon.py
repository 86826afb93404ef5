"""The Python worker daemon's zip-directory guard (dask_ml_spark._pydaemon)."""

import sys
import zipfile
import zipimport

import pytest

from dask_ml_spark import _pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ zipimport no longer re-reads on invalidate")
def test_guard_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"_guarded_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import _guarded_a

    assert _guarded_a.VALUE == 1
    importer = sys.path_importer_cache[archive]
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon._invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))

    importer.invalidate_caches()  # first sighting of this archive: one read
    assert reads == [archive]
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"_guarded_a": "VALUE = 1\n", "_guarded_b": "VALUE = 2\n"})
    importer.invalidate_caches()
    assert reads == [archive]
    import _guarded_b

    assert _guarded_b.VALUE == 2


def test_python_tasks_skip_zip_reread_and_see_late_py_files(spark, tmp_path):
    sc = spark.sparkContext

    def zip_reads(_):
        import importlib
        import zipimport

        n = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield n[0]

    assert sc.parallelize([0], 1).mapPartitions(zip_reads).collect() == [0]

    (tmp_path / "_late_shipped_mod.py").write_text("VALUE = 42\n")
    sc.addPyFile(str(tmp_path / "_late_shipped_mod.py"))

    def late_value(_):
        import _late_shipped_mod

        yield _late_shipped_mod.VALUE

    assert sc.parallelize([0, 1], 2).mapPartitions(late_value).collect() == [42, 42]
