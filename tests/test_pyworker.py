"""The zip-import guard (py3dtilers_spark/_pyworker.py): an unchanged import
archive is not re-read by ``importlib.invalidate_caches()``, a rewritten one
is, and a reused Spark Python worker reads no archive per task."""
import importlib
import sys
import zipfile
import zipimport

from py3dtilers_spark._pyworker import install_zip_guard


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    install_zip_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    install_zip_guard()  # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches is guarded

    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_mod_a.py": "VALUE = 1\n"})
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zg_mod_a").VALUE == 1
        importlib.invalidate_caches()

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(
            archive, {"zg_mod_a.py": "VALUE = 1\n", "zg_mod_b.py": "VALUE = 2\n"}
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zg_mod_b").VALUE == 2
    finally:
        sys.path[:] = saved_path
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_reads_no_archive(spark):
    def archive_reads(_):
        import importlib
        import zipimport

        import py3dtilers_spark  # noqa: F401  (installs the guard here)

        reads = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield reads[0]

    rdd = spark.sparkContext.parallelize(range(2), 2)
    rdd.mapPartitions(archive_reads).collect()
    assert rdd.mapPartitions(archive_reads).collect() == [0, 0]
