"""A PySpark worker re-reads a zip archive's directory only when the
archive changed (``warcbase_spark._cache_zip_directories``)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import warcbase_spark


@pytest.fixture
def read_directory(monkeypatch):
    """The archives ``zipimport._read_directory`` reads, in call order;
    the install is undone after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_not_reread(tmp_path, monkeypatch, read_directory):
    """Repeated ``invalidate_caches`` calls re-read no unchanged archive;
    a rewritten archive is re-read, and its new module imports."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipdir_mod_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipdir_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "zipdir_mod_b", raising=False)
    importlib.import_module("zipdir_mod_a")
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    del read_directory[:]  # the importer's own first read

    warcbase_spark._cache_zip_directories()
    warcbase_spark._cache_zip_directories()  # idempotent
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_directory == []

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipdir_mod_a.py", "A = 1\n")
        z.writestr("zipdir_mod_b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert read_directory == [archive]
    assert importlib.import_module("zipdir_mod_b").B == 2
    importlib.invalidate_caches()
    assert read_directory == [archive]


def test_worker_task_reads_no_archive_directory(spark):
    """After a canonicalizer job, an Arrow UDF task's
    ``importlib.invalidate_caches()`` (the call PySpark's
    ``setup_spark_files`` makes before every task) reads no archive
    directory, in a worker that holds zipimporters (Spark's pyspark.zip)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from warcbase_spark.frontier.crawl import canonicalize_candidates

    urls = spark.range(400).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"), F.lit(".org/p/"),
                 F.col("id").cast("string")).alias("url")
    ).repartition(4)
    assert canonicalize_candidates(urls).filter("url_key IS NOT NULL").count() == 400

    def reads(batches):
        import importlib
        import sys
        import zipimport

        import warcbase_spark  # noqa: F401  (as unpickling an engine UDF does)

        for _ in batches:
            pass
        archives: list = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: archives.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"reads": [len(archives)], "zips": [zips]})

    rows = urls.mapInArrow(reads, "reads long, zips long").collect()
    assert rows and all(r["zips"] > 0 for r in rows), rows
    assert all(r["reads"] == 0 for r in rows), rows
