"""Python-worker setup: a zip importer re-reads its archive's directory only
when the archive changed (session.install_zip_stamp), so the
``importlib.invalidate_caches()`` pyspark runs at the start of every task
costs nothing on a reused worker.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from search_engine_spark.functions import codec
from search_engine_spark.session import install_zip_stamp


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "stamped_mods.zip")
    _write_zip(archive, {"stamped_one": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "stamped_one", raising=False)
    monkeypatch.delitem(sys.modules, "stamped_two", raising=False)
    assert importlib.import_module("stamped_one").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    install_zip_stamp()
    wrapper = zipimport.zipimporter.invalidate_caches
    install_zip_stamp()  # idempotent: one wrapper, not a chain
    assert zipimport.zipimporter.invalidate_caches is wrapper

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) <= 1

    # a rewritten archive (new entry: new size and mtime) is re-read once
    # and its new module imports
    before = reads.count(archive)
    _write_zip(archive, {"stamped_one": "X = 1\n", "stamped_two": "Y = 2\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    assert importlib.import_module("stamped_two").Y == 2
    sys.path_importer_cache.pop(archive, None)


def test_reused_worker_skips_zip_rereads(spark):
    """Two one-task jobs whose kernel references an engine module: the
    second task's ``importlib.invalidate_caches()`` re-reads no archive.
    Without the stamp it re-reads every cached zip importer (~16 on a
    worker: the spark-core jar, pyspark.zip, py4j)."""

    def kernel(batches):
        for _ in batches:
            pass
        codec.vb_decode(b"\x01")  # the engine module this kernel unpickles
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    df = spark.range(1, numPartitions=1)
    schema = "reads long, zips long"
    df.mapInPandas(kernel, schema).collect()
    second = df.mapInPandas(kernel, schema).collect()[0]
    assert second["zips"] > 0
    assert second["reads"] == 0
