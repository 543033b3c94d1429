"""The Python worker's zip stamp (``spark_kinesis_sql_asl_spark/pyworker.py``).

``importlib.invalidate_caches()`` runs before every PySpark task; before
Python 3.13 it re-reads the central directory of every zip archive on the
import path. With the stamp, an unchanged archive is not re-read, and a
rewritten one still is.
"""

from __future__ import annotations

import datetime as dt
import importlib
import sys
import zipfile
import zipimport

import pytest

from spark_kinesis_sql_asl_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads the archive",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    assert pyworker.INSTALLED
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_stamp_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "graft_stamp_a", raising=False)
    monkeypatch.delitem(sys.modules, "graft_stamp_b", raising=False)
    assert importlib.import_module("graft_stamp_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()  # stamps the importer made after install
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"graft_stamp_a": "X = 1\n", "graft_stamp_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("graft_stamp_b").Y == 2
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)


def test_kinesislike_worker_skips_unchanged_zips(spark, tmp_path):
    """A Python worker that ran the ``kinesislike`` reader has the stamp
    installed. Its next ``importlib.invalidate_caches()`` re-reads only the
    zip importers made after the package was imported in that worker (none
    on a reused worker), not all of them (``pyspark.zip`` and its
    subpackages, py4j, the spark-core jar), and the call after that
    re-reads none."""
    from spark_kinesis_sql_asl_spark.sources.kinesis_source import (
        KinesisLikeBatchReader,
        KinesisLikeDataSource,
        _read_slice,
    )
    from spark_kinesis_sql_asl_spark.sources.staging import write_staging

    class ProbeReader(KinesisLikeBatchReader):
        def read(self, partition):
            import importlib
            import sys
            import zipimport

            records = sum(b.num_rows for b in _read_slice(partition))
            reads = []
            read_directory = zipimport._read_directory
            zipimport._read_directory = lambda p: (reads.append(p), read_directory(p))[1]
            try:
                importlib.invalidate_caches()  # as the next task's start-up
                first = len(reads)
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            stamp = sys.modules.get("spark_kinesis_sql_asl_spark.pyworker")
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            yield (bool(stamp and stamp.INSTALLED), zips, first,
                   len(reads) - first, records)

    class Probe(KinesisLikeDataSource):
        @classmethod
        def name(cls):
            return "kinesislike_worker_probe"

        def schema(self):
            return ("installed boolean, zips int, first_rereads int, "
                    "second_rereads int, records long")

        def reader(self, schema):
            return ProbeReader(self.options)

    root = str(tmp_path / "staging")
    write_staging(
        [{"user_id": u, "payload": "{}", "ts": dt.datetime(2026, 1, 1)}
         for u in range(40)],
        root, n_shards=2, n_chunks=2,
    )
    spark.dataSource.register(Probe)
    rows = spark.read.format("kinesislike_worker_probe").option("path", root).load().collect()
    assert sum(r.records for r in rows) == 40
    for r in rows:
        assert r.installed
        assert r.first_rereads < r.zips
        assert r.second_rereads == 0
