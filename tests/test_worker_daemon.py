from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedupe_trees_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip archives lazily; no guard"
)


def test_udf_tasks_run_under_the_guard(spark):
    """get_spark's daemon module patches zipimport in every forked worker."""

    @F.pandas_udf("string")
    def marker(ids: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__qualname__] * len(ids))

    rows = (
        spark.range(0, 64, 1, 4)
        .select(F.spark_partition_id().alias("part"), marker("id").alias("fn"))
        .distinct()
        .collect()
    )
    assert {r.part for r in rows} == {0, 1, 2, 3}
    assert {r.fn for r in rows} == {"guarded.<locals>.invalidate_caches"}


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a new inode, as a redeployed archive gets


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_guard_a.py": "VALUE = 'a'\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.guarded(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    for name in ("zd_guard_a", "zd_guard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    monkeypatch.delitem(zipimport._zip_directory_cache, archive, raising=False)

    import zd_guard_a

    assert zd_guard_a.VALUE == "a"
    importer = sys.path_importer_cache[archive]
    importer.invalidate_caches()  # the first call stamps the archive
    n = len(reads)
    for _ in range(3):
        importer.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"
    assert importer._files is zipimport._zip_directory_cache[archive]

    _write_zip(archive, {"zd_guard_a.py": "VALUE = 'a'\n", "zd_guard_b.py": "VALUE = 'b'\n"})
    importer.invalidate_caches()
    assert reads[n:] == [archive]
    import zd_guard_b

    assert zd_guard_b.VALUE == "b"
