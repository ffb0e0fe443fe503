"""The Python worker daemon (fantasy_premier_league_spark/worker_daemon.py):
zipimport directory caches survive a task's ``invalidate_caches`` unless
the archive changed, and Spark's workers run under it."""

from __future__ import annotations

import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from fantasy_premier_league_spark import worker_daemon


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    # recorded so teardown restores it after keep_zip_caches patches it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    # two importers over one archive, as for a zip and a package in it
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    try:
        worker_daemon.keep_zip_caches()  # as the daemon does at start
        reads.clear()
        for _ in range(3):
            for imp in importers:
                imp.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("b.py", "B = 2\n")
        for imp in importers:
            imp.invalidate_caches()
        assert reads == [archive]
        assert all(imp.find_spec("b") is not None for imp in importers)
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_workers_run_the_zip_cache_daemon(spark):
    @F.pandas_udf("string")
    def invalidate_caches_module(ids: pd.Series) -> pd.Series:
        import zipimport

        return ids.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = {r[0] for r in spark.range(4).select(invalidate_caches_module("id")).collect()}
    assert got == {"fantasy_premier_league_spark.worker_daemon"}
