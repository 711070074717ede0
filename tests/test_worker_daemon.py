"""The Python worker daemon's zipimporter wrapper (vectrekker_spark/worker_daemon):
an importer re-reads its archive's directory only when the archive changed,
and every Python task of a get_spark session runs under it."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from vectrekker_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a real rewrite would give


@pytest.fixture
def reads(monkeypatch):
    """Count _read_directory calls, with the wrapper installed."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    return calls


def test_unchanged_archive_is_read_once(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads.clear()
    for _ in range(5):
        imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("wd_mod_a") is not None


def test_rewritten_archive_is_read_again(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("wd_mod_b") is not None


def test_missing_archive_keeps_zipimporterror_handling(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    reads.clear()
    imp.invalidate_caches()  # the original's except-branch: no raise
    imp.invalidate_caches()  # cannot stat → always the original
    assert reads == [archive, archive]
    assert imp._files == {} and archive not in zipimport._zip_directory_cache
    assert imp.find_spec("wd_mod_a") is None


def test_python_tasks_run_under_the_wrapper(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"f": [code.co_filename], "q": [code.co_qualname]})

    got = spark.range(1).mapInPandas(report, "f string, q string").collect()
    assert got and all(
        os.path.samefile(r["f"], worker_daemon.__file__)
        and r["q"] == worker_daemon.invalidate_caches.__qualname__
        for r in got
    ), got
