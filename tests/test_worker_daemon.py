"""The workers' daemon module's stat-guarded zip-directory re-read, on temp
archives and without Spark: it skips only the re-reads of an unchanged
archive, and behaves as the stdlib re-read otherwise."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from latex_ocr_spark import worker_daemon as WD


def _write_archive(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Archives ``zipimport._read_directory`` parses while the test runs."""
    archives = []
    read = zipimport._read_directory

    def counting(archive):
        archives.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return archives


def test_importing_the_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is WD._reread
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    reads.clear()  # the constructor's own read
    WD.invalidate_if_changed(importer)  # first sight: read and stamp
    assert reads == [path]
    WD.invalidate_if_changed(importer)
    WD.invalidate_if_changed(zipimport.zipimporter(path))
    assert reads == [path]
    assert importer.find_spec("alpha") is not None


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    WD.invalidate_if_changed(importer)
    assert importer.find_spec("beta") is None
    reads.clear()
    _write_archive(path, ["alpha", "beta"])
    WD.invalidate_if_changed(importer)
    assert reads == [path]
    assert importer.find_spec("beta") is not None


def test_deleted_archive_matches_the_stdlib(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, ["alpha"])
    guarded, plain = zipimport.zipimporter(path), zipimport.zipimporter(path)
    WD.invalidate_if_changed(guarded)
    os.remove(path)
    WD.invalidate_if_changed(guarded)
    WD._reread(plain)
    assert guarded._files == plain._files == {}
    assert path not in zipimport._zip_directory_cache
