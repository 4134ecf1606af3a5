"""The package's backport of Python 3.13's lazy zip directory
invalidation: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import montecarlopagerank_spark  # noqa: F401  (installs the backport)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on",
)

MODULE = "zip_invalidate_probe"


def write_archive(path: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MODULE}/__init__.py", body)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    write_archive(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    assert importlib.import_module(MODULE).VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    write_archive(archive, "VALUE = 2  # rewritten with a different size\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == 2
