"""The package's `zipimporter.invalidate_caches` replacement
(`shipping.install_zip_invalidate_fix`): before CPython 3.13 every
`importlib.invalidate_caches()`, which PySpark runs on every worker call,
re-parses the central directory of every zip on `sys.path`. With the
package imported, an archive is re-read only when it changed on disk.
No SparkSession: these count calls to `zipimport._read_directory`."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import hive_dwrf_spark  # noqa: F401  (installs the replacement)

pre313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 reads lazily"
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, already imported, and the
    list of archives `_read_directory` is asked to read from then on."""
    mod = f"wi_a_{tmp_path.name}"
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {mod: "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(mod)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return path, sys.path_importer_cache[path], reads


@pre313
def test_unchanged_archive_read_once(archive):
    path, importer, reads = archive
    importer.invalidate_caches()
    assert reads.count(path) <= 1
    del reads[:]
    for _ in range(3):
        importer.invalidate_caches()
        importlib.invalidate_caches()
    assert reads.count(path) == 0


@pre313
@pytest.mark.parametrize(
    "in_place", [False, True], ids=["replaced", "in_place"]
)
def test_rewritten_archive_is_read_again(archive, tmp_path, in_place):
    path, importer, reads = archive
    importer.invalidate_caches()
    importlib.invalidate_caches()
    del reads[:]
    mod_a = f"wi_a_{tmp_path.name}"
    mod_b = f"wi_b_{tmp_path.name}"
    members = {mod_a: "X = 1\n", mod_b: "Y = 2\n"}
    if in_place:  # same inode: only size and mtime change
        with zipfile.ZipFile(path, "w") as z:
            for name, src in members.items():
                z.writestr(f"{name}.py", src)
    else:
        _write_zip(path, members)
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module(mod_b).Y == 2


@pre313
def test_importing_twice_installs_once():
    script = (
        "import sys, zipimport\n"
        "import hive_dwrf_spark\n"
        "first = zipimport.zipimporter.invalidate_caches\n"
        "assert first.__module__ == 'hive_dwrf_spark.shipping', first\n"
        "for m in list(sys.modules):\n"
        "    if m.startswith('hive_dwrf_spark'):\n"
        "        del sys.modules[m]\n"
        "import hive_dwrf_spark\n"
        "hive_dwrf_spark.shipping.install_zip_invalidate_fix()\n"
        "assert zipimport.zipimporter.invalidate_caches is first\n"
        "print('ONCE')\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ONCE" in out.stdout


@pytest.mark.skipif(sys.version_info < (3, 13), reason="needs CPython 3.13+")
def test_stdlib_left_alone_on_313():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
