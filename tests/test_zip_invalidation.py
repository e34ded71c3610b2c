"""The package makes ``zipimporter.invalidate_caches`` stat-gated before
Python 3.13: PySpark's worker invalidates import caches at the start of
every task, which would otherwise re-parse every zip archive on the path
(``pyspark.zip``, the spark-core jar). An unchanged archive must not be
re-read; a rewritten one must be."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import docling_ibm_models_spark  # noqa: F401  (installs the stat gate)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy on 3.13+"
)


def test_invalidate_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    importlib.invalidate_caches()  # stamp archives read before the gate
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zgate_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zgate_first", "zgate_second"):
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]  # undo restores the absent entry
    import zgate_first

    assert zgate_first.X == 1

    reads: list[str] = []
    read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive (new size, new mtime) is re-read and its new
    # module imports
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zgate_first.py", "X = 1\n")
        z.writestr("zgate_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    import zgate_second

    assert zgate_second.Y == 2
