"""shipping.drop_zip_finders: the executor-side helper that keeps a reused
Python worker from re-reading zip archives on every task. Pure Python, no
Spark session."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from streamprocessing_spark.shipping import drop_zip_finders


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    """After the helper runs no zipimporter is left in the cache, and a
    module not yet imported still imports from the same zip."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/first.py", "VALUE = 1\n")
        zf.writestr("zpkg/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module("zpkg.first")
        assert first.VALUE == 1
        assert str(archive) in _zip_finders()

        drop_zip_finders()
        assert _zip_finders() == []

        second = importlib.import_module("zpkg.second")
        assert second.VALUE == 2
        assert isinstance(second.__loader__, zipimport.zipimporter)
    finally:
        sys.path.remove(str(archive))
        for name in ("zpkg.second", "zpkg.first", "zpkg"):
            sys.modules.pop(name, None)
        drop_zip_finders()


def test_drop_zip_finders_leaves_other_finders():
    """Only zip finders go: the directory finders of plain sys.path
    entries stay cached."""
    before = {p: f for p, f in sys.path_importer_cache.items() if not isinstance(f, zipimport.zipimporter)}
    drop_zip_finders()
    after = dict(sys.path_importer_cache)
    assert all(after.get(p) is f for p, f in before.items())
