"""drop_zip_importers: zipimporter entries leave sys.path_importer_cache,
and modules in the archive still import."""

import importlib
import sys
import zipfile
import zipimport

from light_curve_python_spark.session import drop_zip_importers

PKG = "lcps_zip_probe"


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module(f"{PKG}.first")
        assert isinstance(first.__loader__, zipimport.zipimporter)
        assert _zip_importers()

        drop_zip_importers()
        assert _zip_importers() == []
        # what Spark's worker runs at every task start: with no importer
        # cached, no archive directory is re-read
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path)
                            or read_directory(path))
        importlib.invalidate_caches()
        assert reads == []
        monkeypatch.undo()

        second = importlib.import_module(f"{PKG}.second")
        assert second.VALUE == 2
        assert second.__file__.startswith(str(archive))
        assert _zip_importers()     # the import re-created one
        drop_zip_importers()
        assert _zip_importers() == []
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules
                     if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
