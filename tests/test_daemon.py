"""The package's Python worker daemon: its zip-reload guard re-reads an
archive only when it changed, and the session's workers fork from it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mini_distributed_search_engine_spark._daemon import guard_zip_reload

DAEMON = "mini_distributed_search_engine_spark._daemon"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="Python 3.12+ reloads a zip directory lazily; "
                           "the daemon installs no guard there")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipguard_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipguard_a").A == 1
        importer = sys.path_importer_cache[str(archive)]
        assert isinstance(importer, zipimport.zipimporter)

        reloads = []
        original = zipimport.zipimporter.invalidate_caches

        def counting(self):
            if self.archive == str(archive):
                reloads.append(self.archive)
            original(self)

        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            counting)
        guard_zip_reload()

        importlib.invalidate_caches()       # the first call stamps it
        assert len(reloads) == 1
        for _ in range(3):                  # unchanged: never re-read
            importlib.invalidate_caches()
        assert len(reloads) == 1

        # rewritten in place: the next call re-reads it
        _write_zip(archive, {"zipguard_a.py": "A = 1\n",
                             "zipguard_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert len(reloads) == 2
        assert importlib.import_module("zipguard_b").B == 2
    finally:
        for name in ("zipguard_a", "zipguard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_workers_fork_from_the_package_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pd.DataFrame({
            "daemon": [spec.name if spec else ""],
            "reload": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "daemon string, reload string").collect()[0])
    assert row.daemon == DAEMON
    if sys.version_info < (3, 12):
        assert row.reload.startswith("guard_zip_reload.")
