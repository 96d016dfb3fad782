"""The engine's Python worker daemon (``nominatim_spark.pydaemon``): its
``zipimporter.invalidate_caches`` skips re-reading an unchanged archive
but still picks up an archive rewritten on disk."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from nominatim_spark import pydaemon


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding two packages and a module, imported
    through it, with the daemon's patch installed and directory reads of
    that archive counted."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zpkg_a/__init__.py": "", "zpkg_a/sub.py": "",
                      "zpkg_b/__init__.py": "", "zpkg_b/sub.py": "",
                      "zmod_one.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    import zmod_one  # noqa: F401
    import zpkg_a.sub  # noqa: F401 — one zipimporter per package path
    import zpkg_b.sub  # noqa: F401
    yield path, reads
    for name in ("zmod_one", "zmod_two", "zpkg_a", "zpkg_a.sub",
                 "zpkg_b", "zpkg_b.sub"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    pydaemon._read_at.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    reads.clear()
    importlib.invalidate_caches()  # the first call records the signature
    assert len(reads) <= 1  # one read for all three importers
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    import zmod_one

    assert zmod_one.X == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {"zpkg_a/__init__.py": "", "zpkg_b/__init__.py": "",
                      "zmod_one.py": "X = 1\n", "zmod_two.py": "Y = 2\n"})
    assert importlib.util.find_spec("zmod_two") is None  # stale directory
    reads.clear()
    importlib.invalidate_caches()
    assert reads
    import zmod_two

    assert zmod_two.Y == 2


def test_session_workers_run_the_patch(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "m string") \
               .collect()
    assert [r.m for r in got] == ["nominatim_spark.pydaemon"]
