"""The zip-importer stat guard: an unchanged archive is not re-read when
import caches are invalidated, a changed or deleted one is handled as
before — on the driver and inside reused Spark Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import indian_address_parser_spark  # noqa: F401  (installs the guard)

LAZY_STDLIB = sys.version_info >= (3, 12)  # gh-103200: nothing to guard


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def read_log(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    log = []
    read = zipimport._read_directory

    def counting(archive):
        log.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return log


def test_driver_invalidation_rereads_only_changed_archives(tmp_path, read_log):
    archive = str(tmp_path / "mods.zip")
    _write_zip(
        archive, {"zs_a.py": "A = 1\n", "zs_pkg/__init__.py": "", "zs_pkg/d.py": "D = 4\n"}
    )
    sys.path.insert(0, archive)
    try:
        import zs_a
        import zs_pkg.d  # adds a second importer of the archive: <archive>/zs_pkg

        assert zs_a.A == 1 and zs_pkg.d.D == 4
        assert read_log == [archive]  # the import's own read
        importers = [k for k in sys.path_importer_cache if k.startswith(archive)]
        assert sorted(importers) == [archive, os.path.join(archive, "zs_pkg")]

        read_log.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        if not LAZY_STDLIB:
            assert archive not in read_log

        # a rewrite with a new size: one re-read serves both importers
        _write_zip(
            archive,
            {
                "zs_a.py": "A = 1\n",
                "zs_b.py": "B = 2\n",
                "zs_pkg/__init__.py": "",
                "zs_pkg/c.py": "C = 3\n",
                "zs_pkg/d.py": "D = 4\n",
            },
        )
        read_log.clear()
        importlib.invalidate_caches()
        if not LAZY_STDLIB:
            assert read_log.count(archive) == 1
        import zs_b
        import zs_pkg.c

        assert zs_b.B == 2 and zs_pkg.c.C == 3

        # a cached directory that the last stamped read did not produce (a
        # concurrent reader stored its own) is re-read, stamp or no stamp
        cache = zipimport._zip_directory_cache
        cache[archive] = dict(cache[archive])
        read_log.clear()
        importlib.invalidate_caches()
        if not LAZY_STDLIB:
            assert read_log.count(archive) == 1

        os.remove(archive)
        importlib.invalidate_caches()  # must not raise
        with pytest.raises(ImportError):
            import zs_gone  # noqa: F401
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for mod in ("zs_a", "zs_b", "zs_pkg", "zs_pkg.c", "zs_pkg.d"):
            sys.modules.pop(mod, None)


def test_reused_workers_do_not_reread_archives(spark):
    """Each task imports the package and counts ``_read_directory`` calls
    across one ``importlib.invalidate_caches()`` inside the worker. A
    worker that ran a task of the first pass has taken its stamps, so in
    the second pass it re-reads nothing."""
    import pandas as pd

    def probe(batches):
        import importlib as il
        import os as _os
        import sys as _sys
        import zipimport as zi

        import indian_address_parser_spark  # noqa: F401

        reads = []
        read = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        zips = sum(
            isinstance(f, zi.zipimporter) for f in _sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [_os.getpid()], "reads": [len(reads)], "zips": [zips]})

    schema = "pid long, reads long, zips long"
    df = spark.range(0, 8, numPartitions=8).mapInPandas(probe, schema)
    first = df.collect()
    second = df.collect()
    assert all(r.zips >= 1 for r in first + second), "no zip importer on the worker path"
    seen = {r.pid for r in first}
    reused = [r for r in second if r.pid in seen]
    assert reused, "no Python worker was reused between the two passes"
    if not LAZY_STDLIB:
        assert [r.reads for r in reused] == [0] * len(reused)
