"""``frontier_engine.zipcache``: ``importlib.invalidate_caches()`` must not
re-parse an unchanged zip archive, must still pick up a rewritten one, and
must be in force in the Python workers that run engine UDFs."""

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pytest

import frontier_engine  # noqa: F401  (installs the wrapper)
from frontier_engine import zipcache


def _write_zip(path, modules: dict):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    sys.path.insert(0, archive)
    added = set()
    yield archive, added
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in added:
        sys.modules.pop(name, None)


def _count_reads(monkeypatch, archive) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive, added = zip_on_path
    _write_zip(archive, {"zc_probe_a": "X = 1\n"})
    added.add("zc_probe_a")
    assert importlib.import_module("zc_probe_a").X == 1
    assert zipcache.installed()
    # the first call may read once: the directory the importer was built
    # with carries no stamp yet
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    assert importlib.import_module("zc_probe_a").X == 1


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    archive, added = zip_on_path
    _write_zip(archive, {"zc_probe_b": "X = 1\n"})
    added.update({"zc_probe_b", "zc_probe_c"})
    assert importlib.import_module("zc_probe_b").X == 1
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    time.sleep(0.01)  # a distinct mtime even on coarse clocks
    _write_zip(archive, {"zc_probe_b": "X = 1\n", "zc_probe_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls, "a rewritten archive must be re-read"
    assert importlib.import_module("zc_probe_c").Y == 2


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_installed_in_udf_workers(spark):
    """A worker that has run an engine UDF has the wrapper installed. The
    probe must not import frontier_engine itself: it reports whether the
    package is already loaded and whether the method is wrapped."""
    from frontier_engine.canon import canon_udf

    urls = spark.createDataFrame(
        [(f"HTTP://Example{i % 7}.com/a/../b?z=1&a=2",) for i in range(64)],
        "url string",
    ).repartition(8)
    got = urls.select(canon_udf()("url").alias("c")).collect()
    assert len(got) == 64 and all(r.c.startswith("http://") for r in got)

    def probe(batches):
        import os as _os
        import sys as _sys
        import zipimport as _zi

        import pandas as _pd

        for _ in batches:
            pass
        yield _pd.DataFrame({
            "pid": [_os.getpid()],
            "engine": ["frontier_engine" in _sys.modules],
            "wrapped": [hasattr(
                _zi.zipimporter.invalidate_caches, "_frontier_original"
            )],
        })

    rows = (
        spark.range(16, numPartitions=16)
        .mapInPandas(probe, "pid long, engine boolean, wrapped boolean")
        .collect()
    )
    workers = {r.pid: (r.engine, r.wrapped) for r in rows}
    assert any(engine for engine, _ in workers.values()), workers
    assert all(wrapped for engine, wrapped in workers.values() if engine), (
        workers
    )
    assert os.getpid() not in workers
