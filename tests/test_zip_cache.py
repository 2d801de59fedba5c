"""The stat-keyed zipimport directory cache in tsclust_spark.session.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; without the cache each cached ``zipimporter`` re-reads its
archive's whole central directory each time. Installed only where
``zipimporter`` reads its directory eagerly (no ``_get_files``).
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

import tsclust_spark.session  # noqa: F401  (installs the cache)

pytestmark = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this zipimport invalidates its directory lazily; no cache installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zbp_one": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zbp_one").X == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zbp_one": "X = 1\n", "zbp_two": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zbp_two").Y == 2
    finally:
        for name in ("zbp_one", "zbp_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.spark
def test_engine_kernel_worker_runs_the_zip_cache(spark):
    """A worker that has run an engine kernel task has the cache
    installed for every later task; one that never imported the
    package keeps the stdlib method."""
    from tsclust_spark.kernels.codec import compress_sequences, decompress_blocks

    df = spark.createDataFrame(
        [("a", "s", [1, 2, 3])], "doc_id string, source string, tokens array<int>"
    ).coalesce(1)
    decompress_blocks(compress_sequences(df)).collect()

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "pid": os.getpid(),
                    "engine": "tsclust_spark" in sys.modules,
                    "cached": method.__module__ == "tsclust_spark.session",
                }
            ]
        )

    # one-row tasks cycle through the idle worker pool, so the engine
    # kernel's worker is among those probed
    rows = (
        spark.range(0, 64, numPartitions=64)
        .mapInArrow(probe, "pid long, engine boolean, cached boolean")
        .collect()
    )
    assert any(r.engine for r in rows)
    assert all(r.cached == r.engine for r in rows)
