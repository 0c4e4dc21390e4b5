"""Stat-checked ``zipimporter.invalidate_caches`` (installed by
``radar_output_restructure_spark.session``): repeated import-cache
invalidation must not re-parse an unchanged zip archive, a changed archive
must still be re-read, and a missing one must not raise. The in-worker test
checks the same inside a Spark Python worker, whose ``pyspark.zip``
importers are what every task start used to re-parse."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import radar_output_restructure_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from CPython 3.13 on",
)

MODULE = "_ros_zip_invalidation_probe"


@pytest.fixture
def zip_state(monkeypatch):
    """Count `_read_directory` calls; restore sys.path, the importer and
    directory caches and the module table afterwards."""
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    saved_dirs = dict(zipimport._zip_directory_cache)
    yield reads
    sys.path[:] = saved_path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(saved_importers)
    zipimport._zip_directory_cache.clear()
    zipimport._zip_directory_cache.update(saved_dirs)
    sys.modules.pop(MODULE, None)


def _write_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MODULE}.py", f"VALUE = {value}\n")


def test_invalidation_rereads_only_changed_archives(tmp_path, zip_state):
    reads = zip_state
    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    sys.path.insert(0, archive)
    m = importlib.import_module(MODULE)
    assert m.VALUE == 1
    # the first invalidation after an archive is opened takes its stat
    # baseline (one read at most); unchanged archives are never re-read
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, 22)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.reload(m).VALUE == 22

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


def test_install_is_idempotent():
    from radar_output_restructure_spark import session

    before = zipimport.zipimporter.invalidate_caches
    session._install_stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_task_start_rereads_no_archive(spark):
    """A task that runs on a reused Python worker re-parses no zip archive
    when it invalidates the import caches. The probe imports the package,
    as unpickling any engine UDF does, then counts the `_read_directory`
    calls made by its own `importlib.invalidate_caches()`."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import radar_output_restructure_spark  # noqa: F401

        for _ in batches:
            pass
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = 0
        original = zipimport._read_directory

        def counting(archive):
            nonlocal reads
            reads += 1
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pd.DataFrame(
            {"pid": [os.getpid()], "zipimporters": [n_zip], "reads": [reads]}
        )

    df = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pid long, zipimporters long, reads long"
    )
    first = df.collect()[0]
    if first.zipimporters == 0:
        pytest.skip("Python workers import nothing from a zip archive")
    # Idle workers are handed out first-in first-out, so the second task can
    # start on another idle worker; each probe primes the worker it ran on,
    # and within (idle workers + 1) runs a task lands on a primed one.
    seen = {first.pid}
    for _ in range(32):
        row = df.collect()[0]
        if row.pid in seen:
            break
        seen.add(row.pid)
    else:
        pytest.fail(f"no Python worker was reused across {len(seen)} tasks")
    assert row.reads == 0, (
        f"worker {row.pid} re-read {row.reads} zip directories across "
        f"{row.zipimporters} zipimporters in one import-cache invalidation"
    )
