"""The stat-checked ``zipimporter.invalidate_caches`` installed in engine
Python workers (``session.install_worker_zip_cache``).

Counts, not timings: each check counts ``zipimport._read_directory``
calls, the full central-directory parse the hook exists to skip.  The
unit checks run in a fresh interpreter so this process's ``zipimport``
state stays untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

from wikihadoop_spark.sources.wikidump import read_wikidump

from dump_fixtures import EXPECTED_REV_IDS, standard_dump, write_dump

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_zipimport = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimporter invalidates lazily here; the hook is not installed",
)


def _run(code: str, tmp_path) -> str:
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), str(tmp_path)],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    return r.stdout


_COUNT_READS = """
    import importlib, os, sys, zipfile, zipimport

    archive = os.path.join(sys.argv[1], "mods.zip")

    def write(*mods):
        with zipfile.ZipFile(archive, "w") as zf:
            for m in mods:
                zf.writestr(f"{m}.py", f"NAME = {m!r}\\n")

    reads = []
    eager_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return eager_read(path)

    zipimport._read_directory = counting_read

    def invalidate():
        reads.clear()
        importlib.invalidate_caches()
        return [p for p in reads if p == archive]
"""


@lazy_zipimport
def test_hook_skips_unchanged_archive_and_rereads_changed(tmp_path):
    out = _run(
        _COUNT_READS
        + """
    write("m1")
    sys.path.insert(0, archive)
    import m1

    from pyspark.core.files import SparkFiles
    SparkFiles._is_running_on_worker = True
    from wikihadoop_spark.session import install_worker_zip_cache
    install_worker_zip_cache()
    assert zipimport.zipimporter._wikihadoop_stat_checked
    hook = zipimport.zipimporter.invalidate_caches
    install_worker_zip_cache()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is hook

    assert invalidate() == [], "unchanged archive re-read"
    assert invalidate() == [], "unchanged archive re-read"
    write("m1", "m2")
    assert invalidate() == [archive], "rewritten archive not re-read once"
    import m2
    assert m2.NAME == "m2"
    assert invalidate() == [], "archive re-read after its stat was recorded"
    print("ok")
    """,
        tmp_path,
    )
    assert out.strip() == "ok"


@lazy_zipimport
def test_hook_not_installed_where_zipimporter_is_lazy(tmp_path):
    out = _run(
        """
    import zipimport
    zipimport.zipimporter._get_files = lambda self: {}
    eager = zipimport.zipimporter.invalidate_caches

    from pyspark.core.files import SparkFiles
    SparkFiles._is_running_on_worker = True
    from wikihadoop_spark.session import install_worker_zip_cache
    install_worker_zip_cache()
    assert zipimport.zipimporter.invalidate_caches is eager
    assert not hasattr(zipimport.zipimporter, "_wikihadoop_stat_checked")
    print("ok")
    """,
        tmp_path,
    )
    assert out.strip() == "ok"


def test_driver_import_leaves_zipimporter_alone(tmp_path):
    out = _run(
        """
    import zipimport
    eager = zipimport.zipimporter.invalidate_caches
    import pyspark.core.files
    import wikihadoop_spark
    assert zipimport.zipimporter.invalidate_caches is eager
    assert not hasattr(zipimport.zipimporter, "_wikihadoop_stat_checked")
    print("ok")
    """,
        tmp_path,
    )
    assert out.strip() == "ok"


@lazy_zipimport
def test_engine_workers_skip_rereads(spark, tmp_path):
    """After an engine task, a task that imports the engine finds the
    hook installed, and invalidating makes no directory reads at all."""
    path = write_dump(tmp_path, standard_dump())
    got = sorted(r.rev_id for r in read_wikidump(spark, path).collect())
    assert got == EXPECTED_REV_IDS

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import wikihadoop_spark  # noqa: F401 — installs the hook

        reads = []
        eager_read = zipimport._read_directory

        def counting_read(archive):
            reads.append(archive)
            return eager_read(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = eager_read
        for _ in batches:
            pass
        marker = getattr(zipimport.zipimporter, "_wikihadoop_stat_checked", False)
        yield pa.RecordBatch.from_pylist([{"marker": marker, "reads": len(reads)}])

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(probe, "marker boolean, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.marker for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
