"""SparkSession factory and session configuration.

Local testing runs on ``local[N]`` but every config choice is made for a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to the environment, Arrow
enabled for the Pandas-UDF slow path, UTC session timezone so timestamp
semantics are stable across engines (the DuckDB oracle reads parquet
timestamps as naive UTC).

Inside a PySpark Python worker, importing the package installs
``install_worker_zip_cache``: a stat-checked
``zipimport.zipimporter.invalidate_caches`` that re-reads an archive's
directory only when the archive changed.  It is a no-op on the driver
(``SparkFiles._is_running_on_worker`` unset), where ``zipimporter``
already invalidates lazily (``_get_files``), and on a second install.

Sessions made by ``get_spark`` size Spark's generated-class cache to
the catalog's working set (``CODEGEN_CACHE_MAX_ENTRIES``).  That conf
is static: each JVM reads it once, when Spark's code generator is
first loaded, so ``configure_session`` cannot set it on a session it
did not build.  Vanilla sessions (an embedding driver's,
``tools/driver_sim.py``, ``tools/gate_rehearsal.py``) keep Spark's
default of 100 entries by design: their results and plans are the
same, and they only compile classes again once a pass needs more than
100 of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache
# (``spark.sql.codegen.cache.maxEntries``, default 100).  A first pass
# over the whole catalog generates about 1,160 distinct classes
# (1,158-1,160 at sf0.001), and the eight queries of perfbench's
# catalog workload about 120.  At 100 entries every warm pass over
# those eight evicts and re-compiles 113-118 classes with Janino, and
# the JVM then JIT-compiles them again.  4096 holds the whole catalog
# with about 3.5x headroom.
CODEGEN_CACHE_MAX_ENTRIES = 4096


def default_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def _package_zip() -> str:
    """Zip this package's sources (``.py`` plus the ``_native.c``
    kernel, which workers compile from the zip) into the temp dir and
    return the path.  Content-hashed, so it is built once per tree."""
    import hashlib
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        for fn in sorted(filenames):
            if fn.endswith((".py", ".c")):
                sources.append(os.path.join(dirpath, fn))
    sources.sort()
    # content-hash the cache key: an mtime check would let a different
    # checkout (or a rolled-back one with older mtimes) reuse another
    # tree's zip and ship diverging code to the executors
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, pkg_root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"wikihadoop_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in sources:
                zf.write(
                    p,
                    os.path.join(
                        "wikihadoop_spark", os.path.relpath(p, pkg_root)
                    ),
                )
        os.replace(tmp, zpath)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make ``wikihadoop_spark`` importable in executor Python workers.

    Cloudpickle serializes the DataSource class and the UDF closures'
    module-level references BY NAME, so workers must import this
    package — but the driver's session may have been created without
    the repo on PYTHONPATH (driver-side imports then work via sys.path
    manipulation while workers fail with ModuleNotFoundError).  Zip the
    package once and addPyFile it; Spark inserts it into every worker's
    sys.path per task.  Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_wikihadoop_pkg_shipped", False):
        return
    sc.addPyFile(_package_zip())
    sc._wikihadoop_pkg_shipped = True


def install_worker_zip_cache() -> None:
    """Stop every Python task from re-reading ``pyspark.zip`` and the
    Spark jar.

    PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    at the start of every task.  Up to CPython 3.12 that makes each
    ``zipimporter`` on the worker's path re-read its archive's central
    directory in pure Python: 12 importers into ``pyspark.zip`` and
    two into the spark-core jar, 0.12-0.32 s per task on a 4-core x86
    host.  The replacement re-reads an archive only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken at
    the last read, or when ``zipimport`` has no cached directory for
    it.  ``FileFinder`` invalidation is untouched, so files Spark adds
    between tasks still become visible.

    Installed once per worker process, never on the driver, and not
    where ``zipimporter`` already invalidates lazily (``_get_files``,
    CPython 3.13).  The archives of the importers already on the path
    count as read at install: ``setup_spark_files`` re-read every one
    of them at the start of the current task."""
    import sys
    import zipimport

    files = sys.modules.get("pyspark.core.files")
    spark_files = getattr(files, "SparkFiles", None)
    cls = zipimport.zipimporter
    if (
        not getattr(spark_files, "_is_running_on_worker", False)
        or hasattr(cls, "_get_files")
        or hasattr(cls, "_wikihadoop_stat_checked")
    ):
        return
    eager = cls.invalidate_caches
    read_at: dict[str, tuple | None] = {}

    def stat(archive: str) -> tuple | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def invalidate_caches(self) -> None:
        st = stat(self.archive)  # before the read: a later write re-reads
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and st is not None and st == read_at.get(self.archive):
            self._files = cached
            return
        eager(self)
        read_at[self.archive] = st

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            read_at[importer.archive] = stat(importer.archive)
    cls.invalidate_caches = invalidate_caches
    cls._wikihadoop_stat_checked = True


def _disable_dataframe_debugging(spark: SparkSession) -> None:
    """Turn off PySpark's DataFrame-API call-site capture (round-18).

    PySpark 4 wraps every DataFrame/Column API entry point to record
    the user call site for richer error messages
    (``spark.python.sql.dataFrameDebugging.enabled``, default true).
    Each wrapped call then pays a ``getActiveSession`` lookup, a
    ``spark.conf.get`` py4j round trip, a Python traceback walk, and
    two more py4j calls (origin set/clear) — measured at ~40% of a
    typical query's plan-assembly latency here (cProfile: 50 wrapped
    ops per q1 build, ~0.12 s of its 0.32 s).  Query plans, results,
    and expression IDs are untouched — only the call-site METADATA
    attached to error messages is lost, a documented trade for a
    latency-critical driver.  PySpark caches the flag module-globally
    on first use, so the module cache is reset too: the driver may
    have run its own DataFrame ops (populating the cache as True)
    before the first query build reaches us."""
    try:
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
        from pyspark.errors import utils as _errors_utils

        _errors_utils._enable_debugging_cache = False
    except Exception:
        pass  # future pyspark without the knob/cache: keep defaults


def configure_session(spark: SparkSession) -> SparkSession:
    """Idempotent runtime conf needed for correctness on the testdata.

    Safe to call on a session we did not create (the driver passes its
    own): only runtime-settable confs are touched.

    Idempotent AND memoized (round-17): it runs on every query build
    (the driver wrapper and every ``Tables`` load call it), and each
    ``conf.set`` is a py4j round trip — six of them per call add real
    driver latency across a 111-query catalog.  The configured flag
    rides the SparkSession object, so a fresh session (or a fresh
    context) is configured exactly once and re-configured never.
    """
    if getattr(spark, "_wikihadoop_session_configured", False):
        _ship_package(spark)  # per-context guard of its own, cheap
        # re-assert the ONE parity-critical conf even on the memoized
        # path (round-18 ADVICE): an embedding driver that mutates the
        # shared session's timezone between queries would otherwise
        # silently skew every timestamp result; one conf.set is a
        # single cheap py4j round trip.  The other confs are
        # plan/reader toggles whose drift fails loudly, not silently.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # pyspark's debugging flag is cached module-globally; re-assert
        # only the Python-side cache here (free — no py4j round trip)
        try:
            from pyspark.errors import utils as _errors_utils

            _errors_utils._enable_debugging_cache = False
        except Exception:
            pass
        return spark
    _ship_package(spark)
    _disable_dataframe_debugging(spark)
    # Oracle parity: DuckDB treats parquet timestamps as naive UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read the raw int64 and convert in catalog.load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones — the 100 TB posture (harmless locally).
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # the wikidump source implements pushFilters(); Spark errors if the
    # reader defines it while pushdown is disabled
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark._wikihadoop_session_configured = True
    return spark


def get_spark(
    app_name: str = "wikihadoop-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or default_cpus()
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
