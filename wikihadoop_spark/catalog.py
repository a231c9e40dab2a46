"""Testdata table catalog.

Loads the driver-generated star schema (``TESTDATA.md``) with schemas
normalized so the Spark side and the DuckDB oracle see identical logical
types.  The one real mismatch: ``events.parquet`` stores
TIMESTAMP(NANOS) which Spark's vectorized parquet reader rejects — we
read it as int64 nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``)
and convert to ``timestamp_ntz`` (micros, matching DuckDB's read of the
same column).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._exprs import owned_memo
from .session import configure_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions worth broadcasting in joins (fits any executor; at
# 100 TB fact scale these stay tiny — classic star-schema broadcast).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# (path, mtime_ns, size) -> inferred StructType.  Parquet schema
# inference reads file footers on the DRIVER on every ``read.parquet``
# call; the catalog re-reads the same static tables on every query
# build, so the footer cost is pure per-invocation latency (round-17).
# The stat key invalidates the entry whenever the file is rewritten;
# the dict empties at _SCHEMA_CACHE_MAX keys, so rewritten files'
# stale keys cannot pile up (a catalog scale holds ten tables).
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}
_SCHEMA_CACHE_MAX = 64
_schema_inferences = 0


def schema_inferences() -> int:
    """How many schemas ``load_table`` has inferred into the cache:
    monotonic, so a clear of the cache never reads as "none ran"."""
    return _schema_inferences

# Scan-frame memo: (path, mtime_ns, size) -> the built scan DataFrame
# (round-18), in a dict on the SparkSession object.  Even with the schema
# cache, every ``read.parquet`` call re-creates the reader and the file
# index in the JVM (~30 ms per table per query build — q5 loads five
# tables).  A DataFrame is an immutable logical plan, so returning the
# SAME object on a repeat load is plan-construction memoization in the
# round-17 class (expression Columns, schemas, partition counts):
# plans, values, and results are identical; every action still
# re-executes the full scan.
# A frame runs under its session's conf; a ``newSession()`` or a
# restarted context is a new object that starts empty, and a dropped
# session's frames die with it.  The stat key invalidates an entry on
# any file rewrite.  Regular files only, same as _SCHEMA_CACHE.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    global _schema_inferences
    configure_session(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = None
    try:
        st = os.stat(path)
        # REGULAR FILES ONLY (round-18 ADVICE): a directory-style
        # dataset whose part file is rewritten in place changes neither
        # the directory's mtime_ns nor its size, so a stat key on the
        # directory itself would serve a stale schema (and a stale
        # _spread partition count).  Directory datasets fall through to
        # plain per-call inference.
        import stat as _stat

        if _stat.S_ISREG(st.st_mode):
            key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # globs/remote paths: fall through to plain inference
    frames = owned_memo(spark, "_wikihadoop_scan_frames")
    if key is not None:
        cached = frames.get(key)
        if cached is not None:
            return cached
    if key is not None and key in _SCHEMA_CACHE:
        df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _schema_inferences += 1
            if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
                _SCHEMA_CACHE.clear()  # small values; simplest bound
            _SCHEMA_CACHE[key] = df.schema
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # int64 nanos -> timestamp_ntz micros (identical to DuckDB's value)
        # integer DIV, not `/`: float division loses precision at 1.7e18 ns
        # (duckdb truncates nanos -> micros; DIV matches exactly)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    if key is not None:
        # scan identity tag for relational._spread's partition-count
        # cache (round-17): the count for the same files at the same
        # parallelism is deterministic, so one exact probe per table
        # replaces a plan-to-RDD conversion on every query build
        df._wikihadoop_scan_stat = key
        frames[key] = df
    return df


class Tables:
    """Lazy per-query-table accessor: ``Tables(spark, sf_dir).lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        for name in names:
            getattr(self, name).createOrReplaceTempView(name)
