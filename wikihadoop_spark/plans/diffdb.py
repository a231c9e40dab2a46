"""The diffdb pipeline — the reference's one end-to-end dataflow,
declared as a DataFrame plan (SURVEY §7.1):

scan (wikidump source: decode, parse, pair P1, token diff D1)
-> regex page filter (F1) -> metadata projection (F2/X3/X4)
-> TSV sink (S7/X5/X6) in (page_id, rev_id) order (O2/O3): verified
   from the scan's own order, a global sort + dedup as the fallback.

Output schema is FIXTURES.md §3 / fileformat.rst:13-27: one row per
revision with 9 metadata fields + the diff-op array.  ``timestamp`` is
Unix epoch seconds (fileformat.rst:17); ``namespace``/``title`` come
from namespace-prefix normalization against a literal namespace map
(reference X3's in-mapper lookup table, revision_differ.py:94-117).

Scale notes:
- Pairing and diffing happen inside the scan, as in the reference's
  record reader and mapper: the owner rule keeps each page in one
  partition, so no text is shuffled and the diff runs on every scan
  task.
- The sink writes from the scan tasks when it is handed the unchanged
  ``build_diffdb(read_wikidump(...))`` frame: each task formats its
  partition's lines and writes its own part file in one Python pass,
  and returns a summary row (first and last key, whether its keys
  strictly increased).  A dump file lists pages in page-id order and
  each page lives in one partition, so the driver orders the parts by
  their first keys, checks that their key ranges do not overlap, and
  commits them by rename in that order: no shuffle, no sort, and the
  lines never enter the JVM.  File names need not follow page order
  (split dumps' ``-p10133p11053`` sorts before ``-p1p844``).  When the
  check fails, or the frame is any other, the global dedup + sort path
  runs (the reference's post-processing `sort -n -k2 -k1 -u`,
  fileformat.rst:39-41).
"""

from __future__ import annotations

import gzip
import os
import shutil
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.compat import py2_repr_bytes, py2_repr_value


def epoch_seconds_ntz(col: str) -> str:
    """SQL for the Unix epoch seconds of column ``col``, a
    ``timestamp_ntz`` holding UTC wall-clock (dump ``<timestamp>``
    fields are always UTC).  Computed ARITHMETICALLY from the tz-free
    fields so the value is identical on any cluster timezone —
    ``unix_timestamp(cast('timestamp'))`` would re-interpret the
    wall-clock in ``spark.sql.session.timeZone`` and shift every epoch
    off-UTC.  A SQL string, not a Column: one expression parse instead
    of a py4j round trip per function call.  ``epoch_seconds`` is the
    same value in Python."""
    return (
        f"CAST(unix_date(to_date({col})) AS BIGINT) * 86400"
        f" + hour({col}) * 3600 + minute({col}) * 60 + second({col})"
    )


_EPOCH = datetime(1970, 1, 1)
_SECOND = timedelta(seconds=1)


def epoch_seconds(ts: datetime | None) -> int | None:
    """``epoch_seconds_ntz`` for a wall-clock ``datetime``: whole
    seconds, floored, of its UTC wall-clock (an offset, if the dump
    carried one, is dropped as the scan's Arrow conversion drops it)."""
    if ts is None:
        return None
    return (ts.replace(tzinfo=None) - _EPOCH) // _SECOND


# MediaWiki namespace table (public standard namespace ids; the
# reference embeds the same map in its mapper metaXML,
# revision_differ.py:94-117).
NAMESPACES: dict[int, str] = {
    -2: "Media", -1: "Special", 0: "", 1: "Talk", 2: "User",
    3: "User talk", 4: "Wikipedia", 5: "Wikipedia talk", 6: "File",
    7: "File talk", 8: "MediaWiki", 9: "MediaWiki talk", 10: "Template",
    11: "Template talk", 12: "Help", 13: "Help talk", 14: "Category",
    15: "Category talk", 100: "Portal", 101: "Portal talk",
    108: "Book", 109: "Book talk",
}

# X3: namespace normalization via a literal id -> name map (ns id in
# the dump is authoritative; the prefix match recovers the bare title
# the way the reference's normalizeTitle does).  NORMALIZED_TITLE_SQL
# and normalize_title are the same rule, in SQL and in Python.
_NS_NAME_SQL = "try_element_at(map({}), ns)".format(
    ", ".join(f"{k}, '{v}'" for k, v in NAMESPACES.items())
)
NORMALIZED_TITLE_SQL = (
    f"CASE WHEN ns != 0 AND substring_index(title, ':', 1) = {_NS_NAME_SQL}"
    f" THEN substr(title, length({_NS_NAME_SQL}) + 2, {2**31 - 1})"
    " ELSE title END"
)


def normalize_title(ns: int | None, title: str | None) -> str | None:
    """``NORMALIZED_TITLE_SQL`` in Python."""
    name = NAMESPACES.get(ns) if ns else None
    if name is not None and title is not None and title.split(":", 1)[0] == name:
        return title[len(name) + 1 :]
    return title


# the TSV's metadata fields, in line order (fileformat.rst:13-25)
META_COLUMNS = [
    "rev_id", "page_id", "namespace", "title", "timestamp",
    "comment", "minor", "user_id", "user_text",
]


def build_diffdb(
    revisions: DataFrame,
    *,
    exclude_pages_with: str | None = None,
) -> DataFrame:
    """revisions (the wikidump source's schema, ``ops`` included) ->
    diffdb rows.

    The unchanged ``read_wikidump`` frame's planned scan is passed on to
    the result, so ``write_diffdb_tsv`` can write from the scan tasks.
    A title filter drops it: Java ``rlike`` and Python ``re`` are
    different regex dialects, so the sink must not re-run the filter.
    """
    scan = getattr(revisions, "_wikidump_scan", None)
    if exclude_pages_with:
        # F1: drop whole pages whose title matches
        revisions = revisions.filter(~F.col("title").rlike(exclude_pages_with))
        scan = None

    # The projection is SQL text: built from Column calls, each one a
    # py4j round trip, it cost ~600 round trips per build, against ~30.
    out = revisions.selectExpr(
        "rev_id",
        "page_id",
        "ns AS namespace",
        f"{NORMALIZED_TITLE_SQL} AS title",
        # X4: ISO-8601 -> Unix epoch seconds (fileformat.rst:17),
        # timezone-invariant (see epoch_seconds_ntz)
        f"{epoch_seconds_ntz('ts')} AS timestamp",
        "comment",
        "minor",
        "user_id",
        "user_text",
        "beginningofpage",
        "ops",
    )
    if scan is not None:
        out._wikidump_scan = scan
    return out


def format_line(meta, ops) -> str:
    """X5/X6: one TSV line — the 9 ``META_COLUMNS`` values, every one
    py2-repr-escaped, then each diff op as position:action:content
    (fileformat.rst:6-27).  ``ops`` yields (position, action, content).

    The title reprs as a py2 BYTE string — no u prefix — exactly as the
    published rows show (fileformat.rst:7-9); all other strings repr as
    py2 unicode."""
    title = meta[3]
    fields = [py2_repr_value(v) for v in meta[:3]]
    fields.append("None" if title is None else py2_repr_bytes(title))
    fields.extend(py2_repr_value(v) for v in meta[4:])
    fields.extend(
        f"{py2_repr_value(p)}:{py2_repr_value(a)}:{py2_repr_value(c)}"
        for p, a, c in ops
    )
    return "\t".join(fields)


def diffdb_tsv_lines(diffdb: DataFrame) -> DataFrame:
    """One ``line`` per diffdb row, formatted by ``format_line`` in one
    Arrow batch UDF: the sink's general path."""
    import pandas as pd

    int_cols = {"rev_id", "page_id", "namespace", "timestamp", "user_id"}

    def fmt(s):
        def norm(c: str, v):
            # Arrow->pandas turns nullable ints into float64 with NaN
            if v is None or (isinstance(v, float) and v != v):
                return None
            if c in int_cols:
                return int(v)
            return v

        def one(row: dict) -> str:
            ops = row["ops"]
            return format_line(
                [norm(c, row[c]) for c in META_COLUMNS],
                (
                    (op["position"], op["action"], op["content"])
                    # numpy array truthiness
                    for op in (ops if ops is not None else [])
                ),
            )

        # a struct column arrives as a pd.DataFrame under Arrow
        records = s.to_dict("records") if isinstance(s, pd.DataFrame) else s.tolist()
        return pd.Series([one(r) for r in records])

    fmt.__annotations__ = {"s": pd.Series, "return": pd.Series}
    fmt = F.pandas_udf(fmt, "string")

    packed = diffdb.select(F.struct(*META_COLUMNS, "ops").alias("row"))
    return packed.select(fmt("row").alias("line"))


# codecs the scan tasks write: the JVM text writer's gzip, or none
_TASK_CODECS = (None, "gzip")

_PART_SUMMARY_DDL = (
    "partition int, file string, rows long, pages long, first_page long,"
    " first_rev long, last_page long, last_rev long, ordered boolean"
)


def write_diffdb_tsv(
    diffdb: DataFrame,
    path: str,
    *,
    compression: str | None = "gzip",
) -> dict:
    """O1-O3 + S7: the diffdb rows as TSV lines in (page_id, rev_id)
    order, without duplicate keys, replacing the output at ``path``.

    The output is N part files ``part-NNNNN-<job>-c000.txt[.gz]`` plus
    ``_SUCCESS``; their concatenation in name order is the sorted TSV.

    From the scan tasks when ``diffdb`` is the unchanged
    ``build_diffdb(read_wikidump(...))`` frame, the path is on the
    driver's disk (``_task_output``) and the codec is gzip or none — if
    the tasks' summaries prove the order.  Otherwise the general path:
    a global ``dropDuplicates`` on ``rev_id``, a range-partitioned
    sort, and Spark's text writer.  On the task path there are no
    duplicate keys by the verified strict order, so a ``rev_id``
    repeated under two pages is written twice.

    Returns the counters (reference A1): ``written_revisions``,
    ``written_pages`` and ``path`` (``"scan_tasks"`` or ``"sorted"``).
    Both paths count as pages the rows that begin a page, so a page
    split across two dump files counts once per file."""
    scan = getattr(diffdb, "_wikidump_scan", None)
    if scan is not None and compression in _TASK_CODECS:
        out = _task_output(diffdb.sparkSession, path)
        if out is not None:
            counts = _write_from_scan(
                diffdb.sparkSession, scan, out, compression is not None
            )
            if counts is not None:
                return counts
    return _write_sorted(diffdb, path, compression)


def _task_output(spark, path: str) -> str | None:
    """The local directory Spark's writer resolves ``path`` to, when
    the scan tasks can write there themselves; else None.  They can
    when the master is local (every executor shares the driver's disk)
    and the path's file system is ``file`` — a path without a scheme
    takes ``fs.defaultFS``'s, as Spark resolves it, and a relative one
    the JVM's working directory.  The default file system's scheme is
    read from the configuration: nothing is instantiated for another
    file system."""
    if not spark.sparkContext.master.startswith("local"):
        return None
    fs = spark._jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    p = fs.Path(path)
    scheme = p.toUri().getScheme() or fs.FileSystem.getDefaultUri(conf).getScheme()
    if scheme != "file":
        return None
    return p.getFileSystem(conf).makeQualified(p).toUri().getPath()


def sorted_tsv_lines(diffdb: DataFrame):
    """The general path's lines: a global ``dropDuplicates`` on
    ``rev_id``, a range-partitioned sort on (page_id, rev_id), then
    ``diffdb_tsv_lines``; with the ``Observation`` that counts them."""
    from pyspark.sql import Observation

    obs = Observation()
    rows = (
        diffdb.dropDuplicates(["rev_id"])
        # ordering columns must ride along under the formatted lines,
        # so sort the typed rows and format after
        .orderBy("page_id", "rev_id")
        .observe(
            obs,
            F.expr("count(1) AS written_revisions"),
            # observe() forbids DISTINCT aggregates; a page's first
            # revision is the one that begins it
            F.expr("count_if(beginningofpage) AS written_pages"),
        )
    )
    return diffdb_tsv_lines(rows), obs


def _write_sorted(diffdb: DataFrame, path: str, compression: str | None) -> dict:
    lines, obs = sorted_tsv_lines(diffdb)
    writer = lines.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)
    return {**obs.get, "path": "sorted"}


def write_scan_parts(spark, scan, staging: str, compress: bool) -> DataFrame:
    """One task per scan partition: read, pair and diff the partition
    (``WikidumpReader.rows``), write its TSV lines to
    ``<staging>/part-<p>-a<attempt>`` (gzip level 6, the JVM codec's),
    and return one ``_PART_SUMMARY_DDL`` row.  A task stops writing at
    the first key that does not strictly increase; its row then says
    ``ordered = false``."""
    from pyspark.sql.types import StructType

    reader, parts = scan.reader, scan.parts
    # parsed here: a DDL parse needs the JVM
    struct = StructType.fromDDL(_PART_SUMMARY_DDL)

    def write(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(struct)
        attempt = TaskContext.get().attemptNumber()
        for b in batches:
            for p in b.column(0).to_pylist():
                file = os.path.join(staging, f"part-{p:05d}-a{attempt}")
                summary = _write_part(reader.rows(parts[p]), file, compress)
                yield pa.RecordBatch.from_pylist(
                    [{"partition": p, "file": file, **summary}], schema=schema
                )

    # imported here: Python workers import this package's plans for
    # other pipelines' UDFs, and need not load the dump reader for them
    from ..sources.wikidump import partition_seed

    return partition_seed(spark, len(parts)).mapInArrow(write, struct)


def _write_part(rows, file: str, compress: bool) -> dict:
    n = pages = 0
    first = last = None
    ordered = True
    lines: list[str] = []
    with open(file, "wb") as raw:
        fh = (
            gzip.GzipFile(filename="", mode="wb", compresslevel=6, fileobj=raw, mtime=0)
            if compress
            else raw
        )
        for row in rows:
            key = (row["page_id"], row["rev_id"])
            if None in key or (last is not None and key <= last):
                ordered = False
                break
            pages += bool(row["beginningofpage"])
            first = first or key
            last = key
            n += 1
            ns = row["ns"]
            lines.append(format_line(
                (
                    key[1], key[0], ns, normalize_title(ns, row["title"]),
                    epoch_seconds(row["ts"]), row["comment"], row["minor"],
                    row["user_id"], row["user_text"],
                ),
                row["ops"],
            ))
            if len(lines) >= 1024:
                fh.write(("\n".join(lines) + "\n").encode())
                lines.clear()
        if lines:
            fh.write(("\n".join(lines) + "\n").encode())
        fh.close()
    first, last = first or (None, None), last or (None, None)
    return {
        "rows": n, "pages": pages, "first_page": first[0], "first_rev": first[1],
        "last_page": last[0], "last_rev": last[1], "ordered": ordered,
    }


def _write_from_scan(spark, scan, out: str, compress: bool) -> dict | None:
    """Run ``write_scan_parts``, verify the summaries and commit the
    parts in key order; None (nothing left at ``out``) when the order
    does not hold."""
    job = uuid.uuid4().hex
    temporary = os.path.join(out, "_temporary")
    staging = os.path.join(temporary, job)
    _remove(out)  # mode("overwrite")
    os.makedirs(staging)
    try:
        parts = write_scan_parts(spark, scan, staging, compress).collect()
    except BaseException:
        shutil.rmtree(temporary, ignore_errors=True)
        raise
    order = _commit_order(parts, len(scan.parts))
    if order is None:
        _remove(out)
        return None
    ext = ".txt.gz" if compress else ".txt"
    for i, r in enumerate(order):
        # exactly the files the collected rows name: a failed or
        # speculative attempt's file stays behind and is removed
        os.replace(r.file, os.path.join(out, f"part-{i:05d}-{job}-c000{ext}"))
    shutil.rmtree(temporary)
    open(os.path.join(out, "_SUCCESS"), "wb").close()
    return {
        "written_revisions": sum(r.rows for r in parts),
        "written_pages": sum(r.pages for r in parts),
        "path": "scan_tasks",
    }


def _commit_order(parts, n: int):
    """The summaries in the order their parts concatenate to one strict
    (page_id, rev_id) order — the non-empty ones by first key, then the
    empty ones — or None.  That order exists when every partition
    reported once, each in strict order with its staged file visible
    here, and no two parts' key ranges overlap; partition order, which
    is file-name order, does not matter."""
    if sorted(r.partition for r in parts) != list(range(n)):
        return None
    if not all(r.ordered and os.path.isfile(r.file) for r in parts):
        return None
    written = sorted((r for r in parts if r.rows), key=lambda r: (r.first_page, r.first_rev))
    for a, b in zip(written, written[1:]):
        if (a.last_page, a.last_rev) >= (b.first_page, b.first_rev):
            return None
    return written + [r for r in parts if not r.rows]


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)
