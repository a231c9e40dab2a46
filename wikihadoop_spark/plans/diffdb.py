"""The diffdb pipeline — the reference's one end-to-end dataflow,
declared as a DataFrame plan (SURVEY §7.1):

scan (wikidump source: decode, parse, pair P1, token diff D1)
-> regex page filter (F1) -> metadata projection (F2/X3/X4)
-> sort + dedup (O2/O3) -> TSV sink (S7/X5/X6).

Output schema is FIXTURES.md §3 / fileformat.rst:13-27: one row per
revision with 9 metadata fields + the diff-op array.  ``timestamp`` is
Unix epoch seconds (fileformat.rst:17); ``namespace``/``title`` come
from namespace-prefix normalization against a literal namespace map
(reference X3's in-mapper lookup table, revision_differ.py:94-117).

Scale notes:
- Pairing and diffing happen inside the scan, as in the reference's
  record reader and mapper: the owner rule keeps each page in one
  partition, so no text is shuffled and the diff runs on every scan
  task.  A frame without ``ops`` (e.g. a projection of the base
  revision columns) is paired by a window ``lag`` and diffed by an
  Arrow UDF instead — the declarative reference the tests compare
  against.
- The only Python after the scan is the TSV formatter at the sink.
- Counters (reference A1) ride on ``observe`` — no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.diffs import diff_ops_udf
from ..operators.pairing import pair_with_previous

def epoch_seconds_ntz(col: str) -> str:
    """SQL for the Unix epoch seconds of column ``col``, a
    ``timestamp_ntz`` holding UTC wall-clock (dump ``<timestamp>``
    fields are always UTC).  Computed ARITHMETICALLY from the tz-free
    fields so the value is identical on any cluster timezone —
    ``unix_timestamp(cast('timestamp'))`` would re-interpret the
    wall-clock in ``spark.sql.session.timeZone`` and shift every epoch
    off-UTC.  A SQL string, not a Column: one expression parse instead
    of a py4j round trip per function call."""
    return (
        f"CAST(unix_date(to_date({col})) AS BIGINT) * 86400"
        f" + hour({col}) * 3600 + minute({col}) * 60 + second({col})"
    )


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


def build_diffdb(
    revisions: DataFrame,
    *,
    exclude_pages_with: str | None = None,
) -> DataFrame:
    """revisions (wikidump source schema) -> diffdb rows.

    The source's ``ops`` are used when the frame has them; otherwise
    the frame is paired here (unless it already has
    ``beginningofpage``) and diffed by the Arrow UDF.
    """
    if exclude_pages_with:
        # F1: drop whole pages whose title matches
        revisions = revisions.filter(~F.col("title").rlike(exclude_pages_with))

    if "ops" not in revisions.columns:
        if "beginningofpage" not in revisions.columns:
            revisions = pair_with_previous(
                revisions,
                partition_by=["page_id"],
                order_by=["rev_seq"],
                cols=["text", "rev_id"],
                fill={"text": ""},
                first_flag="beginningofpage",
            )
        revisions = revisions.withColumn(
            "ops", diff_ops_udf()(F.col("prev_text"), F.col("text"))
        )

    # The projection is SQL text: built from Column calls, each one a
    # py4j round trip, it cost ~600 round trips per build, against ~30.
    # X3: namespace normalization via a literal id -> name map (ns id
    # in the dump is authoritative; the prefix match recovers the bare
    # title the way the reference's normalizeTitle does)
    ns_name = "try_element_at(map({}), ns)".format(
        ", ".join(f"{k}, '{v}'" for k, v in NAMESPACES.items())
    )
    out = revisions.selectExpr(
        "rev_id",
        "page_id",
        "ns AS namespace",
        f"CASE WHEN ns != 0 AND substring_index(title, ':', 1) = {ns_name}"
        f" THEN substr(title, length({ns_name}) + 2, {2**31 - 1})"
        " ELSE title END AS title",
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

    # A1 counters as observed metrics (no extra pass)
    return out.observe(
        "diffdb_metrics",
        F.expr("count(1) AS written_revisions"),
        # observe() forbids DISTINCT aggregates; the HLL sketch is the
        # right counter at scale anyway
        F.expr("approx_count_distinct(page_id) AS written_pages"),
    )


def diffdb_tsv_lines(diffdb: DataFrame) -> DataFrame:
    """X5/X6: one TSV line per revision, every value py2-repr-escaped
    and each diff op joined as position:action:content
    (fileformat.rst:6-27).  Python formatting runs in one Arrow batch
    UDF at the sink only — conformance mode, not the native output."""
    import pandas as pd
    from ..functions.compat import py2_repr_bytes, py2_repr_value

    meta_cols = [
        "rev_id", "page_id", "namespace", "title", "timestamp",
        "comment", "minor", "user_id", "user_text",
    ]

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
            # title reprs as a py2 BYTE string — no u prefix — exactly
            # as the published rows show (fileformat.rst:7-9); all other
            # strings repr as py2 unicode
            fields = [
                py2_repr_bytes(t)
                if c == "title" and (t := norm(c, row[c])) is not None
                else py2_repr_value(norm(c, row[c]))
                for c in meta_cols
            ]
            ops = row["ops"]
            for op in ops if ops is not None else []:  # numpy array truthiness
                fields.append(
                    ":".join(
                        (
                            py2_repr_value(op["position"]),
                            py2_repr_value(op["action"]),
                            py2_repr_value(op["content"]),
                        )
                    )
                )
            return "\t".join(fields)

        # a struct column arrives as a pd.DataFrame under Arrow
        records = s.to_dict("records") if isinstance(s, pd.DataFrame) else s.tolist()
        return pd.Series([one(r) for r in records])

    fmt.__annotations__ = {"s": pd.Series, "return": pd.Series}
    fmt = F.pandas_udf(fmt, "string")

    packed = diffdb.select(
        F.struct(*meta_cols, "ops").alias("row")
    )
    return packed.select(fmt("row").alias("line"))


def write_diffdb_tsv(
    diffdb: DataFrame,
    path: str,
    *,
    sort: bool = True,
    dedup: bool = True,
    compression: str | None = "gzip",
) -> None:
    """O1-O3 + S7: global (page_id, rev_id) order via range partitioning
    (sort-shuffle replaces the reference's single-node `sort -n -k2 -k1
    -u`, fileformat.rst:39-41), structural dedup, compressed text sink."""
    df = diffdb
    if dedup:
        df = df.dropDuplicates(["rev_id"])
    if sort:
        # ordering columns must ride along under the formatted lines,
        # so sort the typed rows and format after
        df = df.orderBy("page_id", "rev_id")
    lines = diffdb_tsv_lines(df)
    writer = lines.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def build_diffdb_grouped(revisions: DataFrame) -> DataFrame:
    """Alternative diffdb formulation: per-page applyInPandas — the
    direct analog of the reference's streaming mapper (one process
    sees one page's revisions in order and emits diffdb rows,
    revision_differ.py:131-165).

    Tests assert it agrees with the in-scan pairing.  It shuffles each
    page's rows to one task, then runs the whole pair+diff loop in
    Python — simplest to extend when the per-page logic outgrows SQL
    (the reference's extension story), at the cost of a text shuffle.
    """
    import pandas as pd

    from ..functions.diffs import token_diff

    out_schema = (
        "rev_id long, page_id long, namespace int, title string, "
        "timestamp long, comment string, minor boolean, user_id long, "
        "user_text string, beginningofpage boolean, "
        "ops array<struct<position:bigint, action:int, content:string>>"
    )

    def per_page(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rev_seq")
        rows = []
        prev_text = ""
        first = True
        # itertuples, not iterrows: no per-row Series construction
        for r in pdf.itertuples(index=False):
            text = r.text or ""
            ts = r.ts
            # pd.notna: a missing <timestamp> arrives as NaT, and
            # `NaT is not None` is True while NaT.timestamp() raises
            epoch = int(ts.timestamp()) if pd.notna(ts) else None
            rows.append(
                {
                    "rev_id": r.rev_id,
                    "page_id": r.page_id,
                    "namespace": r.ns,
                    "title": r.title,
                    "timestamp": epoch,
                    "comment": r.comment,
                    "minor": bool(r.minor),
                    "user_id": r.user_id,
                    "user_text": r.user_text,
                    "beginningofpage": first,
                    "ops": list(token_diff(prev_text, text)),
                }
            )
            prev_text = text
            first = False
        return pd.DataFrame(rows)

    return revisions.groupBy("page_id").applyInPandas(per_page, out_schema)
