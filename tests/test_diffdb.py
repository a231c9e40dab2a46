"""End-to-end diffdb pipeline tests (SURVEY §7.1's minimum slice):
wikidump scan -> pairing -> filter -> diff -> project -> sink."""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from wikihadoop_spark.functions.diffs import apply_diff
from wikihadoop_spark.plans.diffdb import build_diffdb, write_diffdb_tsv
from wikihadoop_spark.sources.wikidump import BASE_SCHEMA_DDL, read_wikidump

from dump_fixtures import big_dump, standard_dump, write_dump

BASE_COLUMNS = [c.split()[0] for c in BASE_SCHEMA_DDL.split(", ")]


def _rows_key(df):
    return sorted(
        (
            r.rev_id, r.page_id, r.namespace, r.title, r.timestamp,
            r.beginningofpage,
            [(o.position, o.action, o.content) for o in r.ops],
        )
        for r in df.collect()
    )


def _diffdb(spark, tmp_path, **kwargs):
    path = write_dump(tmp_path, standard_dump())
    revisions = read_wikidump(spark, path)
    return build_diffdb(revisions, **kwargs)


def test_diffdb_schema_and_rows(spark, tmp_path):
    df = _diffdb(spark, tmp_path)
    rows = {r.rev_id: r for r in df.collect()}
    assert len(rows) == 8
    r = rows[101]
    assert r.page_id == 10 and r.namespace == 0 and r.title == "Fox Article"
    # epoch seconds (fileformat.rst:17): 2021-01-01T00:00:00Z
    assert r.timestamp == 1609459200
    assert r.beginningofpage is True
    # first revision diffs against the empty dummy -> one big insert
    assert len(r.ops) == 1 and r.ops[0].action == 1 and r.ops[0].position == 0

    # namespace-normalized title for Talk page (reference X3)
    assert rows[301].namespace == 1 and rows[301].title == "Fox Article"


def test_diffdb_reconstruction(spark, tmp_path):
    """apply(prev, ops) == curr across every revision chain — the D3
    invariant run through the full Spark pipeline."""
    path = write_dump(tmp_path, standard_dump())
    revisions = read_wikidump(spark, path)
    texts = {r.rev_id: (r.page_id, r.rev_seq, r.text) for r in revisions.collect()}
    df = build_diffdb(revisions)
    by_page: dict[int, list] = {}
    for r in df.collect():
        by_page.setdefault(r.page_id, []).append(r)
    for page_id, revs in by_page.items():
        revs.sort(key=lambda r: texts[r.rev_id][1])
        prev = ""
        for r in revs:
            ops = [(o.position, o.action, o.content) for o in r.ops]
            rebuilt = apply_diff(prev, ops)
            assert rebuilt == texts[r.rev_id][2], (page_id, r.rev_id)
            prev = rebuilt


def test_diffdb_exclude_filter(spark, tmp_path):
    df = _diffdb(spark, tmp_path, exclude_pages_with="^Talk:")
    ids = sorted(r.rev_id for r in df.collect())
    assert ids == [101, 102, 103, 104, 105, 201]


def test_diffdb_source_side_pairing_equivalent(spark, tmp_path):
    """The default plan (pairing and diff inside the scan) produces the
    rows of the declarative plan: window-lag pairing plus the Arrow
    diff UDF over the base revision columns."""
    path = write_dump(tmp_path, standard_dump())
    revs = read_wikidump(spark, path)
    via_window = build_diffdb(revs.select(*BASE_COLUMNS))
    assert _rows_key(build_diffdb(revs)) == _rows_key(via_window)


def test_tsv_sink_py2_repr(spark, tmp_path):
    """S7/X5/X6: compat TSV lines — 9 repr-escaped metadata fields then
    colon-joined op triples (fileformat.rst:6-27)."""
    df = _diffdb(spark, tmp_path)
    out = str(tmp_path / "out")
    write_diffdb_tsv(df, out, compression="gzip")
    lines = []
    for part in sorted(glob.glob(out + "/part-*.txt.gz")):
        with gzip.open(part, "rt") as fh:
            lines.extend(fh.read().splitlines())
    assert len(lines) == 8
    first = lines[0].split("\t")
    # rev_id, page_id, namespace, title, timestamp, comment, minor,
    # user_id, user_text, then ops
    assert first[0] == "101" and first[1] == "10" and first[2] == "0"
    # title is py2 BYTES repr (no u prefix) — fileformat.rst:7-9
    assert first[3] == "'Fox Article'"
    assert first[4] == "1609459200"
    assert first[5] == "u'create'" and first[6] == "False"
    assert first[7] == "7" and first[8] == "u'Editor'"
    assert first[9].startswith("0:1:u'The quick brown fox")
    # deleted comment -> None (fileformat.rst:8); deleted contributor
    # -> None user fields (row 104)
    row105 = next(l for l in lines if l.startswith("105\t")).split("\t")
    assert row105[5] == "None"
    row104 = next(l for l in lines if l.startswith("104\t")).split("\t")
    assert row104[7] == "None" and row104[8] == "None"


def test_grouped_pandas_formulation_equivalent(spark, tmp_path):
    """window-lag, source-side, and per-page applyInPandas pairing all
    produce the same diff rows (title normalization aside, which the
    grouped form skips by design)."""
    from wikihadoop_spark.plans.diffdb import build_diffdb_grouped

    path = write_dump(tmp_path, standard_dump())
    revs = read_wikidump(spark, path)

    def key(rows):
        return sorted(
            (
                r.rev_id,
                r.timestamp,
                r.beginningofpage,
                [(o.position, o.action, o.content) for o in r.ops],
            )
            for r in rows
        )

    a = key(build_diffdb(revs).collect())
    b = key(build_diffdb_grouped(revs).collect())
    assert a == b


def test_golden_bytes_vs_published_rows(spark, tmp_path):
    """Byte-for-byte conformance with the reference's PUBLISHED diffdb
    rows (fileformat.rst:7-9): reconstruct the three revisions from the
    published diffs, run them through the full pipeline, and require the
    emitted TSV lines to equal the published bytes exactly — py2 bytes
    repr for title, u-repr for comment/user, epoch seconds, canonical
    delete-before-insert op runs."""
    import datetime

    from wikihadoop_spark.plans.diffdb import diffdb_tsv_lines

    from dump_fixtures import page, rev

    def xml_escape(t: str) -> str:
        return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    ref = "/root/reference/fileformat.rst"
    if not os.path.exists(ref):
        # like test_reference_page_sample_golden: the published rows
        # ship with the reference checkout, not with this repo
        pytest.skip(
            "reference fileformat.rst not available: byte-conformance "
            "against the published rows is not checked"
        )
    raw_lines = open(ref, "rb").read().split(b"\n")
    # the published block has CRLF endings; the payload is the CR-less line
    published = [raw_lines[i].rstrip(b"\r").decode() for i in (6, 7, 8)]

    def parse(row):
        f = row.split("\t")
        ops = [
            (int(p), int(a), eval(c))  # published rows are py2 repr by contract
            for p, a, c in (op.split(":", 2) for op in f[9:])
        ]
        return f[:9], ops

    meta1, ops1 = parse(published[0])
    _, ops2 = parse(published[1])
    _, ops3 = parse(published[2])

    # reconstruct the revision texts by applying the published ops
    rev1 = ops1[0][2]
    rev2 = rev1[: ops2[0][0]] + ops2[0][2] + rev1[ops2[0][0] :]
    rm, ins = ops3[0], ops3[1]
    rev3 = rev2[: rm[0]] + ins[2] + rev2[rm[0] + len(rm[2]) :]

    def iso(epoch):
        return (
            datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ")
        )

    title = eval(meta1[3])  # py3 eval of the bytes-repr yields str here
    user = eval(published[0].split("\t")[8])
    uid = int(meta1[7])
    page_id = int(meta1[1])
    rev_ids = [int(r.split("\t")[0]) for r in published]
    epochs = [int(r.split("\t")[4]) for r in published]
    comments = [eval(r.split("\t")[5]) for r in published]

    revs = []
    for rid, ep, cm, text, parent in zip(
        rev_ids, epochs, comments, [rev1, rev2, rev3], [None] + rev_ids[:2]
    ):
        revs.append(
            rev(rid, iso(ep), xml_escape(text), user=user, uid=uid,
                comment=cm, parent=parent)
        )
    content = (
        "<mediawiki>\n  <siteinfo><sitename>W</sitename></siteinfo>\n"
        + page(page_id, title, 0, revs)
        + "</mediawiki>\n"
    )
    path = write_dump(tmp_path, content, "golden.xml")
    df = build_diffdb(read_wikidump(spark, path))
    lines = [
        r.line
        for r in diffdb_tsv_lines(df.orderBy("rev_id")).collect()
    ]
    assert lines == published


def test_in_source_diff_equivalent(spark, tmp_path):
    """The same equivalence over a bz2 dump of several blocks read in
    several splits: each page is paired and diffed inside the partition
    that owns it, across block and split boundaries."""
    import bz2

    path = tmp_path / "multi.xml.bz2"
    path.write_bytes(bz2.compress(big_dump(200, 6).encode(), 1))
    split = path.stat().st_size // 4
    revs = read_wikidump(spark, str(path), splitsize=str(split))
    assert revs.rdd.getNumPartitions() >= 4
    via_window = build_diffdb(revs.select(*BASE_COLUMNS))
    got = _rows_key(build_diffdb(revs))
    assert len(got) == 200 * 6
    assert got == _rows_key(via_window)


def test_epoch_timezone_invariant(spark, tmp_path):
    """The diffdb ``timestamp`` column is Unix epoch seconds of the
    dump's UTC wall-clock and must NOT depend on
    spark.sql.session.timeZone — unix_timestamp(cast('timestamp'))
    would shift every epoch by the session offset (the exact bug
    epoch_seconds_ntz exists to prevent)."""
    path = write_dump(tmp_path, standard_dump())

    def epochs():
        df = build_diffdb(read_wikidump(spark, path))
        return sorted((r.rev_id, r.timestamp) for r in df.collect())

    tz = spark.conf.get("spark.sql.session.timeZone")
    utc = epochs()
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert epochs() == utc
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        assert epochs() == utc  # non-whole-hour offset
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
