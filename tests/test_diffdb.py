"""End-to-end diffdb pipeline tests (SURVEY §7.1's minimum slice):
wikidump scan -> pairing -> filter -> diff -> project -> sink."""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from wikihadoop_spark.functions.diffs import apply_diff
from wikihadoop_spark.plans import diffdb as diffdb_plan
from wikihadoop_spark.plans.diffdb import build_diffdb, write_diffdb_tsv
from wikihadoop_spark.sources.wikidump import read_wikidump

from diffdb_oracle import with_window_ops
from dump_fixtures import big_dump, namespace_dump, page, rev, standard_dump, write_dump


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
    via_window = build_diffdb(with_window_ops(revs))
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
    via_window = build_diffdb(with_window_ops(revs))
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


# ---- the sink: task-written parts vs the global sort ----------------------


def _tsv(out: str) -> bytes:
    """The output's lines: its part files, gunzipped, in name order."""
    data = b""
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        opener = gzip.open if part.endswith(".gz") else open
        with opener(part, "rb") as fh:
            data += fh.read()
    return data


def _rev_ids(data: bytes) -> list[int]:
    return [int(line.split(b"\t", 1)[0]) for line in data.splitlines()]


def _ordered_pages(n: int) -> list[str]:
    """``big_dump``'s <page> blocks, in page-id order."""
    body = big_dump(n, 3)
    pages = body[body.index("  <page>") : body.rindex("</mediawiki>")]
    return ["  <page>" + b for b in pages.split("  <page>")[1:]]


def _dump(blocks: list[str]) -> str:
    return (
        "<mediawiki>\n  <siteinfo><sitename>S</sitename></siteinfo>\n"
        + "".join(blocks)
        + "</mediawiki>\n"
    )


def _split_history_files() -> dict[str, str]:
    """Pages 1-39 in four bz2 files named as Wikimedia names its split
    history dumps: sorted as strings, the names are out of page order
    (``-p10p19`` before ``-p1p9``, ``history10`` before ``history2``).
    Page 19 is split across two files, its rev_ids still rising."""

    def revs(p):
        return [rev(p * 10 + r, f"2022-02-0{r + 1}T00:00:00Z", f"p{p}" + " y" * r)
                for r in range(3)]

    def pages(ids):
        return [page(p, f"P{p}", 0, revs(p)) for p in ids]

    return {
        "wiki-history1.xml-p1p9": _dump(pages(range(1, 10))),
        "wiki-history1.xml-p10p19": _dump(
            pages(range(10, 19)) + [page(19, "P19", 0, revs(19)[:2])]
        ),
        "wiki-history2.xml-p19p29": _dump(
            [page(19, "P19", 0, revs(19)[2:])] + pages(range(20, 30))
        ),
        "wiki-history10.xml-p30p39": _dump(pages(range(30, 40))),
    }


@pytest.mark.parametrize(
    "fixture, split",
    [
        (standard_dump, None),
        (lambda: big_dump(200, 6), 8192),
        (namespace_dump, 2048),
        (_split_history_files, None),
    ],
    ids=["standard", "big", "namespaces", "split_history_files"],
)
def test_task_parts_equal_sorted_path(spark, tmp_path, fixture, split):
    """The scan tasks' part files and the global dedup + sort path
    write the same bytes and counts: one formatter, the Python title
    and epoch rendering equal to the SQL projection's, and parts
    committed in key order whatever order the file names sort in."""
    opts = {"splitsize": str(split)} if split else {}
    content = fixture()
    if isinstance(content, dict):
        (tmp_path / "in").mkdir()
        for name, body in content.items():
            write_dump(tmp_path / "in", body, name, compress="bz2")
        src = str(tmp_path / "in" / "*.bz2")
    else:
        src = write_dump(tmp_path, content)
    revs = read_wikidump(spark, src, **opts)
    fast, slow = str(tmp_path / "fast"), str(tmp_path / "slow")
    got = write_diffdb_tsv(build_diffdb(revs), fast)
    # a transformed frame does not carry the scan: the sorted path
    want = write_diffdb_tsv(build_diffdb(revs).select("*"), slow)
    assert (got["path"], want["path"]) == ("scan_tasks", "sorted")
    assert got["written_revisions"] == want["written_revisions"] > 0
    assert got["written_pages"] == want["written_pages"]
    assert _tsv(fast) == _tsv(slow)
    parts = sorted(os.listdir(fast))
    assert parts[0] == "_SUCCESS"
    assert len(parts) - 1 == revs.rdd.getNumPartitions()


def test_python_title_and_epoch_match_sql(spark, tmp_path):
    """normalize_title and epoch_seconds against the SQL projection,
    value for value, over the namespace edge cases."""
    from wikihadoop_spark.plans.diffdb import epoch_seconds, normalize_title

    revs = read_wikidump(spark, write_dump(tmp_path, namespace_dump()))
    raw = {r.rev_id: r for r in revs.collect()}
    rows = build_diffdb(revs).collect()
    assert len(rows) == len(raw) == 42
    for r in rows:
        src = raw[r.rev_id]
        assert normalize_title(src.ns, src.title) == r.title, (src.ns, src.title)
        assert epoch_seconds(src.ts) == r.timestamp, src.ts
    titles = {r.page_id: r.title for r in rows}
    assert titles[1] == "Fox Article" and titles[2] == "Editor/Archive 1"
    assert titles[3] == "Topic:Unknown space"  # unknown ns: kept
    assert titles[4] == "" and titles[5] == ""  # title == its prefix
    assert titles[7] == "NoColonAtAll" and titles[9] == "Talk:Not stripped in main"
    assert any(r.timestamp is None for r in rows)


def test_diffdb_sink_is_one_job(spark, tmp_path):
    """On an ordered dump the whole write is the scan job: one job,
    one task per partition."""
    revs = read_wikidump(spark, write_dump(tmp_path, big_dump(60, 3)), splitsize="4096")
    diffdb = build_diffdb(revs)
    sc = spark.sparkContext
    sc.setJobGroup("diffdb-sink-jobs", "diffdb sink")
    try:
        assert write_diffdb_tsv(diffdb, str(tmp_path / "out"))["path"] == "scan_tasks"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (job,) = sc.statusTracker().getJobIdsForGroup("diffdb-sink-jobs")
    stages = sc.statusTracker().getJobInfo(job).stageIds
    assert len(stages) == 1
    info = sc.statusTracker().getStageInfo(stages[0])
    assert info.numTasks == revs.rdd.getNumPartitions() > 1


@pytest.mark.parametrize(
    "order, path",
    [("shuffled", "sorted"), ("halves_swapped", "sorted"), ("files_swapped", "scan_tasks")],
)
def test_page_order_across_and_within_partitions(spark, tmp_path, order, path):
    """Pages out of page-id order inside a partition — shuffled, or the
    dump's two halves swapped, which leaves one partition holding the
    seam — fail the tasks' check and take the sorted path.  Two files
    whose names sort against page order are committed in key order
    from the tasks.  Either way the output equals the ordered dump's."""
    import random

    blocks = _ordered_pages(40)
    (tmp_path / "in").mkdir()
    if order == "files_swapped":
        write_dump(tmp_path / "in", _dump(blocks[20:]), "a.xml")
        write_dump(tmp_path / "in", _dump(blocks[:20]), "b.xml")
    else:
        moved = blocks[:]
        if order == "shuffled":
            random.Random(7).shuffle(moved)
        else:
            moved = blocks[20:] + blocks[:20]
        write_dump(tmp_path / "in", _dump(moved), "a.xml")
    ordered = write_dump(tmp_path, _dump(blocks), "ordered.xml")
    want = write_diffdb_tsv(
        build_diffdb(read_wikidump(spark, ordered, splitsize="8192")), str(tmp_path / "a")
    )
    revs = read_wikidump(spark, str(tmp_path / "in" / "*.xml"), splitsize="8192")
    got = write_diffdb_tsv(build_diffdb(revs), str(tmp_path / "b"))
    assert (want["path"], got["path"]) == ("scan_tasks", path)
    assert _tsv(str(tmp_path / "b")) == _tsv(str(tmp_path / "a"))
    assert got["written_pages"] == want["written_pages"] == 40


def test_task_output_follows_default_file_system(spark, tmp_path, monkeypatch):
    """A path without a scheme is resolved against ``fs.defaultFS``, as
    Spark's writer resolves it: on another default file system, or
    under a non-local master, the scan tasks do not write, and a
    driver-local directory of that name is left alone."""
    diffdb = build_diffdb(read_wikidump(spark, write_dump(tmp_path, standard_dump())))
    (tmp_path / "out").mkdir()
    (tmp_path / "out" / "keep").write_text("x")
    monkeypatch.chdir(tmp_path)
    sorted_writes = []

    def write_sorted(df, path, compression):
        sorted_writes.append(path)
        return {"path": "sorted"}

    monkeypatch.setattr(diffdb_plan, "_write_sorted", write_sorted)
    conf = spark._jsc.hadoopConfiguration()
    default_fs = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://localhost:1/")
    try:
        assert write_diffdb_tsv(diffdb, "out")["path"] == "sorted"
        assert write_diffdb_tsv(diffdb, str(tmp_path / "out"))["path"] == "sorted"
    finally:
        conf.set("fs.defaultFS", default_fs)
    uri = "file://" + str(tmp_path / "uri")
    assert write_diffdb_tsv(diffdb, uri)["path"] == "scan_tasks"
    assert _rev_ids(_tsv(str(tmp_path / "uri")))[0] == 101
    monkeypatch.setattr(spark.sparkContext, "master", "yarn")
    assert write_diffdb_tsv(diffdb, uri)["path"] == "sorted"
    assert sorted_writes == ["out", str(tmp_path / "out"), uri]
    assert (tmp_path / "out" / "keep").read_text() == "x"


def test_key_repeated_across_split_boundary_takes_sorted_path(spark, tmp_path):
    """Two files, the second opening with the last revision of the page
    the first ends with: partition i's last key equals partition i+1's
    first.  The check needs a strict increase, so the sorted path runs
    and its global dedup writes that revision once."""

    def revs(p, n=3):
        return [rev(p * 10 + r, f"2022-01-0{r + 1}T00:00:00Z", f"p{p}" + " x" * r)
                for r in range(n)]

    (tmp_path / "d").mkdir()
    write_dump(tmp_path / "d", _dump([page(p, f"P{p}", 0, revs(p)) for p in range(1, 7)]), "a.xml")
    write_dump(
        tmp_path / "d",
        _dump([page(6, "P6", 0, revs(6)[-1:])] + [page(p, f"P{p}", 0, revs(p)) for p in range(7, 10)]),
        "b.xml",
    )
    got = write_diffdb_tsv(
        build_diffdb(read_wikidump(spark, str(tmp_path / "d" / "*.xml"))), str(tmp_path / "o")
    )
    assert got["path"] == "sorted"
    assert _rev_ids(_tsv(str(tmp_path / "o"))) == [p * 10 + r for p in range(1, 10) for r in range(3)]


def test_rev_id_under_two_pages_is_kept_twice(spark, tmp_path):
    """The dedup rule: the task path has no repeated (page_id, rev_id)
    by its verified strict order, so one rev_id under two different
    pages is two rows.  The sorted path keeps today's global dedup on
    rev_id and writes one of them."""
    content = _dump([
        page(10, "A", 0, [rev(101, "2021-01-01T00:00:00Z", "a"),
                          rev(102, "2021-01-02T00:00:00Z", "a b")]),
        page(20, "B", 0, [rev(102, "2021-01-03T00:00:00Z", "c"),
                          rev(201, "2021-01-04T00:00:00Z", "c d")]),
    ])
    revs = read_wikidump(spark, write_dump(tmp_path, content))
    fast = write_diffdb_tsv(build_diffdb(revs), str(tmp_path / "fast"))
    slow = write_diffdb_tsv(build_diffdb(revs).select("*"), str(tmp_path / "slow"))
    assert fast["path"] == "scan_tasks"
    assert _rev_ids(_tsv(str(tmp_path / "fast"))) == [101, 102, 102, 201]
    assert slow["written_revisions"] == 3
    assert sorted(_rev_ids(_tsv(str(tmp_path / "slow")))) == [101, 102, 201]


def test_stale_attempt_files_are_never_committed(spark, tmp_path, monkeypatch):
    """Only the files the collected summaries name are committed: a
    losing attempt's file in the job's staging directory, and whatever
    an earlier write left at the path, are gone afterwards."""
    revs = read_wikidump(spark, write_dump(tmp_path, big_dump(30, 3)), splitsize="8192")
    out = tmp_path / "out"
    (out / "_temporary" / "old").mkdir(parents=True)
    (out / "_temporary" / "old" / "part-00000-a0").write_bytes(gzip.compress(b"old\n"))
    (out / "part-00009-old-c000.txt.gz").write_bytes(gzip.compress(b"older\n"))

    real = diffdb_plan.write_scan_parts

    def with_stale_attempt(spark, scan, staging, compress):
        with gzip.open(os.path.join(staging, "part-00000-a7"), "wb") as fh:
            fh.write(b"stale attempt\n")
        return real(spark, scan, staging, compress)

    monkeypatch.setattr(diffdb_plan, "write_scan_parts", with_stale_attempt)
    got = write_diffdb_tsv(build_diffdb(revs), str(out))
    assert got["path"] == "scan_tasks"
    n = revs.rdd.getNumPartitions()
    names = sorted(os.listdir(out))
    assert names[0] == "_SUCCESS" and len(names) == n + 1
    assert all(f.startswith("part-") and f.endswith("-c000.txt.gz") for f in names[1:])
    data = _tsv(str(out))
    assert b"stale" not in data and b"old" not in data
    assert len(data.splitlines()) == got["written_revisions"] == 90


def test_uncompressed_and_other_codecs(spark, tmp_path):
    """No codec is written by the tasks as plain .txt parts; a codec
    Python does not write takes the sorted path."""
    revs = read_wikidump(spark, write_dump(tmp_path, standard_dump()))
    plain = write_diffdb_tsv(build_diffdb(revs), str(tmp_path / "plain"), compression=None)
    other = write_diffdb_tsv(build_diffdb(revs), str(tmp_path / "bz"), compression="bzip2")
    assert (plain["path"], other["path"]) == ("scan_tasks", "sorted")
    assert glob.glob(str(tmp_path / "plain" / "part-*.txt"))
    import bz2

    bz_data = b"".join(
        bz2.decompress(open(p, "rb").read())
        for p in sorted(glob.glob(str(tmp_path / "bz" / "part-*")))
    )
    assert _tsv(str(tmp_path / "plain")) == bz_data


def test_title_filter_takes_sorted_path(spark, tmp_path):
    """A title filter is Java regex over the projected rows: the scan
    tasks must not write around it."""
    revs = read_wikidump(spark, write_dump(tmp_path, standard_dump()))
    got = write_diffdb_tsv(
        build_diffdb(revs, exclude_pages_with="^Talk:"), str(tmp_path / "out")
    )
    assert got["path"] == "sorted"
    assert _rev_ids(_tsv(str(tmp_path / "out"))) == [101, 102, 103, 104, 105, 201]
