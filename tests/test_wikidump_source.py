"""wikidump DataSource conformance tests.

Ports the reference's test invariants (SURVEY §5): golden record
content, exclude-filter semantics, split invariance across partition
sizes, bz2 input, contributor/comment null semantics.
"""

from __future__ import annotations

import os

import pytest

from wikihadoop_spark.sources.wikidump import read_wikidump

from dump_fixtures import (
    EXPECTED_REV_IDS,
    big_dump,
    standard_dump,
    write_dump,
)


def _read(spark, path, **opts):
    return read_wikidump(spark, path, **opts)


def test_golden_parse(spark, tmp_path):
    path = write_dump(tmp_path, standard_dump())
    rows = {r.rev_id: r for r in _read(spark, path).collect()}
    assert sorted(rows) == EXPECTED_REV_IDS

    r101 = rows[101]
    assert (r101.page_id, r101.title, r101.ns) == (10, "Fox Article", 0)
    assert r101.rev_seq == 1 and r101.comment == "create"
    assert r101.user_id == 7 and r101.user_text == "Editor"
    assert r101.text.startswith("The quick brown fox")
    assert str(r101.ts) == "2021-01-01 00:00:00"

    # anonymous contributor: ip carried, no user_id (fileformat.rst:20-21)
    r102 = rows[102]
    assert r102.user_id is None and r102.user_ip == "10.0.0.1"
    assert r102.user_text == "10.0.0.1" and r102.parent_id == 101

    # minor flag presence (page_sample-style <minor/>)
    assert rows[103].minor is True and rows[101].minor is False

    # deleted contributor -> all three null (revision_differ.py:143-148)
    r104 = rows[104]
    assert r104.user_id is None and r104.user_text is None and r104.user_ip is None

    # deleted comment -> null comment
    assert rows[105].comment is None
    # entity unescape in text
    assert "&" in rows[105].text and "&amp;" not in rows[105].text

    # single-revision page
    assert rows[201].rev_seq == 1 and rows[201].title == "Lonely Page"
    # namespace page
    assert rows[301].ns == 1 and rows[301].title == "Talk:Fox Article"


def test_deleted_contributor_keeps_visible_comment():
    """<contributor deleted="deleted"/> precedes <comment> in dump order
    and must null the user fields ONLY — a visible comment survives
    (regression: the deleted marker was matched against bytes before
    the <comment> tag)."""
    from wikihadoop_spark.sources.wikidump import _parse_revision

    frag = (
        b"<id>42</id>\n<timestamp>2021-01-01T00:00:00Z</timestamp>\n"
        b'<contributor deleted="deleted" />\n'
        b"<comment>still visible</comment>\n"
        b'<text xml:space="preserve">body</text>\n'
    )
    row = _parse_revision(frag, want_text=True)
    assert row["user_id"] is None and row["user_text"] is None
    assert row["comment"] == "still visible"

    # and a genuinely deleted comment still nulls
    frag2 = frag.replace(
        b"<comment>still visible</comment>", b'<comment deleted="deleted" />'
    )
    assert _parse_revision(frag2, want_text=True)["comment"] is None


def test_numeric_character_references(spark, tmp_path):
    """&#NNN; / &#xHH; decode in title and text; '&amp;#160;' (a literal
    '&#160;' in the wikitext) must survive as the six literal chars."""
    from wikihadoop_spark.sources.wikidump import _unescape

    assert _unescape(b"A&#160;B") == "A B"
    assert _unescape(b"em&#x2014;dash") == "em—dash"
    assert _unescape(b"lit &amp;#160; eral") == "lit &#160; eral"
    assert _unescape(b"bad &#xDFFF; ref") == "bad &#xDFFF; ref"
    assert _unescape(b"bad &#0; &#1114112; refs") == "bad &#0; &#1114112; refs"
    # single-pass: decoded output is never rescanned — &#38; is a
    # literal '&', so '&#38;lt;' is the literal text '&lt;', NOT '<'
    assert _unescape(b"&#38;lt;") == "&lt;"
    assert _unescape(b"&amp;lt;") == "&lt;"
    assert _unescape(b"a &lt;b&gt; &quot;c&quot; &#039;d&#039; &amp;") == "a <b> \"c\" 'd' &"

    dump = (
        "<mediawiki>\n<siteinfo><sitename>T</sitename></siteinfo>\n"
        "  <page>\n    <title>NBSP&#160;Title</title>\n    <ns>0</ns>\n"
        "    <id>1</id>\n"
        "    <revision>\n      <id>11</id>\n"
        "      <timestamp>2021-01-01T00:00:00Z</timestamp>\n"
        "      <contributor><username>E</username><id>1</id></contributor>\n"
        '      <text xml:space="preserve">a&#160;b &#x2014; c &amp;#160;</text>\n'
        "    </revision>\n  </page>\n</mediawiki>\n"
    )
    path = write_dump(tmp_path, dump)
    (row,) = _read(spark, path).collect()
    assert row.title == "NBSP Title"
    assert row.text == "a b — c &#160;"


def test_exclude_pages_regex(spark, tmp_path):
    """Reference F1: excludePagesWith drops whole pages before parsing
    (StreamWikiDumpInputFormat.java:387-393; golden test :87-117)."""
    path = write_dump(tmp_path, standard_dump())
    rows = _read(spark, path, excludePagesWith="<title>Talk:").collect()
    assert sorted(r.rev_id for r in rows) == [101, 102, 103, 104, 105, 201]


def test_split_invariance(spark, tmp_path):
    """Partitioning must never change results (reference's most
    important invariant, TestStreamWikiDumpInputFormat.java:346-379).
    Exactly-once by the owner rule: no dupes, no gaps, any split size."""
    content = big_dump()
    path = write_dump(tmp_path, content, "big.xml")
    baseline = sorted(
        (r.page_id, r.rev_id, r.rev_seq, r.text) for r in _read(spark, path).collect()
    )
    assert len(baseline) == 40 * 6
    for split_size in (500, 1777, 10_000, 100_000):
        got = sorted(
            (r.page_id, r.rev_id, r.rev_seq, r.text)
            for r in _read(spark, path, splitSize=str(split_size)).collect()
        )
        assert got == baseline, f"splitSize={split_size}"


def test_partition_count(spark, tmp_path):
    path = write_dump(tmp_path, big_dump(), "big.xml")
    df = _read(spark, path, splitSize="2000")
    assert df.rdd.getNumPartitions() > 4


def test_bz2(spark, tmp_path):
    """Compressed dump: same rows as plain (reference golden test
    TestStreamWikiDumpInputFormat.java:164-194)."""
    plain = write_dump(tmp_path, standard_dump())
    compressed = write_dump(tmp_path, standard_dump(), "dump2.xml", compress="bz2")
    a = sorted((r.rev_id, r.text) for r in _read(spark, plain).collect())
    b = sorted((r.rev_id, r.text) for r in _read(spark, compressed).collect())
    assert a == b


def test_source_side_pairing(spark, tmp_path):
    """Streaming in-scan pairing (the reference record reader's
    prevRevision buffer, StreamWikiDumpInputFormat.java:298-429)."""
    path = write_dump(tmp_path, standard_dump())
    rows = {r.rev_id: r for r in _read(spark, path).collect()}
    assert rows[101].beginningofpage is True and rows[101].prev_text == ""
    assert rows[102].beginningofpage is False
    assert rows[102].prev_text == rows[101].text
    assert rows[102].prev_rev_id == 101
    assert rows[105].prev_rev_id == 104
    assert rows[201].beginningofpage is True


def test_pruned_schema_skips_text(spark, tmp_path):
    """Metadata-only read with an explicit pruned schema — the lazy
    text-parse strategy (README.rst:264-271 as engine behavior)."""
    from wikihadoop_spark.sources.wikidump import register_wikidump

    path = write_dump(tmp_path, standard_dump())
    register_wikidump(spark)
    df = (
        spark.read.format("wikidump")
        .schema("page_id long, title string, rev_id long, rev_seq int")
        .option("path", path)
        .load()
    )
    rows = df.collect()
    assert sorted(r.rev_id for r in rows) == EXPECTED_REV_IDS
    assert df.columns == ["page_id", "title", "rev_id", "rev_seq"]


def test_leading_garbage_and_truncated_tail(spark, tmp_path):
    """Robustness: bytes before the first page and a truncated trailing
    page (reference golden test :119-150) — partial page yields its
    complete revisions only."""
    content = standard_dump()
    # truncate inside page 30's second revision
    cut = content.find("<id>302</id>")
    truncated = "garbage preamble " + content[:cut] + "    <revision>\n      <id>302"
    path = write_dump(tmp_path, truncated, "trunc.xml")
    rows = _read(spark, path).collect()
    ids = sorted(r.rev_id for r in rows)
    assert ids == [101, 102, 103, 104, 105, 201, 301]


def test_filter_pushdown_ns(spark, tmp_path):
    """Spark pushes ns = 0 into the source (pushFilters); excluded
    pages are skipped at the header.  Pushdown is the DataSource
    adapter's (``spark.read.format("wikidump")``); ``read_wikidump``
    filters after its scan, with the same rows."""
    from wikihadoop_spark.sources.wikidump import register_wikidump

    path = write_dump(tmp_path, standard_dump())
    register_wikidump(spark)
    src = spark.read.format("wikidump").option("path", path).load()
    df = src.filter("ns = 0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scan handles the equality; only isnotnull(ns) stays a Filter
    assert "BatchScan wikidump" in plan and "= 0)" not in plan, plan
    assert sorted(r.rev_id for r in df.collect()) == [101, 102, 103, 104, 105, 201]
    assert sorted(
        r.rev_id for r in _read(spark, path).filter("ns = 0").collect()
    ) == [101, 102, 103, 104, 105, 201]
    # equality on title too
    df2 = src.filter("title = 'Lonely Page'")
    assert [r.rev_id for r in df2.collect()] == [201]


# -- real-fixture golden parse -------------------------------------------

_REF_SAMPLE = "/root/reference/python/page_sample.xml"


def _spec_unescape(seg: bytes) -> str:
    """Test-side ground truth decoder, independent of the production
    parser: the fixture uses exactly the four standard XML entities
    (verified: no numeric refs present), decoded in one pass per spec."""
    import re as _re

    table = {b"&lt;": b"<", b"&gt;": b">", b"&quot;": b'"', b"&amp;": b"&"}
    return _re.sub(
        rb"&(?:lt|gt|quot|amp);", lambda m: table[m.group(0)], seg
    ).decode("utf-8")


@pytest.mark.skipif(
    not os.path.exists(_REF_SAMPLE), reason="reference sample not available"
)
def test_reference_page_sample_golden(spark, tmp_path):
    """Parse the reference's real dump sample (page_sample.xml: 3 pages,
    6 revisions — ip edit, <minor/>, deleted contributors, duplicate
    rev ids across pages, no <mediawiki> root, no <ns> elements, real
    wikitext with tables and non-Latin interwiki links) byte-for-byte,
    plain and bz2-recompressed, single- and multi-split."""
    import bz2 as _bz2
    from datetime import datetime

    raw = open(_REF_SAMPLE, "rb").read()
    plain = tmp_path / "sample.xml"
    plain.write_bytes(raw)
    bzpath = tmp_path / "sample.xml.bz2"
    bzpath.write_bytes(_bz2.compress(raw, 1))

    # ground-truth text bodies, extracted positionally (split on the
    # literal marker), decoded by the spec table above — NOT by the
    # production _unescape
    bodies = [
        seg.split(b"</text>")[0]
        for seg in raw.split(b'<text xml:space="preserve">')[1:]
    ]
    assert len(bodies) == 6
    texts = [_spec_unescape(b) for b in bodies]
    assert texts[0] == (
        "A <b>bassist</b> is somebody who plays a [[bass guitar]] "
        "or [[double bass]]."
    )
    assert texts[2] == "foo bar" and texts[3] == "baz"
    # the real-wikitext page: table markup and unicode survive decoding
    assert '{| style="float: right; clear: right;' in texts[4]
    assert "[[ru:Синайско-Палестинская кампания]]" in texts[5]

    for path, opts in (
        (plain, {}),
        (plain, {"splitSize": "8192"}),  # forces multi-partition reads
        (bzpath, {}),
    ):
        rows = sorted(
            _read(spark, str(path), **opts).collect(),
            key=lambda r: (r.page_id, r.rev_seq),
        )
        assert len(rows) == 6, opts
        r = {i: row for i, row in enumerate(rows)}

        # page 10 "AccessibleComputing": deleted contributors -> all
        # user fields NULL; no comment; duplicate rev ids vs page 9001
        assert [r[0].page_id, r[0].title, r[0].ns] == [10, "AccessibleComputing", None]
        assert [r[0].rev_id, r[1].rev_id] == [100, 200]
        assert [r[0].rev_seq, r[1].rev_seq] == [1, 2]
        assert [r[0].text, r[1].text] == ["foo bar", "baz"]
        assert [r[0].text_bytes, r[1].text_bytes] == [7, 3]
        for i in (0, 1):
            assert r[i].user_id is None and r[i].user_text is None
            assert r[i].user_ip is None and r[i].comment is None
            assert r[i].minor is False
            assert r[i].ts == datetime(2009, 4, 12, 17, 3, 2)

        # page 9001 "TestPage or something": large real wikitext
        assert [r[2].page_id, r[2].title] == [9001, "TestPage or something"]
        assert [r[2].rev_id, r[3].rev_id] == [100, 200]
        assert r[2].text == texts[4] and r[3].text == texts[5]
        assert r[2].text_bytes == len(bodies[4])
        assert r[3].text_bytes == len(bodies[5])
        assert r[2].user_text is None and r[3].user_text is None

        # page 60001 "Bassist": ip contributor (user_text falls back to
        # the ip, reference convention), <minor/>, comments
        assert [r[4].page_id, r[4].title, r[4].ns] == [60001, "Bassist", None]
        assert [r[4].rev_id, r[5].rev_id] == [108204, 208937]
        assert r[4].ts == datetime(2002, 6, 30, 2, 3, 23)
        assert r[5].ts == datetime(2002, 6, 30, 16, 0, 41)
        assert r[4].user_ip == "195.149.37.198"
        assert r[4].user_text == "195.149.37.198" and r[4].user_id is None
        assert r[4].minor is True and r[4].comment == "stub"
        assert r[5].user_text == "JeLuF" and r[5].user_id == 733
        assert r[5].user_ip is None
        assert r[5].minor is False and r[5].comment == "added list"
        assert r[4].text == texts[0] and r[5].text == texts[1]
        assert r[5].text.endswith("* [[Leon Wilkeson]] from [[Lynyrd Skynyrd]]")
        for row in rows:
            assert row.redirect is None and row.parent_id is None
            assert row.sha1 is None and row.model is None
