"""Synthetic MediaWiki export fixtures for the wikidump source tests.

Scenario coverage mirrors the reference's golden tests
(TestStreamWikiDumpInputFormat.java:50-194) and the behaviors of its
sample dump: multi-revision page with small token edits, single-
revision page (beginningofpage path), namespace-prefixed page for the
exclude filter, anonymous (IP) contributor, deleted contributor,
deleted comment, minor flag, HTML entities in text.  All content here
is original.
"""

from __future__ import annotations

import bz2 as bz2lib


def rev(
    rev_id: int,
    ts: str,
    text: str,
    user: str | None = "Editor",
    uid: int | None = 7,
    ip: str | None = None,
    comment: str | None = None,
    minor: bool = False,
    deleted_user: bool = False,
    deleted_comment: bool = False,
    parent: int | None = None,
) -> str:
    parts = [f"    <revision>\n      <id>{rev_id}</id>\n"]
    if parent is not None:
        parts.append(f"      <parentid>{parent}</parentid>\n")
    parts.append(f"      <timestamp>{ts}</timestamp>\n")
    if deleted_user:
        parts.append('      <contributor deleted="deleted" />\n')
    elif ip is not None:
        parts.append(f"      <contributor>\n        <ip>{ip}</ip>\n      </contributor>\n")
    else:
        parts.append(
            f"      <contributor>\n        <username>{user}</username>\n"
            f"        <id>{uid}</id>\n      </contributor>\n"
        )
    if minor:
        parts.append("      <minor />\n")
    if deleted_comment:
        parts.append('      <comment deleted="deleted" />\n')
    elif comment is not None:
        parts.append(f"      <comment>{comment}</comment>\n")
    parts.append(
        f'      <text xml:space="preserve">{text}</text>\n    </revision>\n'
    )
    return "".join(parts)


def page(page_id: int, title: str, ns: int, revs: list[str]) -> str:
    return (
        f"  <page>\n    <title>{title}</title>\n    <ns>{ns}</ns>\n"
        f"    <id>{page_id}</id>\n" + "".join(revs) + "  </page>\n"
    )


TEXT_V1 = "The quick brown fox jumps over the lazy dog. [[Link one]] {{cite}}"
TEXT_V2 = "The quick red fox jumps over the lazy dog. [[Link one]] {{cite}}"
TEXT_V3 = "The quick red fox leaps over the lazy dog. [[Link two]] {{cite}} extra"
TEXT_V4 = "The quick red fox leaps over a lazy dog. [[Link two]] extra"
TEXT_V5 = TEXT_V4 + " and a closing sentence with &amp; entity."


def standard_dump() -> str:
    """3 pages / 8 revisions covering every parser branch."""
    p1 = page(
        10,
        "Fox Article",
        0,
        [
            rev(101, "2021-01-01T00:00:00Z", TEXT_V1, comment="create"),
            rev(102, "2021-01-02T00:00:00Z", TEXT_V2, ip="10.0.0.1", parent=101),
            rev(103, "2021-01-03T00:00:00Z", TEXT_V3, minor=True, parent=102,
                comment="copyedit"),
            rev(104, "2021-01-04T00:00:00Z", TEXT_V4, deleted_user=True, parent=103),
            rev(105, "2021-01-05T00:00:00Z", TEXT_V5, deleted_comment=True,
                parent=104),
        ],
    )
    p2 = page(
        20,
        "Lonely Page",
        0,
        [rev(201, "2021-02-01T12:30:45Z", "Just one revision here.", uid=8,
             user="Solo")],
    )
    p3 = page(
        30,
        "Talk:Fox Article",
        1,
        [
            rev(301, "2021-03-01T00:00:00Z", "Discussion begins.", comment="hi"),
            rev(302, "2021-03-02T00:00:00Z", "Discussion begins. More text.",
                parent=301),
        ],
    )
    return (
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10">\n'
        "  <siteinfo>\n    <sitename>TestWiki</sitename>\n  </siteinfo>\n"
        + p1
        + p2
        + p3
        + "</mediawiki>\n"
    )


EXPECTED_REV_IDS = [101, 102, 103, 104, 105, 201, 301, 302]


def big_dump(n_pages: int = 40, revs_per_page: int = 6) -> str:
    """Larger dump for split-invariance stress (reference's randomized
    split test, TestStreamWikiDumpInputFormat.java:272-344)."""
    pages = []
    rid = 1000
    for p in range(n_pages):
        revs = []
        body = f"Page {p} body " + ("lorem ipsum " * (p % 7 + 1))
        for r in range(revs_per_page):
            rid += 1
            body = body + f" edit{r}"
            revs.append(rev(rid, f"2022-01-{(r % 27) + 1:02d}T00:00:00Z", body))
        pages.append(page(5000 + p, f"Stress Page {p}", 0, revs))
    return (
        "<mediawiki>\n  <siteinfo><sitename>S</sitename></siteinfo>\n"
        + "".join(pages)
        + "</mediawiki>\n"
    )


def namespace_dump() -> str:
    """Title normalization and metadata edge cases, pages in page-id
    order: talk and user-talk prefixes, an unknown ns, a title equal to
    its prefix, titles with no colon or a leading one, a ns-0 title
    with a prefix, an empty <ns>, non-ascii titles, a null timestamp,
    deleted, anonymous and quoted contributors."""
    pages = [
        (1, "Talk:Fox Article", 1),
        (2, "User talk:Editor/Archive 1", 3),
        (3, "Topic:Unknown space", 2600),
        (4, "Talk", 1),
        (5, "User talk", 3),
        (6, "Wikipedia", 4),
        (7, "NoColonAtAll", 10),
        (8, ":Leading colon", 1),
        (9, "Talk:Not stripped in main", 0),
        (10, "Empty ns:Page", ""),
        (11, "Talk:Caf\u00e9 \u00fcber \u65e5\u672c", 1),
        (12, "Category talk:It's \"quoted\"", 15),
        (13, "Special:Random", -1),
        (14, "Book talk:", 109),
    ]
    rid = 7000
    out = []
    for pid, title, ns in pages:
        revs = []
        body = f"Body of {pid} with [[link]] &amp; {{{{tmpl}}}}"
        for r in range(3):
            rid += 1
            body += f" edit {r} \u00e9"
            revs.append(rev(
                rid,
                "" if (pid, r) == (3, 1) else f"2020-0{r + 1}-1{pid % 10}T0{r}:3{r}:0{pid % 10}Z",
                body,
                deleted_user=(pid, r) == (2, 2),
                ip="192.0.2.1" if (pid, r) == (4, 1) else None,
                user="O'Neil \"Q\"",
                uid=pid,
                comment=None if r == 0 else f"c{r} caf\u00e9",
                minor=r == 2,
                parent=rid - 1 if r else None,
            ))
        out.append(page(pid, title.replace("&", "&amp;").replace('"', "&quot;"), ns, revs))
    return (
        "<mediawiki>\n  <siteinfo><sitename>N</sitename></siteinfo>\n"
        + "".join(out)
        + "</mediawiki>\n"
    )


def write_dump(tmp_path, content: str, name: str = "dump.xml", compress: str | None = None) -> str:
    p = tmp_path / name
    if compress == "bz2":
        p = tmp_path / (name + ".bz2")
        p.write_bytes(bz2lib.compress(content.encode()))
    else:
        p.write_bytes(content.encode())
    return str(p)
