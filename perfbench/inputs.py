"""Seeded, cached input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs.  Each input set lives in its own directory under
the cache root, keyed on kind, seed, size and ``GEN_VERSION``; the set is
built in a temporary directory and renamed into place only once every
file and its ``truth.json`` (the ground truth the output checks use) are
written, so a crash never leaves a torn input behind.  The cache keeps
the ``CACHE_KEEP`` most recently used sets of each kind.

- ``markup_dump``: full-history XML dump dense in wikitext markup and
  entity references, with mid-page edits (adapted from bench.py's markup
  corpus), stored bzip2-compressed.

The catalog workload generates nothing: it reads the repository's sf0.01
test tables (TESTDATA.md), copied unchanged into ``data/sf0.01``, and
its seed only shuffles the query order.
"""

from __future__ import annotations

import bz2
import json
import os
import random
import shutil

GEN_VERSION = 1
CACHE_KEEP = 6
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def cached(root: str, kind: str, seed: int, size, build) -> dict:
    """Return the truth dict of the (kind, seed, size) input set, building
    it with ``build(directory, seed, size)`` on a cache miss.  File names
    in the truth dict are made absolute under ``"dir"``."""
    key = f"{kind}-s{seed}-n{size}-v{GEN_VERSION}"
    final = os.path.join(root, key)
    truth_path = os.path.join(final, "truth.json")
    if not os.path.exists(truth_path):
        os.makedirs(root, exist_ok=True)
        shutil.rmtree(final, ignore_errors=True)  # a set without truth is torn
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = build(tmp, seed, size)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        os.rename(tmp, final)
        _evict(root, kind)
    os.utime(final)
    with open(truth_path) as fh:
        truth = json.load(fh)
    truth["dir"] = final
    return truth


def _evict(root: str, kind: str) -> None:
    sets = [
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith(kind + "-s") and ".tmp" not in n
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


# ---- dump corpora ----------------------------------------------------------


def _xml_text(s: str) -> str:
    """XML-escape wikitext the way dumps store it; non-ASCII characters
    become numeric character references so the reader's numeric-ref
    decode path runs too."""
    out = (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )
    if not out.isascii():
        out = "".join(c if ord(c) < 128 else f"&#{ord(c)};" for c in out)
    return out


def _page_xml(pid: int, title: str, revs: list[tuple[int, str, str]]) -> str:
    parts = [
        f"  <page>\n    <title>{title}</title>\n    <ns>0</ns>\n    <id>{pid}</id>\n"
    ]
    for rid, ts, text in revs:
        parts.append(
            f"    <revision>\n      <id>{rid}</id>\n"
            f"      <timestamp>{ts}</timestamp>\n"
            f"      <contributor><username>U</username><id>1</id></contributor>\n"
            f'      <text xml:space="preserve">{_xml_text(text)}</text>\n'
            f"    </revision>\n"
        )
    parts.append("  </page>\n")
    return "".join(parts)


def _write_dump(path: str, pages) -> dict:
    """Write ``pages`` (an iterator of (title, [text, ...])) as a dump and
    return its counts; page and revision ids increase in file order."""
    n_pages = n_revs = 0
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<mediawiki>\n<siteinfo><sitename>B</sitename></siteinfo>\n")
        for title, texts in pages:
            n_pages += 1
            revs = []
            for r, text in enumerate(texts):
                n_revs += 1
                revs.append((n_revs, f"2022-05-{r + 1:02d}T00:00:00Z", text))
            fh.write(_page_xml(n_pages, title, revs))
        fh.write("</mediawiki>\n")
    return {"pages": n_pages, "revisions": n_revs, "raw_bytes": os.path.getsize(path)}


_MARKUP_WORDS = (
    "campaign empire peninsula commander brigade infantry division "
    "regiment railway canal desert offensive armistice treaty mandate "
    "protectorate battle theatre victory advance defence garrison "
    "supply column cavalry corps front flank assault siege"
).split()


def _sentence(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randrange(6, 14)):
        r = rng.random()
        w = rng.choice(_MARKUP_WORDS)
        if r < 0.12:
            tgt = f"{rng.choice(_MARKUP_WORDS).capitalize()} {rng.choice(_MARKUP_WORDS)}"
            parts.append(f"[[{tgt}|{w}]]" if rng.random() < 0.4 else f"[[{tgt}]]")
        elif r < 0.20:
            tpl = rng.choice(("flagicon", "cite web", "convert", "flag"))
            parts.append(f"{{{{{tpl}|{w}}}}}")
        elif r < 0.25:
            parts.append(rng.choice(("<br>", "&ndash;", "–", f'"{w}"')))
        elif r < 0.30:
            parts.append(f"'''{w}'''" if rng.random() < 0.5 else f"''{w}''")
        else:
            parts.append(w)
    return " ".join(parts) + rng.choice((". ", ".\n", "; "))


def _infobox(rng: random.Random) -> str:
    lines = ['{| style="float: right; clear: right"', "| {{Infobox Conflict"]
    for _ in range(rng.randrange(4, 10)):
        lines.append(
            f"|{rng.choice(_MARKUP_WORDS)}=[[{rng.choice(_MARKUP_WORDS).capitalize()}]]"
            f" {{{{flag|{rng.choice(_MARKUP_WORDS)}}}}}<br>"
        )
    lines += ["}}", "|}"]
    return "\n".join(lines) + "\n"


def _markup_pages(rng: random.Random, target: int):
    size = 0
    pid = 0
    while size < target:
        pid += 1
        body = [_infobox(rng)] + [_sentence(rng) for _ in range(rng.randrange(40, 120))]
        texts = []
        for _ in range(rng.randrange(2, 8)):
            # 1-3 mid-page edits per revision: replace, insert or delete
            # a run of sentences, never a plain append
            for _ in range(rng.randrange(1, 4)):
                i = rng.randrange(1, len(body))
                n = rng.randrange(1, 6)
                roll = rng.random()
                if roll < 0.45:
                    body[i : i + n] = [_sentence(rng) for _ in range(n)]
                elif roll < 0.8:
                    body[i:i] = [_sentence(rng) for _ in range(n)]
                elif len(body) > n + 2:
                    del body[i : i + n]
            texts.append("".join(body))
        size += sum(len(t) for t in texts) + 200 * len(texts)
        yield f"Conflict {pid}", texts


SAMPLE_PAIRS = 24


def build_markup_dump(d: str, seed: int, size: int) -> dict:
    """Markup-dense dump of about ``size`` raw bytes, bzip2-compressed.
    The truth keeps a seeded sample of (previous text, text) pairs so the
    output check can replay the diff ops."""
    rng = random.Random(f"markup:{seed}")
    pages = list(_markup_pages(rng, size))
    xml = os.path.join(d, "dump.xml")
    truth = _write_dump(xml, iter(pages))
    # 100k blocks: the corpus is small, so the smallest block size keeps
    # the number of blocks per partition closer to a full dump's
    comp = bz2.BZ2Compressor(1)
    with open(xml, "rb") as src, open(xml + ".bz2", "wb") as out:
        while chunk := src.read(1 << 22):
            out.write(comp.compress(chunk))
        out.write(comp.flush())
    os.unlink(xml)
    pairs = []
    rid = 0
    for _title, texts in pages:
        prev = ""
        for text in texts:
            rid += 1
            pairs.append((rid, prev, text))
            prev = text
    sample = random.Random(f"markup-sample:{seed}").sample(
        pairs, min(SAMPLE_PAIRS, len(pairs))
    )
    truth["file"] = "dump.xml.bz2"
    truth["sample"] = [{"rev_id": r, "prev": p, "text": t} for r, p, t in sample]
    return truth


def catalog_tables() -> dict:
    """The truth dict of the sf0.01 catalog tables: their directory and
    on-disk bytes."""
    names = sorted(n for n in os.listdir(CATALOG_DIR) if n.endswith(".parquet"))
    return {
        "dir": CATALOG_DIR,
        "bytes": sum(os.path.getsize(os.path.join(CATALOG_DIR, n)) for n in names),
    }
