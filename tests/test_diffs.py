"""Diff operator tests: reconstruction property (reference D3,
example.py:67-95), tokenizer conformance (X1 quirk), failure handling
(D2), py2-repr encoding (X5)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wikihadoop_spark.functions.compat import py2_repr_str, py2_repr_value
from wikihadoop_spark.functions.diffs import (
    DELETE,
    INSERT,
    apply_diff,
    diff_with_fallback,
    token_diff,
)
from wikihadoop_spark.functions.tokenize import tokenize_wikitext


def roundtrip(prev: str, curr: str):
    ops = list(token_diff(prev, curr))
    assert apply_diff(prev, ops) == curr, (prev, curr, ops)
    return ops


def test_basic_cases():
    assert roundtrip("", "") == []
    assert roundtrip("same text", "same text") == []
    ops = roundtrip("", "new page text")
    assert ops == [(0, INSERT, "new page text")]
    ops = roundtrip("old", "")
    assert ops == [(0, DELETE, "old")]


def test_report_positions_advance_over_inserts():
    ops = roundtrip("a b c", "a x b c y")
    # position is a char offset in the NEW text
    for pos, action, content in ops:
        assert action in (DELETE, INSERT)
        assert pos >= 0


def test_tokenizer_conformance_quirk():
    """The reference's alternation order makes {{{ tokenize as {{ + {
    (revision_differ.py:34-38; SURVEY §7.4.5) — preserved, with a
    fixed-order opt-in."""
    assert tokenize_wikitext("{{{v}}}") == ["{{", "{", "v", "}}", "}"]
    assert tokenize_wikitext("{{{v}}}", fixed_order=True) == ["{{{", "v", "}}}"]
    assert tokenize_wikitext("[[a]] ''b'' === &nbsp;") == [
        "[[", "a", "]]", " ", "''", "b", "''", " ", "===", " ", "&nbsp;",
    ]
    assert tokenize_wikitext("{|\n|-\n|}") == ["{|", "\n", "|-", "\n", "|}"]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab [{}]'=\n&;xyz", max_size=120),
    st.text(alphabet="ab [{}]'=\n&;xyz", max_size=120),
)
def test_roundtrip_property(prev, curr):
    roundtrip(prev, curr)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=80), st.text(max_size=80))
def test_roundtrip_unicode(prev, curr):
    roundtrip(prev, curr)


def _unstripped_ops(prev: str, curr: str):
    """Reference path for the char-strip equivalence check: reporting
    EQUAL disables the char-level pre-strip, and filtering the EQUAL
    rows leaves identically-merged DELETE/INSERT ops with identical
    positions."""
    from wikihadoop_spark.functions.diffs import EQUAL

    return [
        op
        for op in token_diff(prev, curr, report=(DELETE, EQUAL, INSERT))
        if op[1] != EQUAL
    ]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab [{}]'=\n&;xyz", max_size=200),
    st.text(alphabet="ab [{}]'=\n&;xyz", max_size=200),
)
def test_char_strip_identical_to_full(prev, curr):
    """The char-level pre-strip must be output-invisible: byte-identical
    ops (content AND positions) vs the unstripped computation."""
    assert list(token_diff(prev, curr)) == _unstripped_ops(prev, curr)


def test_char_strip_on_shared_affixes():
    """Deterministic shapes that exercise every cut path: mid-page
    edit, whitespace-run growth, edit at page start/end, no-whitespace
    pages (cut falls back to full tokenize)."""
    big = ("lorem [[Link|word]] {{tpl|a}} ipsum '''bold''' " * 400).strip()
    cases = [
        (big, big[:5000] + " EDIT " + big[5000:]),             # mid insert
        (big, big[:5000] + big[5200:]),                        # mid delete
        (big[:9000], big[:9000] + " tail added"),              # append
        ("start " + big[:9000], "changed " + big[:9000]),      # head edit
        ("a  b " + big[:2000], "a   b " + big[:2000]),         # run growth
        ("x" * 9000 + "a", "x" * 9000 + "b"),                  # no whitespace
        ("x" * 9000, "x" * 9000 + "y" * 100),                  # no ws, append
    ]
    for prev, curr in cases:
        ops = list(token_diff(prev, curr))
        assert ops == _unstripped_ops(prev, curr), (prev[:40], curr[:40])
        assert apply_diff(prev, ops) == curr


def test_effort_cap_on_pathological_rewrite():
    """A full rewrite of a huge page (edit distance >> _MAX_D) must
    complete quickly via the deterministic delete+insert fallback — the
    reference's Diff_Timeout analog (revision_differ.py:76 runs dmp
    with the 1.0 s default; diff_match_patch.py:352-354 degrades to
    [(DELETE, text1), (INSERT, text2)] on expiry) — and still satisfy
    the roundtrip invariant."""
    import time

    prev = " ".join(f"a{i}" for i in range(60_000))
    curr = " ".join(f"b{i}" for i in range(60_000))
    t0 = time.perf_counter()
    ops = list(token_diff(prev, curr))
    dt = time.perf_counter() - t0
    assert dt < 30, f"capped diff took {dt:.1f}s"
    assert apply_diff(prev, ops) == curr
    # merged-run shape: one delete then one insert
    assert [a for _, a, _ in ops] == [DELETE, INSERT]

    # determinism: identical inputs give identical ops
    assert list(token_diff(prev, curr)) == ops


def test_effort_cap_leaves_small_edits_minimal():
    """Edits below the cap keep exact Myers output: a one-token change
    in a large page still produces a minimal two-op diff."""
    base = " ".join(f"w{i}" for i in range(50_000))
    edited = base.replace(" w25000 ", " CHANGED ")
    ops = list(token_diff(base, edited))
    assert apply_diff(base, ops) == edited
    assert len(ops) == 2
    assert {a for _, a, _ in ops} == {DELETE, INSERT}
    assert ops[0][2] == "w25000" and ops[1][2] == "CHANGED"


def test_diff_with_fallback_never_raises():
    ops, err = diff_with_fallback("a b", "a c b")
    assert err is None and ops
    ops, err = diff_with_fallback(None, None)  # type: ignore[arg-type]
    assert err is None


def test_py2_repr():
    # byte-compatible with python2 repr (validated against py2 output
    # shapes in fileformat.rst:7-9)
    assert py2_repr_str("plain") == "u'plain'"
    assert py2_repr_str("it's") == 'u"it\'s"'
    assert py2_repr_str("a\nb\tc") == "u'a\\nb\\tc'"
    assert py2_repr_str("café") == "u'caf\\xe9'"
    assert py2_repr_str("寿") == "u'\\u5bff'"
    assert py2_repr_str("\U0001f600") == "u'\\U0001f600'"
    assert py2_repr_value(None) == "None"
    assert py2_repr_value(True) == "True"
    assert py2_repr_value(42) == "42"


def _oracle_py2_repr_str(s: str) -> str:
    """py2 unicode repr, spelled out per character (the encoder's
    earlier implementation, kept as the fuzz oracle)."""
    quote = "'"
    if "'" in s and '"' not in s:
        quote = '"'
    out = ["u", quote]
    for ch in s:
        cp = ord(ch)
        if ch == "\\" or ch == quote:
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif cp < 0x20 or cp == 0x7F:
            out.append(f"\\x{cp:02x}")
        elif cp >= 0x80:
            if cp <= 0xFF:
                out.append(f"\\x{cp:02x}")
            elif cp <= 0xFFFF:
                out.append(f"\\u{cp:04x}")
            else:
                out.append(f"\\U{cp:08x}")
        else:
            out.append(ch)
    out.append(quote)
    return "".join(out)


def _oracle_py2_repr_bytes(s: str) -> str:
    """py2 byte-string repr of UTF-8 text, spelled out per byte (the
    encoder's earlier implementation, kept as the fuzz oracle)."""
    data = s.encode("utf-8")
    quote = b"'"
    if b"'" in data and b'"' not in data:
        quote = b'"'
    out = [quote.decode()]
    q = quote[0]
    for b in data:
        if b == 0x5C or b == q:
            out.append("\\" + chr(b))
        elif b == 0x0A:
            out.append("\\n")
        elif b == 0x0D:
            out.append("\\r")
        elif b == 0x09:
            out.append("\\t")
        elif b < 0x20 or b >= 0x7F:
            out.append(f"\\x{b:02x}")
        else:
            out.append(chr(b))
    out.append(quote.decode())
    return "".join(out)


def test_py2_repr_fuzz_vs_per_char_oracle():
    """The builtin-based encoders (py3 ``ascii`` / bytes ``repr``) are
    char-for-char the per-character py2 rules on 200k random strings:
    quotes, backslashes, control chars, \\x7f, Latin-1, BMP, astral
    and lone surrogates (which neither side can UTF-8 encode)."""
    import random

    from wikihadoop_spark.functions.compat import py2_repr_bytes

    pools = [
        "'\"\\",
        "".join(map(chr, range(0x20))) + "\x7f",
        "abc xyz:019",
        "".join(map(chr, range(0x80, 0x100))),
        "\u0100\u5bff\ufeff\uffff",
        "\U0001f600\U00010000\U0010ffff",
        "\ud800\udbff\udc00\udfff",
    ]
    rng = random.Random(2024)

    def outcome(fn, s):
        try:
            return fn(s)
        except UnicodeEncodeError:
            return UnicodeEncodeError

    for _ in range(200_000):
        s = "".join(
            rng.choice(rng.choice(pools)) for _ in range(rng.randrange(12))
        )
        assert py2_repr_str(s) == _oracle_py2_repr_str(s), s
        assert outcome(py2_repr_bytes, s) == outcome(_oracle_py2_repr_bytes, s), s


# -- optional C kernel (functions/_native.c) ------------------------------


def test_native_kernel_equivalence_fuzz():
    """The C kernel must be range-for-range identical to the Python
    recursion — same middle-snake tie-breaks, same first-overlap
    return, same _MAX_D degradation.  Random sequences plus
    near-duplicate shapes (long equal runs, scattered edits), plus the
    cap case."""
    import random

    from wikihadoop_spark.functions import native
    from wikihadoop_spark.functions.diffs import _MAX_D, _diff_ints

    if native.load() is None:
        pytest.skip("C toolchain unavailable")

    rng = random.Random(20260814)
    for trial in range(500):
        n, m = rng.randrange(0, 300), rng.randrange(0, 300)
        vocab = rng.randrange(2, 40)
        a = [rng.randrange(vocab) for _ in range(n)]
        b = [rng.randrange(vocab) for _ in range(m)]
        py: list = []
        _diff_ints(a, 0, n, b, 0, m, py)
        assert native.diff_ints(a, b, _MAX_D) == py, trial
    for trial in range(100):
        base = [rng.randrange(50) for _ in range(rng.randrange(200, 2000))]
        b = list(base)
        for _ in range(rng.randrange(1, 6)):
            i = rng.randrange(len(b) or 1)
            k = rng.randrange(1, 20)
            roll = rng.random()
            if roll < 0.4:
                b[i : i + k] = [rng.randrange(50) for _ in range(k)]
            elif roll < 0.7:
                b[i:i] = [rng.randrange(50) for _ in range(k)]
            else:
                del b[i : i + k]
        py = []
        _diff_ints(base, 0, len(base), b, 0, len(b), py)
        assert native.diff_ints(base, b, _MAX_D) == py, trial
    # cap degradation: disjoint vocabularies exceed _MAX_D
    a = list(range(0, 4000))
    b = list(range(10000, 14500))
    py = []
    _diff_ints(a, 0, len(a), b, 0, len(b), py)
    assert native.diff_ints(a, b, _MAX_D) == py


def test_native_disabled_falls_back(monkeypatch):
    """WIKIHADOOP_NO_NATIVE (or any load failure) must leave token_diff
    fully functional on the Python path."""
    from wikihadoop_spark.functions import native

    monkeypatch.setenv("WIKIHADOOP_NO_NATIVE", "1")
    monkeypatch.setattr(native, "_loaded", False)
    monkeypatch.setattr(native, "_lib", None)
    assert native.load() is None
    prev = "alpha beta " * 200 + "gamma"
    curr = "alpha beta " * 100 + "DELTA " + "alpha beta " * 100 + "gamma"
    ops = list(token_diff(prev, curr))
    assert apply_diff(prev, ops) == curr and ops
    # un-poison the memoized loader state for later tests
    monkeypatch.delenv("WIKIHADOOP_NO_NATIVE")
    monkeypatch.setattr(native, "_loaded", False)


def test_native_kernel_loads_from_shipped_zip(tmp_path):
    """Spark workers import the package from the zip the session ships
    to them; the C kernel must load from that zip too, with the working
    directory outside the source tree and a cold kernel cache."""
    import os
    import subprocess
    import sys

    from wikihadoop_spark.session import _package_zip

    zpath = _package_zip()
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from wikihadoop_spark.functions import native\n"
        "assert native.__file__.startswith(sys.argv[1]), native.__file__\n"
        "print(native.load() is not None)\n"
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "WIKIHADOOP_NO_NATIVE")
    }
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    r = subprocess.run(
        [sys.executable, "-c", code, zpath],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "True"


def test_ops_check_udf_multi_op_rows(spark):
    """Regression: under Arrow the ops cell is a numpy array, whose
    truth value raises for length >= 2 — the old `o or []` therefore
    crashed on any revision with a real (multi-op) edit; the gate dump
    never produced one (its revisions are pure appends = one insert
    op), so the bug was latent until a real dump hit it."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.functions.diffs import ops_check_udf, token_diff

    prev, curr = "alpha beta gamma delta", "alpha X gamma Y delta Z"
    ops = list(token_diff(prev, curr))
    assert len(ops) >= 2  # the shape that used to crash
    df = spark.createDataFrame(
        [(prev, curr, ops), (prev, prev, []),
         (None, "new page", list(token_diff("", "new page")))],
        "prev string, curr string, "
        "ops array<struct<position:bigint, action:int, content:string>>",
    )
    rows = df.select(
        ops_check_udf()(
            F.coalesce("prev", F.lit("")), "curr", "ops"
        ).alias("c")
    ).collect()
    assert all(r.c.roundtrip_ok and r.c.empty_iff_equal for r in rows)
