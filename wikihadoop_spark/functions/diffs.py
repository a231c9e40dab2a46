"""Token-level text diff (reference operator D1/D2/D3).

Pipeline per the reference contract (revision_differ.py:68-84):
tokenize both texts -> dictionary-encode tokens to ints (the diff runs
over short int sequences, not raw text — reference X2's unichr trick,
done here with plain int lists) -> Myers O(ND) middle-snake diff ->
decode -> emit (position, action, content) ops where action is -1
(delete) / +1 (insert), content is the joined token run, and position
is the character offset in the NEW text (it advances over kept and
inserted content only).

The Myers implementation below is written from the published
algorithm (E. Myers, "An O(ND) Difference Algorithm and Its
Variations", Algorithmica 1986): linear-space divide & conquer on the
middle snake.  The reference vendors google-diff-match-patch for the
same job; none of that code is used here.

The reconstruction property ``apply_diff(prev, token_diff(prev, curr))
== curr`` is the operator's invariant (reference example.py:67-95) and
is property-tested in tests/test_diffs.py.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

from . import native as _native
from .tokenize import tokenize_wikitext

DELETE = -1
EQUAL = 0
INSERT = 1

# --- char-level pre-strip ---------------------------------------------------
# Consecutive revisions share almost the whole page at CHAR level; slice
# equality runs at memcmp speed while tokenization is a regex scan an
# order of magnitude slower.  Stripping the shared char prefix/suffix
# BEFORE tokenizing makes per-revision cost O(edit region), not O(page).
#
# Output-identity argument: cuts happen only at whitespace-adjacent
# positions strictly inside the shared regions.  In the token alphabet
# (tokenize.py) no token contains a space/newline except the whitespace
# runs themselves, so a position whose left neighbor is whitespace and
# whose own char is not (prefix cut), or vice versa (suffix cut), is a
# token boundary in the FULL tokenization of BOTH strings, and every
# removed token is part of an identical head/tail run that token-level
# prefix/suffix stripping would discard as EQUAL anyway.  The fuzz test
# in tests/test_diffs.py asserts byte-identical ops vs the unstripped
# path.

_BOUND_PRE = re.compile(r"[ \n][^ \n]")
_BOUND_SUF = re.compile(r"[^ \n][ \n]")
_STRIP_CHUNK = 1 << 16
_BOUND_WINDOW = 4096


def _common_prefix_chars(a: str, b: str, n: int) -> int:
    cp = 0
    while cp < n:
        step = min(_STRIP_CHUNK, n - cp)
        if a[cp : cp + step] == b[cp : cp + step]:
            cp += step
            continue
        lo, hi = 0, step - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if a[cp : cp + mid] == b[cp : cp + mid]:
                lo = mid
            else:
                hi = mid - 1
        return cp + lo
    return cp


def _common_suffix_chars(a: str, b: str, n: int) -> int:
    la, lb = len(a), len(b)
    cs = 0
    while cs < n:
        step = min(_STRIP_CHUNK, n - cs)
        if a[la - cs - step : la - cs] == b[lb - cs - step : lb - cs]:
            cs += step
            continue
        lo, hi = 0, step - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if a[la - cs - mid : la - cs] == b[lb - cs - mid : lb - cs]:
                lo = mid
            else:
                hi = mid - 1
        return cs + lo
    return cs


def _char_strip_bounds(a: str, b: str) -> tuple[int, int, int]:
    """(start, end_a, end_b): shared char prefix/suffix pulled back to
    whitespace-adjacent token boundaries, so ``tokenize(x[start:end])``
    is a contiguous slice of ``tokenize(x)`` for both strings."""
    la, lb = len(a), len(b)
    n = min(la, lb)
    cp = _common_prefix_chars(a, b, n)
    cs = _common_suffix_chars(a, b, n - cp)
    q = 0
    if cp:
        last = None
        for m in _BOUND_PRE.finditer(a, max(0, cp - _BOUND_WINDOW), cp):
            last = m
        if last is not None:
            q = last.start() + 1
    end_a, end_b = la, lb
    if cs:
        s0 = la - cs
        m = _BOUND_SUF.search(a, s0, min(la, s0 + _BOUND_WINDOW))
        if m is not None:
            cut = m.start() + 1 - s0
            end_a, end_b = s0 + cut, lb - cs + cut
    return q, end_a, end_b


def _encode(
    a_toks: list[str], b_toks: list[str]
) -> tuple[list[int], list[int]]:
    """Shared dictionary-encode: identical tokens -> identical ints, so
    the diff compares ints (reference X2, revision_differ.py:52-63)."""
    table: dict[str, int] = {}
    setdefault = table.setdefault
    # setdefault(t, len(table)) assigns the next id exactly when t is
    # new — the arguments are evaluated before the (possible) insert
    a = [setdefault(t, len(table)) for t in a_toks]
    b = [setdefault(t, len(table)) for t in b_toks]
    return a, b


def _common_prefix_len(a: list, b: list) -> int:
    """Length of the common prefix, via doubling/halving slice
    compares — list == list runs element compares in C, so the dominant
    small-edit-in-big-page case never loops per token in Python."""
    n = min(len(a), len(b))
    i, step = 0, 1024
    while i < n:
        j = min(n, i + step)
        if a[i:j] == b[i:j]:
            i = j
            step *= 2
        elif step > 1:
            step = max(1, step // 8)
        else:
            break
    return i


def _common_suffix_len(a: list, b: list, limit: int) -> int:
    """Length of the common suffix, capped at ``limit`` so it never
    overlaps the already-matched prefix."""
    n = min(len(a), len(b), limit)
    s, step = 0, 1024
    while s < n:
        t = min(n, s + step)
        if a[len(a) - t : len(a) - s] == b[len(b) - t : len(b) - s]:
            s = t
            step *= 2
        elif step > 1:
            step = max(1, step // 8)
        else:
            break
    return s


def _run_fwd(a: list, i: int, b: list, j: int, n: int) -> int:
    """Longest s <= n with a[i:i+s] == b[j:j+s] — doubling/halving slice
    compares, same technique as _common_prefix_len."""
    s, step = 0, 16
    while s < n:
        t = min(n, s + step)
        if a[i + s : i + t] == b[j + s : j + t]:
            s = t
            step *= 2
        elif step > 1:
            step = max(1, step // 8)
        else:
            break
    return s


def _run_back(a: list, i: int, b: list, j: int, n: int) -> int:
    """Longest s <= n with a[i-s:i] == b[j-s:j]."""
    s, step = 0, 16
    while s < n:
        t = min(n, s + step)
        if a[i - t : i - s] == b[j - t : j - s]:
            s = t
            step *= 2
        elif step > 1:
            step = max(1, step // 8)
        else:
            break
    return s


# Deterministic effort cap: Myers is O((N+M)·D); one adversarial
# revision pair (a full rewrite of a multi-MB page) makes D ~ N and the
# diff quadratic — hours inside one task at 100 TB.  The reference has
# the same safety valve, as wall-clock: revision_differ.py:76 runs dmp
# with the default Diff_Timeout=1.0 s, and on expiry diff_bisect
# returns plain [(DELETE, text1), (INSERT, text2)]
# (diff_match_patch.py:45,352-354).  A time cap is nondeterministic
# across hosts and partitionings (poison for retries and the oracle
# gate), so the cap here is on D itself: diffs stay minimal whenever
# the edit distance of a (sub)problem is <= _MAX_D tokens, and degrade
# to the same delete+insert fallback beyond it.
_MAX_D = 1024


def _middle_snake(
    a: list[int], a0: int, a1: int, b: list[int], b0: int, b1: int
) -> tuple[int, int] | None:
    """Myers bidirectional search: returns (x, y) on the middle snake,
    or None when the edit distance exceeds _MAX_D (caller falls back to
    delete+insert, the dmp-timeout analog).  Linear space: two V arrays
    of size O(n+m).  Snake extension runs through chunked slice
    compares (C element compares) instead of a per-token Python loop —
    identical snake lengths, so the diff output is byte-identical; long
    equal interiors (the dominant cost when a revision has several
    scattered edits) walk at memcmp speed.  The single-element guard
    keeps the common 0/1-token snake on the fast inline path."""
    n, m = a1 - a0, b1 - b0
    max_d = (n + m + 1) // 2
    capped = max_d > _MAX_D
    if capped:
        max_d = _MAX_D
    delta = n - m
    size = 2 * max_d + 2
    off = max_d  # diagonal k lives at index k + off — no modulo in the loop
    vf = [0] * size  # forward best-x per diagonal k
    vb = [0] * size  # backward best-x per diagonal k (in reversed coords)
    odd = delta % 2 != 0
    for d in range(max_d + 1):
        for k in range(-d, d + 1, 2):
            ko = k + off
            if k == -d or (k != d and vf[ko - 1] < vf[ko + 1]):
                x = vf[ko + 1]
            else:
                x = vf[ko - 1] + 1
            y = x - k
            if x < n and y < m and a[a0 + x] == b[b0 + y]:
                run = 1 + _run_fwd(
                    a, a0 + x + 1, b, b0 + y + 1, min(n - x, m - y) - 1
                )
                x += run
                y += run
            vf[ko] = x
            # forward diagonal k meets backward diagonal delta-k
            if odd and -(d - 1) <= k - delta <= d - 1:
                if x + vb[delta - k + off] >= n:
                    return a0 + x, b0 + y
        for k in range(-d, d + 1, 2):
            ko = k + off
            if k == -d or (k != d and vb[ko - 1] < vb[ko + 1]):
                x = vb[ko + 1]
            else:
                x = vb[ko - 1] + 1
            y = x - k
            if x < n and y < m and a[a1 - 1 - x] == b[b1 - 1 - y]:
                run = 1 + _run_back(
                    a, a1 - 1 - x, b, b1 - 1 - y, min(n - x, m - y) - 1
                )
                x += run
                y += run
            vb[ko] = x
            if not odd and -d <= delta - k <= d:
                if x + vf[delta - k + off] >= n:
                    return a1 - x, b1 - y
    if capped:
        return None  # edit distance > _MAX_D: caller degrades
    # unreachable for well-formed inputs
    raise AssertionError("middle snake not found")


def _diff_ints(
    a: list[int], a0: int, a1: int, b: list[int], b0: int, b1: int, out: list
) -> None:
    # strip common prefix/suffix first — the dominant case for
    # consecutive revisions is a tiny edit in a large page; emit each
    # run as ONE range, not per-token tuples (chunked compares, C speed)
    p0 = a0
    run = _run_fwd(a, a0, b, b0, min(a1 - a0, b1 - b0))
    a0 += run
    b0 += run
    if a0 > p0:
        out.append((EQUAL, p0, a0))
    s1 = a1
    run = _run_back(a, a1, b, b1, min(a1 - a0, b1 - b0))
    a1 -= run
    b1 -= run
    suffix = [(EQUAL, a1, s1)] if s1 > a1 else []
    if a0 == a1:
        if b0 != b1:
            out.append((INSERT, b0, b1))
    elif b0 == b1:
        out.append((DELETE, a0, a1))
    else:
        snake = _middle_snake(a, a0, a1, b, b0, b1)
        if snake is None or snake in ((a0, b0), (a1, b1)):
            # no common tokens found, or effort cap hit (_MAX_D — the
            # reference's dmp-timeout analog): delete + insert
            out.append((DELETE, a0, a1))
            out.append((INSERT, b0, b1))
        else:
            x, y = snake
            _diff_ints(a, a0, x, b, b0, y, out)
            _diff_ints(a, x, a1, b, y, b1, out)
    out.extend(reversed(suffix))


def token_diff(
    prev: str,
    curr: str,
    tokenize: Callable[[str], list[str]] = tokenize_wikitext,
    report: tuple[int, ...] = (DELETE, INSERT),
) -> Iterator[tuple[int, int, str]]:
    """Yield (position, action, content) ops turning ``prev`` into
    ``curr`` (reference simpleDiff semantics, revision_differ.py:68-84):
    position is the char offset in the new text and advances over
    kept/inserted content only."""
    prev, curr = prev or "", curr or ""
    # fast paths — exact under the op semantics because the tokenizer
    # partitions the string (token concatenation == original text):
    # identical texts, first revision (empty dummy prev), blanked page.
    # Only valid when EQUAL runs aren't reported.
    offset = 0
    if EQUAL not in report:
        if prev == curr:
            return
        if not prev:
            if INSERT in report:
                yield (0, INSERT, curr)
            return
        if not curr:
            if DELETE in report:
                yield (0, DELETE, prev)
            return
        # char-level pre-strip (see module section above): tokenize and
        # diff only the edit region; the skipped prefix re-enters via
        # the position offset, the skipped suffix contributes nothing.
        # Skipped when EQUAL is reported — the equal runs' content would
        # be truncated.
        q, end_a, end_b = _char_strip_bounds(prev, curr)
        if q or end_a < len(prev) or end_b < len(curr):
            offset = q
            prev = prev[q:end_a]
            curr = curr[q:end_b]
    a_toks = tokenize(prev)
    b_toks = tokenize(curr)
    # strip common token prefix/suffix BEFORE dictionary-encoding:
    # encoding was the hot loop (two dict-setdefault passes over every
    # token of both texts); consecutive revisions share almost all of
    # it, and slice equality runs in C
    na, nb = len(a_toks), len(b_toks)
    lo = _common_prefix_len(a_toks, b_toks)
    suf = _common_suffix_len(a_toks, b_toks, min(na, nb) - lo)
    a, b = _encode(a_toks[lo : na - suf], b_toks[lo : nb - suf])
    raw: list[tuple[int, int, int]] = []
    if lo:
        raw.append((EQUAL, 0, lo))
    # C kernel when available (functions/_native.c: the same algorithm,
    # same tie-breaks, same _MAX_D cap — fuzz-pinned byte-identical);
    # the Python recursion below is the reference implementation and
    # the always-present fallback.  Tiny problems stay in Python: the
    # ctypes round-trip costs more than the diff itself there.
    mid = None
    if len(a) + len(b) >= 64:
        mid = _native.diff_ints(a, b, _MAX_D)
    if mid is None:
        mid = []
        _diff_ints(a, 0, len(a), b, 0, len(b), mid)
    # middle indices are slice-local on both sides; shift back by lo
    raw.extend((act, i0 + lo, i1 + lo) for act, i0, i1 in mid)
    if suf:
        raw.append((EQUAL, na - suf, na))

    report_set = set(report)
    position = offset
    # Between two equalities all edits form one run, emitted as ONE
    # merged delete then ONE merged insert — the canonical shape
    # diff_match_patch's cleanupMerge produces and the published diffdb
    # rows exhibit (fileformat.rst:9: `613:-1:u'signed'` before
    # `613:1:u'a U.S. federal law passed'`).
    del_toks: list[str] = []
    ins_toks: list[str] = []

    def run_items():
        nonlocal position
        if del_toks:
            c = "".join(del_toks)
            del_toks.clear()
            if DELETE in report_set:
                yield (position, DELETE, c)
        if ins_toks:
            c = "".join(ins_toks)
            ins_toks.clear()
            if INSERT in report_set:
                yield (position, INSERT, c)
            position += len(c)

    for action, i0, i1 in raw:
        if action == DELETE:
            del_toks.extend(a_toks[i0:i1])
        elif action == INSERT:
            ins_toks.extend(b_toks[i0:i1])
        else:
            yield from run_items()
            if EQUAL in report_set:
                eq = "".join(a_toks[i0:i1])
                yield (position, EQUAL, eq)
                position += len(eq)
            else:
                # position advance needs only the length — skip the
                # O(run) string build for the huge shared runs
                position += sum(map(len, a_toks[i0:i1]))
    yield from run_items()


def apply_diff(prev: str, ops: list[tuple[int, int, str]]) -> str:
    """Reconstruct the new text from prev + ops (reference D3,
    example.py:67-95): between ops, copy untouched prev content; a
    delete consumes prev, an insert emits diff content."""
    out: list[str] = []
    old_pos = 0
    new_pos = 0
    for position, action, content in ops:
        keep = position - new_pos
        if keep:
            out.append(prev[old_pos : old_pos + keep])
            old_pos += keep
            new_pos += keep
        if action == INSERT:
            out.append(content)
            new_pos += len(content)
        elif action == DELETE:
            old_pos += len(content)
    out.append(prev[old_pos:])
    return "".join(out)


def diff_with_fallback(prev: str, curr: str) -> tuple[list[tuple[int, int, str]], str | None]:
    """D2 semantics: never kill the job on a bad diff — return
    (ops, error) with error set and ops empty on failure
    (reference revision_differ.py:161-175)."""
    try:
        return list(token_diff(prev, curr)), None
    except Exception as exc:  # noqa: BLE001 — the contract is total
        return [], f"diff_fail: {exc!r}"


def diff_check_udf():
    """Arrow-vectorized pandas UDF: (prev_text, text) ->
    struct<roundtrip_ok:boolean, empty_iff_equal:boolean>.

    The two D1/D3 invariants an SQL oracle CAN check by hash (the diff
    ops themselves are engine-specific): applying the diff to the old
    text reconstructs the new text exactly, and the diff is empty iff
    the texts are equal.  A broken diff pipeline turns one of these
    false and hash-fails the gate."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _check(prev, curr):
        rt, em = [], []
        for p, c in zip(prev.tolist(), curr.tolist()):
            p, c = p or "", c or ""
            ops = list(token_diff(p, c))
            rt.append(apply_diff(p, ops) == c)
            em.append((len(ops) == 0) == (p == c))
        return pd.DataFrame({"roundtrip_ok": rt, "empty_iff_equal": em})

    _check.__annotations__ = {"prev": pd.Series, "curr": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(
        _check, "struct<roundtrip_ok:boolean, empty_iff_equal:boolean>"
    )


def ops_check_udf():
    """Arrow-vectorized pandas UDF: (prev_text, text, ops) ->
    struct<roundtrip_ok:boolean, empty_iff_equal:boolean>.

    Like diff_check_udf but verifies PROVIDED ops (e.g. the wikidump
    scan's own) instead of re-diffing — the gate
    for the in-scan diff path: patch(prev, ops) must reconstruct text
    exactly, and ops must be empty iff the texts are equal."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _check(prev, curr, ops):
        rt, em = [], []
        for p, c, o in zip(prev.tolist(), curr.tolist(), ops.tolist()):
            p, c = p or "", c or ""
            # `o if o is not None else []`, NOT `o or []`: under Arrow
            # the ops cell is a numpy array, whose truth value raises
            # for length >= 2 (any row with a real edit)
            triples = [
                (d["position"], d["action"], d["content"])
                for d in (o if o is not None else [])
            ]
            rt.append(apply_diff(p, triples) == c)
            em.append((len(triples) == 0) == (p == c))
        return pd.DataFrame({"roundtrip_ok": rt, "empty_iff_equal": em})

    _check.__annotations__ = {
        "prev": pd.Series, "curr": pd.Series, "ops": pd.Series,
        "return": pd.DataFrame,
    }
    return F.pandas_udf(
        _check, "struct<roundtrip_ok:boolean, empty_iff_equal:boolean>"
    )
