"""Python-2 ``repr`` compatibility encoding (reference operator X5).

The reference's diffdb TSV carries every value Python-2-repr-escaped
(``u'...'`` prefixes, \\xNN/\\uNNNN escapes) so consumers can
``eval()`` fields back (fileformat.rst:27, revision_differ.py:150-163).
The modern engine emits typed columns natively; this encoder exists
only for byte-compatible conformance output (SURVEY §7.4.4).
"""

from __future__ import annotations


def py2_repr_str(s: str) -> str:
    """Python-2 ``repr(u'...')`` of a text value.

    Py3 ``ascii()`` is py2 unicode ``repr`` without the ``u`` prefix:
    single quotes unless the text has ' and no "; backslash, the quote
    and \\n/\\r/\\t escaped; other chars < 0x20, 0x7f and every
    non-ascii char as \\xNN / \\uNNNN / \\UNNNNNNNN."""
    return "u" + ascii(s)


def py2_repr_bytes(s: str) -> str:
    """Python-2 ``repr('...')`` of a BYTE string holding UTF-8 text.

    The reference's title field goes through py2 ``repr`` as a byte
    string — the published rows show ``'National security and homeland
    security presidential directive'`` with no ``u`` prefix
    (fileformat.rst:7-9, revision_differ.py:154) — while comment /
    user_text repr as unicode.  Non-ascii text appears as per-UTF-8-byte
    ``\\xNN`` escapes; py3 bytes ``repr`` has py2 str ``repr``'s quote
    choice and escapes, behind a ``b`` prefix."""
    return repr(s.encode("utf-8"))[1:]


def py2_repr_value(v) -> str:
    """repr() for the scalar types the diffdb row contains."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return py2_repr_str(v)
    raise TypeError(f"unsupported type for py2 repr: {type(v)}")
