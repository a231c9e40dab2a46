"""Loader for the optional C diff kernel (_native.c).

The kernel is a single translation unit compiled on first use with the
system C compiler into a per-user cache directory keyed by the source
hash (so every Spark python worker on a host compiles at most once and
reuses the artifact afterwards).  Everything here is best-effort: no
compiler, a failed compile, a failed dlopen, or the
``WIKIHADOOP_NO_NATIVE`` env var all degrade silently to ``None`` and
the pure-Python diff path (functions/diffs.py) — which remains the
reference implementation — is used instead.  Output equivalence of the
two paths is fuzz-asserted in tests/test_diffs.py.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import sys
import tempfile

_lib = None
_loaded = False


def _cache_dir() -> str:
    xdg = os.environ.get("XDG_CACHE_HOME")
    if xdg:
        base = os.path.join(xdg, "wikihadoop")  # app-scoped, not the root
    else:
        base = os.path.join(
            tempfile.gettempdir(), f"wikihadoop-native-{os.getuid()}"
        )
    os.makedirs(base, mode=0o700, exist_ok=True)
    return base


def _owned_by_me(path: str) -> bool:
    try:
        return os.stat(path).st_uid == os.getuid()
    except OSError:
        return False


def _build() -> str | None:
    # through the package loader, not a file path: Spark workers import
    # this package from a zip (session._package_zip)
    src = pkgutil.get_data(__package__, "_native.c")
    tag = hashlib.sha256(src).hexdigest()[:16]
    cache = _cache_dir()
    if not _owned_by_me(cache):
        # a world-writable tmp lets another user pre-create the
        # predictable cache path; never compile into or load from a
        # directory we don't own (ctypes.CDLL executes the artifact)
        return None
    so_path = os.path.join(
        cache, f"wh_diff_{tag}_py{sys.version_info[0]}{sys.version_info[1]}.so"
    )
    if os.path.exists(so_path):
        return so_path if _owned_by_me(so_path) else None
    cc = os.environ.get("CC", "cc")
    tmp = f"{so_path}.tmp.{os.getpid()}"
    src_path = f"{tmp}.c"
    try:
        with open(src_path, "wb") as fh:
            fh.write(src)
        subprocess.run(
            [cc, "-O2", "-shared", "-fPIC", "-o", tmp, src_path],
            check=True,
            capture_output=True,
            timeout=120,
        )
        os.replace(tmp, so_path)  # atomic: concurrent workers race safely
        return so_path
    except Exception:
        return None
    finally:
        for leftover in (tmp, src_path):
            try:
                os.unlink(leftover)
            except OSError:
                pass


def load():
    """The ctypes library with ``wh_diff_ints`` configured, or None."""
    global _lib, _loaded
    if _loaded:
        return _lib
    _loaded = True
    if os.environ.get("WIKIHADOOP_NO_NATIVE"):
        return None
    try:
        from array import array

        if array("i").itemsize != 4:  # pragma: no cover — ILP64 exotica
            return None
        so_path = _build()
        if so_path is None:
            return None
        lib = ctypes.CDLL(so_path)
        i32p = ctypes.POINTER(ctypes.c_int32)
        lib.wh_diff_ints.argtypes = [
            i32p, ctypes.c_int32, i32p, ctypes.c_int32,
            ctypes.c_int32, i32p, i32p, i32p, ctypes.c_int32,
        ]
        lib.wh_diff_ints.restype = ctypes.c_int32
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def _i32p(arr) -> "ctypes.POINTER(ctypes.c_int32)":
    return ctypes.cast(arr.buffer_info()[0], ctypes.POINTER(ctypes.c_int32))


def diff_ints(a: list[int], b: list[int], max_d: int):
    """Run the C kernel on two encoded token sequences.  Returns the
    list of (act, i0, i1) range triples — identical to what
    diffs._diff_ints appends — or None when the kernel is unavailable
    or declined (caller uses the Python path)."""
    lib = load()
    if lib is None:
        return None
    from array import array

    n, m = len(a), len(b)
    aa = array("i", a)
    bb = array("i", b)
    cap = 2 * (n + m) + 8
    out = array("i", bytes(12 * cap))
    scratch = 4 * (2 * max_d + 2)
    vf = array("i", bytes(scratch))
    vb = array("i", bytes(scratch))
    r = lib.wh_diff_ints(
        _i32p(aa), n, _i32p(bb), m, max_d, _i32p(vf), _i32p(vb), _i32p(out), cap
    )
    if r < 0:  # pragma: no cover — overflow cap is provably sufficient
        return None
    flat = out[: 3 * r].tolist()
    return list(zip(flat[0::3], flat[1::3], flat[2::3]))
