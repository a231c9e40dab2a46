"""Column-expression memoization (round-17 optimization).

PySpark Column construction is py4j traffic: every operator, literal,
and lambda in an expression tree is a JVM round trip at PLAN BUILD
time.  For the expression-heavy operators (16-permutation MinHash
signatures, LSH band structs, hyperplane-bucket folds) that adds up to
~0.5-3 s of pure driver latency per query BUILD — paid again on every
invocation, dwarfing the executor time at bench scale and still pure
overhead at 100 TB scale.

Unresolved Column objects are immutable expression ASTs; reusing one
across DataFrames/plans is ordinary PySpark practice (``c = F.col("x")
+ 1`` used on many frames).  This module memoizes *construction*: the
first build of an expression family pays the py4j cost, every later
query build reuses the identical AST.  Plans, values, and results are
bit-identical — only the Python-side construction cost changes.

The memo is a dict on the live SparkContext object: literals hold JVM
object references through that context's gateway, so a restarted
context (a new object) starts empty, and the entries die with the
context that made them.  It is bounded: it empties when it reaches
``_CACHE_MAX`` keys (integer Lloyd adds one K×D centroid key per
iteration).  One pass over the whole catalog leaves about 60 keys.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

_CACHE_MAX = 256


def owned_memo(owner: Any, attr: str) -> dict:
    """The memo dict kept on ``owner`` under ``attr``, created empty on
    first use: it lives and dies with the object that owns it."""
    memo = getattr(owner, attr, None)
    if memo is None:
        memo = {}
        setattr(owner, attr, memo)
    return memo


def cached_exprs(key: tuple, builder: Callable[[], Any]) -> Any:
    """Memoize ``builder()`` (a Column or list/tuple of Columns) under
    ``key`` for the lifetime of the active SparkContext."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return builder()
    memo = owned_memo(sc, "_wikihadoop_columns")
    val = memo.get(key)
    if val is None:
        val = builder()
        if len(memo) >= _CACHE_MAX:
            memo.clear()  # simplest bound, as quantize._CENTROID_CACHE
        memo[key] = val
    return val
