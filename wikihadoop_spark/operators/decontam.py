"""Bloom-filter n-gram benchmark decontamination — the documented
escape hatch for eval suites whose distinct-shingle set outgrows a
single broadcast array (`relational.py::decontaminate_ngram` carries
the whole set as ONE array row; past ~1e7 shingles that row stops
fitting an executor comfortably).

A Bloom filter of the eval set's shingles replaces the array:
constant, configurable memory (``bits_per_item`` per shingle instead
of the shingle bytes themselves) at the cost of a bounded
false-positive rate that only ever OVER-removes — safe for
decontamination, where dropping a few extra training documents is
free and keeping a contaminated one is not.

This PySpark build exposes no Bloom primitives (no
``DataFrameStatFunctions.bloomFilter``, no ``bloom_filter_agg`` /
``might_contain`` SQL routines), so the filter is built from scratch
on the engine's portable md5 hash family (`operators/dedup.py:hash64`)
with built-in JVM expressions only — no Python UDFs, and the same
arithmetic is expressible in any engine for parity checks:

- **positions**: shingle ``s`` sets bits ``hash64('bloom{i}:' || s)
  mod n_bits`` for i in [0, n_hashes) — independent draws from the
  keyed-prefix trick the minhash family already uses.
- **words**: bits pack into 63-bit words (bit 63 is never used, so no
  bigint sign-bit/overflow cases; masks come from a 63-entry
  power-of-two literal array — Spark's ``shiftleft`` takes only a
  literal shift, and ``2^62`` is the largest in-range power).
- **build** (distributed): explode eval shingles → n_hashes positions
  each → ``groupBy(word) . agg(bit_or(mask))`` — a partial+final
  aggregate to at most ``n_words`` rows, collected to the DRIVER as
  broadcast state (O(n_bits/63) longs — 12 MB of words indexes 1e8
  bits), never joined as data.
- **probe** (row-local): the word array rides a broadcast single-row
  cross join; a document drops when ANY of its shingles has ALL
  n_hashes bits set (``F.exists`` over the shingle array inside the
  scan projection).  The 100 TB corpus is scanned once and never
  shuffled — the same plan shape as the exact-array variant.

False-positive math (standard Bloom bound): with ``bits_per_item=12``
and ``n_hashes=4``, per-shingle FP ≈ (1 − e^{−4/12})^4 ≈ 0.65%; a
document's drop probability compounds per distinct novel shingle, so
callers filtering million-shingle documents should size
``bits_per_item`` up (16–20) rather than tolerate compounding.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .dedup import hash64, shingles
from .local import local_frame

#: bits per word — 63 keeps every mask and OR inside non-negative int64
WORD_BITS = 63


def _pow2() -> Column:
    return F.array(*[F.lit(1 << b).cast("bigint") for b in range(WORD_BITS)])


def _positions(s: Column, n_bits: int, n_hashes: int) -> list[Column]:
    return [
        hash64(F.concat(F.lit(f"bloom{i}:"), s)) % F.lit(n_bits)
        for i in range(n_hashes)
    ]


@dataclass(frozen=True)
class NgramBloom:
    """Driver-held Bloom state: the packed word list plus the exact
    parameters the probe must replay (a probe with different k/n_bits/
    n_hashes would silently test the wrong bits)."""

    words: tuple[int, ...]
    n_bits: int
    n_hashes: int
    shingle_k: int
    n_items: int


def build_ngram_bloom(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    shingle_k: int = 3,
    bits_per_item: int = 12,
    n_hashes: int = 4,
) -> NgramBloom:
    """Build the Bloom filter of the eval set's distinct k-token
    shingles.  Distributed bit-set construction (explode → position →
    per-word ``bit_or`` partial+final aggregate); only the packed words
    are collected."""
    if bits_per_item < 1 or n_hashes < 1:
        raise ValueError("bits_per_item and n_hashes must be >= 1")
    sh = benchmark.select(
        F.explode(
            F.array_distinct(shingles(F.col(text_col), shingle_k))
        ).alias("s")
    ).distinct()
    n_items = sh.count()
    # integer ceil — exact at any size, and replayable verbatim in an
    # oracle engine (float ceil could round differently at multiples)
    n_words = max(1, (n_items * bits_per_item + WORD_BITS - 1) // WORD_BITS)
    n_bits = n_words * WORD_BITS
    pow2 = _pow2()
    bits = sh.select(
        F.explode(
            F.array(*_positions(F.col("s"), n_bits, n_hashes))
        ).alias("p")
    )
    rows = (
        bits.select(
            F.floor(F.col("p") / WORD_BITS).cast("int").alias("w"),
            F.element_at(pow2, (F.col("p") % WORD_BITS).cast("int") + 1).alias(
                "m"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["mask"]
    return NgramBloom(
        words=tuple(words),
        n_bits=n_bits,
        n_hashes=n_hashes,
        shingle_k=shingle_k,
        n_items=n_items,
    )


def might_contain(s: Column, bloom_col: Column, bloom: NgramBloom) -> Column:
    """Row-local Bloom membership test for one shingle against the
    broadcast word array (``bloom_col``)."""
    pow2 = _pow2()
    tests = []
    for p in _positions(s, bloom.n_bits, bloom.n_hashes):
        word = F.element_at(
            bloom_col, F.floor(p / WORD_BITS).cast("int") + 1
        )
        mask = F.element_at(pow2, (p % WORD_BITS).cast("int") + 1)
        tests.append(word.bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, tests)


_BLOOM_SCHEMA = StructType([StructField("__bloom", ArrayType(LongType()))])


def bloom_frame(spark: SparkSession, words) -> DataFrame:
    """The one-row ``__bloom array<bigint>`` frame that carries a Bloom
    filter's words into a broadcast cross join, as a LocalRelation."""
    return local_frame(spark, [[list(words)]], _BLOOM_SCHEMA)


def decontaminate_ngram_bloom(
    corpus: DataFrame,
    bloom: NgramBloom,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Keep only corpus rows sharing NO k-token shingle with the Bloom
    filter's eval set (false positives over-remove; never
    under-removes — every true overlap is caught, Bloom filters have
    no false negatives).

    Plan: the word array is one broadcast row (cross join), the
    shingle test folds row-locally via ``F.exists`` inside the scan
    projection — zero corpus shuffles, same shape as the exact-array
    ``decontaminate_ngram``."""
    bf = bloom_frame(corpus.sparkSession, bloom.words)
    contaminated = F.exists(
        shingles(F.col(text_col), bloom.shingle_k),
        lambda s: might_contain(s, F.col("__bloom"), bloom),
    )
    return (
        corpus.crossJoin(F.broadcast(bf))
        .filter(~contaminated)
        .drop("__bloom")
    )
