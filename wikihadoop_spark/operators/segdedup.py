"""Segment-frequency dedup — the C4 / RefinedWeb line-dedup family:
remove from every document each SEGMENT (line, paragraph, or
fixed-token window) that occurs in ``min_df``-or-more documents
corpus-wide, keeping the first occurrence (minimum document id) so one
copy of the boilerplate survives.

This is a different axis from the document-level families already in
the engine (exact row dedup, MinHash/SimHash near-dup, n-gram
Jaccard): those drop WHOLE documents; this rewrites documents in
place, stripping repeated boilerplate (cookie banners, navigation
chrome, license headers) that document-level dedup can never touch
because the surrounding prose differs.  C4 removed any three-sentence
span occurring more than once in the dataset; RefinedWeb/FineWeb do
the same at line granularity.

Plan shape (100 TB):

1. segmentation is ROW-LOCAL — higher-order array expressions build
   the segment list inside the scan projection (split by a separator
   regex, or non-overlapping ``tokens_per_segment`` windows), then ONE
   posexplode;
2. the duplicated-segment table is a partial+final hash aggregate on
   the segment fingerprint (map-side combine pre-reduces a mega-hot
   boilerplate segment to one row per map task — never a window over
   the segment key), filtered to ``doc_freq >= min_df`` BEFORE the
   join, so only genuinely repeated segments travel;
3. a fingerprint equi-join (left) marks each exploded segment
   kept/removed — AQE handles residual skew; nothing is ever
   all-pairs;
4. one hash aggregate by document reassembles the kept segments in
   order (``array_sort`` of collected (idx, segment) structs — no
   window, no global sort).

Three shuffles total (segment agg, join, doc reassemble), each a plain
hash exchange.  Fingerprints use the portable md5-based ``hash64``
family so an external engine (the DuckDB gate oracle) replays every
removal decision bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash64


def _segments_col(text_col: str, split_regex: str | None, tokens_per_segment: int | None):
    """Row-local segment list for one document (array<string>).  NULL
    text segments to the EMPTY array (never NULL, never a phantom
    segment) so a null-text document flows through the rewrite and
    comes back with empty text instead of vanishing or crashing."""
    if (split_regex is None) == (tokens_per_segment is None):
        raise ValueError(
            "pass exactly one of split_regex (line/paragraph mode) or "
            "tokens_per_segment (fixed token windows)"
        )
    if split_regex is not None:
        expr = F.split(F.col(text_col), split_regex)
    else:
        w = int(tokens_per_segment)
        if w < 1:
            raise ValueError(
                f"tokens_per_segment must be >= 1 (got {tokens_per_segment})"
            )
        toks = F.split(F.col(text_col), " ")
        n_segs = F.ceil(F.size(toks) / F.lit(w)).cast("int")
        expr = F.transform(
            F.sequence(F.lit(0), F.greatest(n_segs, F.lit(1)) - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i * w + F.lit(1), w), " "),
        )
    return F.when(F.col(text_col).isNull(), F.array()).otherwise(expr)


def segment_frequency_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_regex: str | None = "\n",
    tokens_per_segment: int | None = None,
    min_df: int = 2,
    joiner: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rewrite each document with corpus-frequent segments removed.

    A segment is removed when it occurs (exact match after
    segmentation) in at least ``min_df`` DISTINCT documents and this
    occurrence is not the corpus-first one — minimum ``(id_col,
    position)``, so exactly ONE copy survives, even of a segment
    repeated inside its own first document (C4's "all but one" rule),
    deterministic on any cluster.

    Returns one row per input document:
    ``(id_col, n_segments, n_removed, text_col)`` with ``text_col``
    reassembled from the kept segments in original order (joined with
    ``joiner``, default the line separator for regex mode / one space
    for token-window mode).  Documents whose every segment was removed
    come back with empty text rather than vanishing — dropping them is
    a downstream quality-filter decision, not a dedup side effect; a
    NULL-text document likewise survives as ``(id, 0, 0, "")``.
    ``keep_cols`` (per-document constants, e.g. a source or quality
    column) ride through the explode and the reassembly grouping.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (got {min_df})")
    if joiner is None:
        joiner = " " if tokens_per_segment is not None else "\n"
    internal = {"__sd_id", "__sd_idx", "__sd_seg", "__sd_fp",
                "__sd_df", "__sd_first", "n_segments", "n_removed"}
    clash = internal & set([id_col, *keep_cols])
    if clash:
        raise ValueError(
            f"columns collide with segment-dedup working names: {sorted(clash)}"
        )
    # posexplode_OUTER: a null-text document segments to the empty
    # array, which must still emit its (NULL, NULL) spine row — a plain
    # posexplode would drop the document entirely, breaking the
    # one-row-per-input contract (the aggregate below counts and
    # collects only non-null positions, so the doc reassembles to '')
    segs = df.select(
        F.col(id_col).alias("__sd_id"),
        *keep_cols,
        F.posexplode_outer(
            _segments_col(text_col, split_regex, tokens_per_segment)
        ).alias("__sd_idx", "__sd_seg"),
    ).withColumn("__sd_fp", hash64(F.col("__sd_seg")))
    # duplicated-segment table: distinct doc count + first owner per
    # fingerprint, FILTERED before the join so only repeated segments
    # travel; count_distinct is exact (a fingerprint can repeat inside
    # one doc without making it corpus-frequent)
    dups = (
        segs.groupBy("__sd_fp")
        .agg(
            F.count_distinct(F.col("__sd_id")).alias("__sd_df"),
            F.min(
                F.struct(
                    F.col("__sd_id").alias("i"), F.col("__sd_idx").alias("x")
                )
            ).alias("__sd_first"),
        )
        .filter(F.col("__sd_df") >= min_df)
    )
    marked = segs.join(dups, "__sd_fp", "left").select(
        "__sd_id",
        *keep_cols,
        "__sd_idx",
        "__sd_seg",
        (
            F.col("__sd_df").isNull()
            | (
                (F.col("__sd_first.i") == F.col("__sd_id"))
                & (F.col("__sd_first.x") == F.col("__sd_idx"))
            )
        ).alias("__sd_keep"),
    )
    return (
        marked.groupBy("__sd_id", *keep_cols)
        .agg(
            # count the POSITION column: the null-text spine row from
            # posexplode_outer is not a segment
            F.count("__sd_idx").alias("n_segments"),
            F.coalesce(
                F.sum((~F.col("__sd_keep")).cast("long")), F.lit(0)
            ).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__sd_keep")
                                & F.col("__sd_idx").isNotNull(),
                                F.struct(
                                    F.col("__sd_idx").alias("i"),
                                    F.col("__sd_seg").alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                joiner,
            ).alias(text_col),
        )
        .withColumnRenamed("__sd_id", id_col)
    )


def frequent_segments(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_regex: str | None = "\n",
    tokens_per_segment: int | None = None,
    min_df: int = 2,
) -> DataFrame:
    """The corpus-frequent segment table: one row per segment occurring
    in at least ``min_df`` distinct documents — the static boilerplate
    index the streaming strip probes.  Build it as a batch job over the
    existing corpus (two map-side-combined aggregate levels, same plan
    as :func:`segment_frequency_dedup`'s dup table); write it out /
    Bloom-pack it, and arriving documents strip against it statelessly.
    Returns ``(segment, df)``."""
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (got {min_df})")
    segs = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            _segments_col(text_col, split_regex, tokens_per_segment)
        ).alias("segment"),
    )
    return (
        segs.groupBy("segment")
        .agg(F.count_distinct(F.col("__id")).alias("df"))
        .filter(F.col("df") >= min_df)
    )


@dataclass(frozen=True)
class SegmentBloom:
    """Driver-held Bloom state for the frequent-segment index — the
    packed word list plus the probe parameters.  Field names match
    ``decontam.NgramBloom`` so :func:`decontam.might_contain` probes it
    unchanged (it reads only ``n_bits``/``n_hashes``)."""

    words: tuple[int, ...]
    n_bits: int
    n_hashes: int
    n_items: int


def build_segment_bloom(
    frequent: DataFrame,
    *,
    segment_col: str = "segment",
    bits_per_item: int = 12,
    n_hashes: int = 4,
) -> SegmentBloom:
    """Bloom-pack a frequent-segment table for the stateless strip —
    the same distributed bit-set construction as
    ``decontam.build_ngram_bloom`` (explode positions → per-word
    ``bit_or`` partial+final aggregate → collect only the packed
    words), keyed by the raw segment string.  Use when the index
    outgrows the exact broadcast array (~tens of thousands of
    segments); false positives OVER-strip only — a Bloom filter has no
    false negatives, so every truly frequent segment is caught."""
    from .decontam import WORD_BITS, _positions, _pow2

    if bits_per_item < 1 or n_hashes < 1:
        raise ValueError("bits_per_item and n_hashes must be >= 1")
    sdf = frequent.select(F.col(segment_col).alias("s")).distinct()
    n_items = sdf.count()
    n_words = max(1, (n_items * bits_per_item + WORD_BITS - 1) // WORD_BITS)
    n_bits = n_words * WORD_BITS
    pow2 = _pow2()
    rows = (
        sdf.select(
            F.explode(F.array(*_positions(F.col("s"), n_bits, n_hashes))).alias("p")
        )
        .select(
            F.floor(F.col("p") / WORD_BITS).cast("int").alias("w"),
            F.element_at(pow2, (F.col("p") % WORD_BITS).cast("int") + 1).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["mask"]
    return SegmentBloom(
        words=tuple(words), n_bits=n_bits, n_hashes=n_hashes, n_items=n_items
    )


#: exact-array strip guard: past this many index segments the per-row
#: linear membership scan dominates — Bloom-pack instead
MAX_EXACT_SEGMENTS = 20_000


def strip_frequent_segments(
    docs: DataFrame,
    index: "list[str] | SegmentBloom",
    *,
    text_col: str = "text",
    split_regex: str | None = "\n",
    tokens_per_segment: int | None = None,
    joiner: str | None = None,
) -> DataFrame:
    """Strip every indexed segment from each document — STATELESS, so
    it runs identically on a stream (no aggregation, no state, append
    mode): the streaming half of segment-frequency dedup.  The batch
    corpus owns the canonical first occurrence (it was deduped with
    :func:`segment_frequency_dedup`); arriving documents keep NO copy
    of an indexed segment.

    ``index``: the collected frequent-segment strings (exact, capped at
    ``MAX_EXACT_SEGMENTS``), or a :class:`SegmentBloom` (row-local
    ``might_contain`` probe against one broadcast word array — false
    positives over-strip only).  Segmentation, membership, and
    reassembly are all row-local expressions inside the projection;
    the Bloom variant's only plan addition is the broadcast cross join
    of the single word-array row (the ``decontaminate_ngram_bloom``
    shape, proven stream-static safe).

    Appends ``n_segments`` / ``n_removed`` and rewrites ``text_col``.
    """
    if joiner is None:
        joiner = " " if tokens_per_segment is not None else "\n"
    segs = _segments_col(text_col, split_regex, tokens_per_segment)
    out_cols = [c for c in docs.columns if c != text_col]

    if isinstance(index, SegmentBloom):
        from .decontam import bloom_frame, might_contain

        bf = bloom_frame(docs.sparkSession, index.words)
        docs = docs.crossJoin(F.broadcast(bf))
        kept = F.filter(
            segs, lambda s: ~might_contain(s, F.col("__bloom"), index)
        )
    else:
        index = list(index)
        if len(index) > MAX_EXACT_SEGMENTS:
            raise ValueError(
                f"{len(index)} index segments exceeds MAX_EXACT_SEGMENTS "
                f"({MAX_EXACT_SEGMENTS}): the per-row linear scan would "
                "dominate — Bloom-pack the index (build_segment_bloom)"
            )
        lit_idx = F.array(*[F.lit(s) for s in index])
        kept = F.filter(segs, lambda s: ~F.array_contains(lit_idx, s))
    return docs.select(
        *out_cols,
        F.size(segs).alias("n_segments"),
        (F.size(segs) - F.size(kept)).alias("n_removed"),
        F.array_join(kept, joiner).alias(text_col),
    ).drop("__bloom")
