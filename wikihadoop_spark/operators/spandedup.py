"""Exact-substring span dedup — the suffix-array dedup family of Lee
et al. 2022 ("Deduplicating Training Data Makes Language Models
Better", arXiv:2107.06499), re-expressed for a shared-nothing engine:
remove from every document each duplicated TOKEN SPAN, keeping exactly
the corpus-first occurrence, where a duplicated span is detected as a
run of ``k``-token shingles whose fingerprints occur ``min_count``-or-
more times corpus-wide.

The reference method builds one suffix array over the concatenated
corpus — inherently single-machine (their released impl is a Rust
program over a memory-mapped byte array).  The distributed equivalent
used here is POSITIONAL shingle fingerprinting: every token position
opens a k-gram window; a window whose fingerprint repeats anywhere in
the corpus marks its k tokens for removal (except at the one owner
position).  Consecutive duplicated windows merge into maximal spans,
so a 200-token boilerplate block shared by two documents is removed as
ONE span from the non-owner — exactly the ExactSubstr semantics at
k-token resolution (spans shorter than ``k`` tokens are invisible, the
knob the suffix array does not need; Lee et al. use a 50-token
threshold anyway, far above any useful ``k``).

This is the third dedup axis in the engine, orthogonal to the other
two: document-level (exact rows, MinHash/SimHash near-dup) drops whole
documents; segment-level (``segdedup``) rewrites at line/paragraph
boundaries; span-level rewrites at ARBITRARY token offsets — the only
one that catches a license header pasted mid-paragraph.

Plan shape (100 TB):

1. tokenization and the positional k-gram fingerprints are ROW-LOCAL
   (one ``transform`` over the token array inside the scan
   projection), then ONE posexplode-equivalent — no window, no
   self-join;
2. the duplicated-window table is a partial+final hash aggregate on
   the fingerprint (map-side combine collapses a mega-hot span to one
   row per map task), filtered to ``count >= min_count`` BEFORE the
   join so only genuinely repeated windows travel;
3. an INNER fingerprint equi-join keeps only duplicated occurrences
   (the overwhelming majority of windows are unique and never
   shuffle past the aggregate), non-owner positions aggregate into a
   sorted per-document start list;
4. one left join hands each document its start list; interval
   merging, masking, and text reassembly are all row-local
   higher-order expressions — per-document cost is
   O(tokens x merged_spans + starts x merged_spans), never
   O(tokens x starts).

Three shuffles total (window agg, start agg, document join), same
budget as ``segdedup``.  Fingerprints use the portable md5-based
``hash64`` so the DuckDB gate oracle replays every removal decision
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash64


def positional_window_fps(toks: Column, k: int) -> Column:
    """Row-local positional k-gram fingerprints for one document:
    ``array<struct<p:int, fp:bigint>>`` with 0-based start position
    ``p`` — one entry per token position opening a full k-window.
    Documents shorter than ``k`` tokens yield the empty array."""
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
        lambda i: F.struct(
            (i - 1).cast("int").alias("p"),
            hash64(F.concat_ws(" ", F.slice(toks, i, k))).alias("fp"),
        ),
    )
    return F.when(F.size(toks) >= k, windows).otherwise(
        F.array().cast("array<struct<p:int,fp:bigint>>")
    )


def merge_starts(starts: Column, k: int) -> Column:
    """Fold a SORTED array of span starts into disjoint merged
    intervals ``array<struct<lo:int, hi:int>>`` (token index range
    [lo, hi), 0-based): a start ``s`` extends the last interval when
    ``s <= hi`` (its window overlaps or abuts it), else opens a new
    one.  Because starts ascend, the running ``hi`` is always
    ``last_start + k``, so the fold rebuilds only the tail struct —
    O(starts x intervals) worst case, O(starts) when spans are few."""
    empty = F.array().cast("array<struct<lo:int,hi:int>>")
    return F.aggregate(
        starts,
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + k).cast("int").alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.cast("int").alias("lo"), (s + k).cast("int").alias("hi"))
                ),
            )
        ),
    )


def _split_tokens(text_col: str) -> Column:
    """Space-split tokens with NULL text segmenting to the EMPTY array
    (never NULL) so null-text documents flow through rewrites."""
    return F.when(
        F.col(text_col).isNull(), F.array().cast("array<string>")
    ).otherwise(F.split(F.col(text_col), " "))


def _window_occurrences(df: DataFrame, id_col, toks: Column, k: int) -> DataFrame:
    """One row per positional k-window occurrence:
    ``(__xs_id, __xs_p, __xs_fp)``."""
    return df.select(
        F.col(id_col).alias("__xs_id") if isinstance(id_col, str) else id_col,
        F.explode(positional_window_fps(toks, k)).alias("__xs_w"),
    ).select(
        "__xs_id",
        F.col("__xs_w.p").alias("__xs_p"),
        F.col("__xs_w.fp").alias("__xs_fp"),
    )


def _nonowner_occurrences(occ: DataFrame, min_count: int) -> DataFrame:
    """The span-dedup removal semantics, defined EXACTLY ONCE (shared
    by the rewrite and the audit view): the duplicated-window table is
    a map-side-combined aggregate — TOTAL occurrence count (a span
    repeated inside one document still dedups, the ExactSubstr rule,
    unlike segdedup's distinct-document df) plus the owning first
    occurrence (min (id, position)) — filtered to ``min_count`` BEFORE
    the join so unique windows never travel; the inner join back keeps
    only duplicated occurrences, and the owner occurrence is excluded.
    Returns ``(__xs_id, __xs_p, __xs_fp, __xs_cnt, __xs_first)``."""
    dups = (
        occ.groupBy("__xs_fp")
        .agg(
            F.count(F.lit(1)).alias("__xs_cnt"),
            F.min(
                F.struct(
                    F.col("__xs_id").alias("i"), F.col("__xs_p").alias("x")
                )
            ).alias("__xs_first"),
        )
        .filter(F.col("__xs_cnt") >= min_count)
    )
    return occ.join(dups, "__xs_fp").filter(
        ~(
            (F.col("__xs_first.i") == F.col("__xs_id"))
            & (F.col("__xs_first.x") == F.col("__xs_p"))
        )
    )


def exact_span_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rewrite each document with corpus-duplicated token spans removed.

    Tokens are the space-split words of ``text_col`` (the lossless
    segmentation ``segdedup``'s token-window mode uses — reassembly
    joins with one space).  A token is removed when it lies inside the
    k-window of a duplicated fingerprint occurrence that is not the
    corpus-first one — minimum ``(id_col, position)`` owns each
    fingerprint, deterministic on any cluster.  The guarantee is
    positional, per fingerprint: the owner occurrence's tokens are
    never removed ON ACCOUNT OF THEIR OWN fingerprint, but a DIFFERENT
    duplicated fingerprint whose non-owner occurrence overlaps those
    token positions can still rewrite them — so in adversarial
    overlap layouts an intact copy of a given span may not survive
    (only span dedup at sentence/paragraph granularity — ``segdedup``
    — gives a keep-one-copy guarantee, because its units cannot
    partially overlap).  A phrase repeated inside
    a single document collapses the same way (the run of identical
    windows keeps only the owner position).

    Returns one row per input document: ``(id_col, *keep_cols,
    n_tokens, n_removed, n_spans, text_col)`` — ``n_spans`` counts the
    merged removal intervals, ``text_col`` is reassembled from the
    kept tokens in order.  Documents shorter than ``k`` tokens pass
    through untouched; a NULL-text document survives as
    ``(id, 0, 0, 0, "")``.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k}); k=1 is token dedup")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2 (got {min_count})")
    internal = {"__xs_id", "__xs_toks", "__xs_w", "__xs_p", "__xs_fp",
                "__xs_cnt", "__xs_first", "__xs_starts", "__xs_iv",
                "n_tokens", "n_removed", "n_spans"}
    clash = internal & set([id_col, text_col, *keep_cols])
    if clash:
        raise ValueError(
            f"columns collide with span-dedup working names: {sorted(clash)}"
        )
    base = df.select(
        F.col(id_col).alias("__xs_id"),
        *keep_cols,
        _split_tokens(text_col).alias("__xs_toks"),
    )
    occ = _window_occurrences(base, "__xs_id", F.col("__xs_toks"), k)
    starts = (
        _nonowner_occurrences(occ, min_count)
        .groupBy("__xs_id")
        .agg(F.array_sort(F.collect_list("__xs_p")).alias("__xs_starts"))
    )
    iv = merge_starts(F.coalesce(F.col("__xs_starts"), F.array()), k)
    kept = F.filter(
        F.col("__xs_toks"),
        lambda t, j: ~F.exists(
            F.col("__xs_iv"), lambda v: (j >= v["lo"]) & (j < v["hi"])
        ),
    )
    return (
        base.join(starts, "__xs_id", "left")
        .withColumn("__xs_iv", iv)
        .select(
            F.col("__xs_id").alias(id_col),
            *keep_cols,
            F.size("__xs_toks").cast("long").alias("n_tokens"),
            (F.size("__xs_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.size("__xs_iv").cast("long").alias("n_spans"),
            F.array_join(kept, " ").alias(text_col),
        )
    )


def frequent_windows(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """The duplicated k-gram window table as STRINGS: one row per
    window occurring ``min_count``-or-more times corpus-wide —
    ``(window, n_occurrences)``.  The static index the streaming strip
    probes.  Build it over the ORIGINAL (pre-rewrite) corpus — the
    same frame :func:`exact_span_dedup` ran on, NOT its output: after
    the rewrite every previously-duplicated window survives exactly
    once (the owner copy), so no window reaches ``min_count >= 2`` and
    the index would be empty, silently stripping nothing from the
    stream.  Same two-level plan as :func:`exact_span_dedup`'s dup
    table (map-side combine collapses hot windows per task)."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2 (got {min_count})")
    toks = _split_tokens(text_col)
    windows = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(windows).alias("window"))
        .groupBy("window")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )


#: exact-index strip guard: past this many window fingerprints the
#: per-position linear bigint scan dominates — Bloom-pack instead.
#: Tighter than a naive scale-up of segdedup's 20k string cap would
#: suggest: the strip probes at EVERY token position (a 1,000-token
#: document is ~1,000 probes), not once per segment, so the density
#: increase eats the long-vs-string compare advantage
MAX_EXACT_WINDOWS = 10_000


def collect_window_fps(frequent: DataFrame, *, window_col: str = "window") -> list[int]:
    """Fold a :func:`frequent_windows` table into the driver-held
    fingerprint list the exact strip probes — hash64 computed in-plan
    (one projection), only the bigints collected.  Bounded state: one
    long per duplicated window."""
    rows = frequent.select(
        hash64(F.col(window_col)).alias("fp")
    ).collect()
    return [r["fp"] for r in rows]


def strip_duplicated_spans(
    docs: DataFrame,
    index,
    *,
    text_col: str = "text",
    k: int = 5,
    joiner: str = " ",
) -> DataFrame:
    """Strip every indexed duplicated span from each document —
    STATELESS, so it runs identically on a stream (append mode, no
    aggregation, no state): the streaming half of exact-substring span
    dedup.  The batch corpus owns the canonical first occurrence (it
    was deduped with :func:`exact_span_dedup`); arriving documents
    keep NO copy of an indexed span.

    ``index``: the collected window fingerprints (``list[int]`` from
    :func:`collect_window_fps`, exact, capped at
    ``MAX_EXACT_WINDOWS``), or a ``segdedup.SegmentBloom`` built over
    the window STRINGS (``build_segment_bloom(frequent_windows(...),
    segment_col="window")``) — Bloom false positives OVER-strip only.
    Window probing, interval merging, masking, and reassembly are all
    row-local expressions; the Bloom variant's only plan addition is
    the broadcast cross join of the single word-array row.

    Appends ``n_tokens`` / ``n_removed`` / ``n_spans`` and rewrites
    ``text_col``.
    """
    from .segdedup import SegmentBloom

    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    toks = _split_tokens(text_col)
    pos = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - F.lit(k))
    ).otherwise(F.array().cast("array<int>"))
    window_at = lambda p: F.concat_ws(" ", F.slice(toks, p + 1, k))  # noqa: E731
    out_cols = [c for c in docs.columns if c != text_col]

    if isinstance(index, SegmentBloom):
        from .decontam import bloom_frame, might_contain

        bf = bloom_frame(docs.sparkSession, index.words)
        docs = docs.crossJoin(F.broadcast(bf))
        starts = F.filter(
            pos, lambda p: might_contain(window_at(p), F.col("__bloom"), index)
        )
    else:
        index = [int(x) for x in index]
        if len(index) > MAX_EXACT_WINDOWS:
            raise ValueError(
                f"{len(index)} index fingerprints exceeds MAX_EXACT_WINDOWS "
                f"({MAX_EXACT_WINDOWS}): the per-position linear scan would "
                "dominate — Bloom-pack the window strings instead "
                "(build_segment_bloom over frequent_windows)"
            )
        if index:
            lit_idx = F.array(*[F.lit(x) for x in index])
            starts = F.filter(
                pos, lambda p: F.array_contains(lit_idx, hash64(window_at(p)))
            )
        else:  # empty index: nothing to strip (array() would be void-typed)
            starts = F.array().cast("array<int>")
    iv = merge_starts(starts, k)
    kept = F.filter(
        toks,
        lambda t, j: ~F.exists(iv, lambda v: (j >= v["lo"]) & (j < v["hi"])),
    )
    return docs.select(
        *out_cols,
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.size(iv).cast("long").alias("n_spans"),
        F.array_join(kept, joiner).alias(text_col),
    ).drop("__bloom")


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """The audit view: one row per NON-OWNER duplicated-span occurrence
    BEFORE interval merging — ``(id_col, position, fp, n_occurrences,
    owner_id, owner_position)``.  What a pipeline inspects to size
    ``k``/``min_count`` (and what a contamination review reads) without
    rewriting anything."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2 (got {min_count})")
    occ = _window_occurrences(df, id_col, _split_tokens(text_col), k)
    return _nonowner_occurrences(occ, min_count).select(
        F.col("__xs_id").alias(id_col),
        F.col("__xs_p").alias("position"),
        F.col("__xs_fp").alias("fp"),
        F.col("__xs_cnt").alias("n_occurrences"),
        F.col("__xs_first.i").alias("owner_id"),
        F.col("__xs_first.x").alias("owner_position"),
    )
