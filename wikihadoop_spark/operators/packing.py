"""Token-budget packing: assign ordered documents to fixed-budget
shards (the training-data step that turns a curated corpus into
bounded-size chunks for tokenization/serialization).

Shard id = floor(exclusive-prefix-sum(n_tokens) / budget) over a
deterministic document order — a pure function of the data, so results
are reproducible across runs, engines, and cluster sizes.

The naive formulation is a running-sum window with a GLOBAL order and
no partition key, which Spark executes in ONE task — a scale-killer.
This operator computes the same prefix sum distributed:

1. pick range-bucket boundaries from an approx-quantile sketch of the
   order key (one aggregate pass; the boundaries are collected ONCE
   and embedded as literals, so the bucket id is a pure function of
   the DATA — every re-evaluation lands each row in the same bucket),
2. per-bucket token totals via an ordinary hash aggregate (map-side
   combine — one tiny row per bucket reaches the driver; the corpus
   itself does not shuffle for this pass) -> exclusive offsets,
   O(buckets) broadcast state,
3. each bucket's offset joined back (broadcast), then a per-bucket
   cumulative window (partitionBy bucket) adds local prefix sums to
   the offset — the ONE full-row shuffle in the plan.

Because the bucket id derives from the data, not from
``spark_partition_id`` over a sampled ``repartitionByRange``, no
checkpoint is needed to pin a physical partitioning: every evaluation
(and any fault-recovery recompute) is deterministic.  Earlier versions
localCheckpointed the entire range-shuffled corpus to executor-local
storage to stop the range sampler re-rolling between the totals pass
and the final pass — at 100 TB that is a second full corpus copy in
UNRELIABLE storage (an executor loss aborts the job with no recompute
path); the data-derived bucket removes both the copy and the
fragility.

The result equals the single-partition window bit-for-bit (prefix sums
don't depend on where bucket boundaries land), which the tests pin by
running both and by re-running under different partition counts.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .local import local_frame

# Bucket-count ceiling.  More buckets only add parallelism to the
# per-bucket window stage (correctness is bucket-independent, pinned by
# the partition-count-invariance test), while each boundary costs plan
# size (a literal + a WHEN node) and each row a comparison path — and
# ``num_partitions`` defaults to ``defaultParallelism``, which on a
# large cluster reaches tens of thousands.  4096 keeps the bucket
# expression tree small (depth-12 binary search per row), the totals
# collect at O(4k) driver rows, and the worst window task at
# corpus/4096 (≈25 GB at 100 TB — a routine external sort).
MAX_BUCKETS = 4096


def _bucket_of(order: Column, boundaries: list[float], lo: int, hi: int) -> Column:
    """Bucket id for a sorted boundary list via a balanced WHEN tree —
    binary search, O(log B) comparisons per row (the previous
    ``F.aggregate`` over the boundary-literal array was O(B) per row).
    Returns ``lo`` + the count of ``boundaries[lo:hi]`` strictly below
    the key; NULL keys take every ``otherwise`` branch and land in
    bucket 0, matching the old linear fold."""
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(
        order > F.lit(float(boundaries[mid])), _bucket_of(order, boundaries, mid + 1, hi)
    ).otherwise(_bucket_of(order, boundaries, lo, mid))


def _tiebreaks(tiebreak_col: str | Sequence[str] | None) -> list[str]:
    if tiebreak_col is None:
        return []
    if isinstance(tiebreak_col, str):
        return [tiebreak_col]
    return list(tiebreak_col)


def pack_token_budget(
    df: DataFrame,
    *,
    order_col: str,
    tokens_col: str,
    budget: int,
    num_partitions: int | None = None,
    tiebreak_col: str | Sequence[str] | None = None,
) -> DataFrame:
    """Add ``cum_tokens`` (inclusive prefix sum of ``tokens_col`` in
    ``order_col`` order) and ``shard`` (= (cum_tokens - n) div budget:
    the fixed-budget chunk this document starts in).  Documents larger
    than ``budget`` still land in exactly one shard (they start it and
    overflow it — splitting oversized docs is the tokenizer's job
    downstream).

    Determinism contract: the document order must be a TOTAL order —
    ``order_col`` unique, or ``(order_col, *tiebreak_col)`` unique with
    ``tiebreak_col`` given (a name or a sequence of names — e.g. a
    seeded shuffle key orders by hash with ``(id, chunk_idx)`` breaking
    the rare collisions).  With duplicate order keys and no tiebreak
    the prefix sum is partition-count-dependent (the range shuffle may
    split tied keys across partitions and the in-partition tie order is
    arbitrary), which silently breaks the bit-for-bit reproducibility
    this operator promises.  The window uses an explicit ROWS frame:
    Spark's default RANGE frame would make ties peers and assign them
    all the tie-group's total — a different (also order-dependent)
    result."""
    if budget <= 0:
        raise ValueError(f"budget must be positive (got {budget})")
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[order_col].dataType, NumericType):
        raise ValueError(
            f"order_col {order_col!r} must be numeric: bucket boundaries "
            "come from an approx-quantile sketch (use a surrogate numeric "
            "order key, e.g. a dense id)"
        )
    order_cols = [order_col] + _tiebreaks(tiebreak_col)
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # more buckets past the ceiling only shrink window-stage tasks (see
    # MAX_BUCKETS); clamping keeps the bucket expression and the driver
    # offsets O(4k) when defaultParallelism is a big cluster's
    n_parts = min(n_parts, MAX_BUCKETS)
    # data-derived range buckets: boundaries from one approx-quantile
    # sketch, collected ONCE and embedded as literals — the bucket id
    # is then a pure function of the row's order key, so the totals
    # pass, the final pass, and any fault-recovery recompute all agree
    # (no physical-partitioning pin, no corpus checkpoint).  The
    # sketch's error only skews bucket SIZES, never correctness: the
    # output is bucket-independent (tests pin partition-count
    # invariance).  Ties on the order key share a bucket by
    # construction; the tiebreak column orders them inside the window.
    if n_parts > 1:
        probs = [i / n_parts for i in range(1, n_parts)]
        boundaries = sorted(
            set(df.stat.approxQuantile(order_col, probs, 1.0 / (4 * n_parts)))
        )
    else:
        boundaries = []
    bucket = _bucket_of(
        F.col(order_col).cast("double"), boundaries, 0, len(boundaries)
    )
    arranged = df.withColumn("__pid", bucket)
    # one tiny row per bucket via hash aggregate (map-side combine; the
    # corpus does NOT shuffle for this pass) -> exclusive offsets
    totals = (
        arranged.groupBy("__pid")
        .agg(F.sum(tokens_col).alias("__tot"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__tot"]
    # explicit schema: an empty input (e.g. a corpus date-partition
    # with no documents) has no rows to infer types from and must yield
    # an empty result, not a ValueError
    offset_df = local_frame(
        arranged.sparkSession,
        [[int(pid) for pid in offsets], [int(off) for off in offsets.values()]],
        StructType(
            [StructField("__pid", IntegerType()), StructField("__off", LongType())]
        ),
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # LEFT join + loud null guard: the offsets were computed from a
    # separate evaluation of ``arranged`` — if the caller's frame is
    # nondeterministic between the two passes (unpersisted rand(),
    # sampled input, ...), a row can land in a bucket the totals pass
    # never saw.  An inner join would silently DROP such rows; failing
    # on the null offset makes the misalignment loss-loud instead.
    local = arranged.join(F.broadcast(offset_df), "__pid", "left")
    off = F.when(F.col("__off").isNotNull(), F.col("__off")).otherwise(
        F.raise_error(
            F.lit(
                "pack_token_budget: row landed in a bucket absent from the "
                "totals pass — the input frame is nondeterministic between "
                "evaluations; persist/checkpoint it before packing"
            )
        )
    )
    cum = (off + F.sum(tokens_col).over(w)).alias("cum_tokens")
    out = local.select(*df.columns, cum)
    # integer division (no float rounding however large the corpus sum)
    shard = F.expr(f"(cum_tokens - {tokens_col}) div {int(budget)}")
    return out.select(*df.columns, "cum_tokens", shard.alias("shard"))


def write_packed_shards(
    df: DataFrame,
    out_dir: str,
    *,
    order_col: str,
    tokens_col: str,
    budget: int,
    fmt: str = "parquet",
    num_partitions: int | None = None,
    tiebreak_col: str | Sequence[str] | None = None,
) -> DataFrame:
    """Pack ``df`` into fixed-token-budget shards and write ONE file per
    shard under ``out_dir/shard=<id>/`` — the serialization step that
    turns a curated corpus into bounded-size training chunks.

    Plan: after :func:`pack_token_budget` assigns shard ids, a single
    hash repartition on ``shard`` co-locates each shard in exactly one
    task (several shards per task is fine; a shard never straddles
    tasks), and ``partitionBy("shard")`` with rows sorted by
    ``(shard, order_col)`` emits exactly one ordered file per shard.
    Data moves twice total (the range shuffle inside the prefix sum +
    this one), independent of corpus size.

    Sizing at 100 TB: one output directory per shard — pick ``budget``
    so shards land in the 100 MB–1 GB range (≈100k–1M shards at
    100 TB), which both HDFS-style namespaces and object stores
    handle; a million 10-KB shards would be an object-store-metadata
    denial-of-service, and that is a ``budget`` misconfiguration, not
    a plan property.

    Returns the packed DataFrame (with ``cum_tokens``/``shard``) so
    callers can audit shard fill without re-deriving it."""
    packed = pack_token_budget(
        df,
        order_col=order_col,
        tokens_col=tokens_col,
        budget=budget,
        num_partitions=num_partitions,
        tiebreak_col=tiebreak_col,
    )
    order_cols = [order_col] + _tiebreaks(tiebreak_col)
    (
        packed.repartition(F.col("shard"))
        .sortWithinPartitions("shard", *order_cols)
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(out_dir)
    )
    return packed
