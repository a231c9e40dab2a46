"""Job counters / observed metrics (reference operators A1-A3).

The reference counts FOUND_PAGES / WRITTEN_PAGES / WRITTEN_REVISIONS /
SKIPPED_PAGES through Hadoop counters
(StreamWikiDumpInputFormat.java:589-591) and a stderr protocol from the
streaming mapper (revision_differ.py:166).  Spark-first, the same
surface is ``df.observe`` + ``pyspark.sql.Observation``: metrics ride
the existing action (no extra job), aggregate across tasks like
accumulators, and are exact for counts.  Progress (A3) is the Spark UI
/ task metrics — free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_counts(
    df: DataFrame, **named_conditions
) -> tuple[DataFrame, Observation]:
    """Attach counter metrics to a DataFrame without an extra pass.

    ``named_conditions`` maps counter name -> boolean Column (or None
    for a plain row count).  After any action on the returned
    DataFrame, ``observation.get`` yields the counts.

        df, obs = observed_counts(rows, total=None,
                                  skipped=F.col("ns") != 0)
        df.write...   # runs the job
        obs.get       # {'total': ..., 'skipped': ...}
    """
    obs = Observation()
    metrics = []
    for name, cond in named_conditions.items():
        if cond is None:
            metrics.append(F.count(F.lit(1)).alias(name))
        else:
            metrics.append(F.sum(cond.cast("long")).alias(name))
    if not metrics:
        metrics = [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *metrics), obs


def read_counter(obs: Observation, default: int | None = None) -> int:
    """Read an Observation's single metric, tolerating AQE
    empty-relation pruning.

    When an observed branch feeds a join whose other side turns out
    EMPTY, adaptive execution replaces the join with an empty relation
    and prunes the branch — the execution still completes, so the
    Observation resolves with an EMPTY row and ``obs.get`` raises
    (Py4J ``toPyRow`` assertion) instead of blocking.  For counters
    whose branch is only ever pruned when the true answer is zero
    (e.g. a dropped-members count attached to a bucket frame that was
    empty), pass ``default=0``; with ``default=None`` the read
    re-raises, because a poisoned stage-count is a real bug.

    Only the SPECIFIC empty-row failure maps to ``default`` — the
    pruned row surfaces as a Py4J ``AssertionError`` from ``toPyRow``
    (shape verified in tests), or ``StopIteration`` on an empty metric
    dict.  Anything else (connection loss, interrupted job) re-raises
    regardless: reporting an unrelated failure as "0 dropped members"
    would silently hide it."""
    try:
        return int(next(iter(obs.get.values())))
    except StopIteration:
        if default is None:
            raise
        return default
    except Exception as exc:
        # match by class NAME + message, not an import: importing py4j
        # inside the handler would itself raise on distributions that
        # ship without it (pyspark-connect), masking the real error
        pruned_row = type(exc).__name__ == "Py4JJavaError" and (
            "toPyRow" in str(exc) and "AssertionError" in str(exc)
        )
        if default is None or not pruned_row:
            raise
        return default


class TruncationCounter:
    """Exact dropped-member counter for the capped (WindowGroupLimit)
    paths, with NO second evaluation of the input subtree.

    The capped operators (``lsh_candidate_pairs``, ``signature_index``,
    ``capped_block_pairs``) truncate hot groups to the lowest ``cap``
    ids via a rank window whose filter Spark rewrites to a partial
    (pre-exchange) WindowGroupLimit — so the information "how many rows
    did the cap drop" is destroyed before it could be aggregated on the
    main path, and a single ``Observation`` (one attach point) cannot
    express it.  The previous design counted it on a separate
    per-group COUNT branch joined back 1:1, which re-evaluated the
    whole input subtree (the round-8 verdict's acknowledged caveat).

    This wrapper measures the same exact number as TWO observations
    riding the operator's single linear plan:

    * ``total`` — a count BELOW the rank window (and therefore below
      the partial truncation and below the exchange: on a self-joining
      consumer the reused exchange evaluates that map side once);
    * ``kept`` — a count of the rows surviving the truncation filter
      (attached above the filter, so the Filter-over-Window pattern
      stays intact and the WindowGroupLimit rewrite still fires).

    ``dropped = total - kept = Σ_groups max(n - cap, 0)`` — identical
    to the old per-group aggregate, with zero extra passes, branches,
    or joins.  Reads mirror ``Observation``: ``.get`` returns
    ``{<counter name>: dropped}`` after the first action, so
    ``read_counter`` works unchanged.  One counter per operator call
    (attach-once, like ``Observation``).  Self-joins of an observed
    frame are safe: both legs carry the identical named metrics node,
    and Spark's observed-metrics semantics report the one (necessarily
    equal) value rather than summing the duplicates — pinned by the
    accumulator test in tests/test_plans.py.
    """

    def __init__(self) -> None:
        self._name: str | None = None
        self._total = Observation()
        self._kept = Observation()

    # -- operator-side attach points ---------------------------------
    def _observe_total(self, df: DataFrame, name: str) -> DataFrame:
        if self._name is not None:
            raise ValueError(
                f"TruncationCounter already attached as {self._name!r} — "
                "use a fresh counter per operator call"
            )
        self._name = name
        return df.observe(self._total, F.count(F.lit(1)).alias("total"))

    def _observe_kept(self, df: DataFrame) -> DataFrame:
        return df.observe(self._kept, F.count(F.lit(1)).alias("kept"))

    # -- caller-side read ---------------------------------------------
    @property
    def get(self) -> dict[str, int]:
        """{counter name: dropped members}; blocks until the first
        action completes, like ``Observation.get``.  Component reads
        raise exactly as ``Observation.get`` does (AQE-pruned empty
        rows included), so ``read_counter``'s handling applies."""
        total = int(next(iter(self._total.get.values())))
        kept = int(next(iter(self._kept.get.values())))
        return {self._name or "dropped_members": total - kept}


def codegen_compiles(spark) -> tuple[int, float] | None:
    """``(classes compiled, milliseconds compiling)`` by Spark's code
    generator in this JVM since it started, or None on a Spark without
    these hooks.

    The count is ``CodegenMetrics``' compile-time histogram, which
    Janino's ``doCompile`` updates once per compiled class; a class
    served from the generated-class cache does not count.  The
    milliseconds are the same ``doCompile``'s nanosecond accumulator
    (``CodeGenerator.compileTime``); the histogram keeps samples, not a
    sum.  Both are JVM-wide, so under a local master they cover the
    driver and every executor task; read them before and after a run and
    take the difference.  ``CodeGenerator`` is not touched before the
    first compile: its first load fixes the cache size for the JVM."""
    try:
        jvm = spark.sparkContext._jvm
        count = int(
            jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount()
        )
        if count == 0:
            return 0, 0.0
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return count, nanos / 1e6
    except Exception:  # noqa: BLE001 — a Spark without the hooks: no reading
        return None
