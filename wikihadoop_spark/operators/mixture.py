"""Data-mixture rebalancing: deterministic per-group downsampling to a
target token mixture (the step between curation and shard packing that
decides HOW MUCH of each source/domain/language enters the training
set).

Given integer mixture weights ``w_g`` and a total ``token_budget``,
each group's token target is ``budget * w_g / sum(w)`` and its keep
rate is ``min(1, target / available_g)``.  A group with fewer tokens
than its target is kept whole (single-pass proportional capping —
:func:`mixture_report` surfaces the residual budget instead of
silently redistributing it; callers that want water-filling re-run
with the residual).

Engine-portable determinism: the keep decision is
``md5-bucket(salt:id) < threshold_g`` where ``threshold_g`` is derived
with EXACT integer arithmetic (arbitrary-precision on the driver, so
``budget * w_g * scale`` can never overflow, unlike a fixed-width SQL
expression).  The same floor-division threshold is expressible in
one SQL integer division for oracle parity.

Plan shape at 100 TB: one hash aggregate to G group totals (G = tens,
collected as broadcast STATE, not data — same pattern as the IVF
centroids), thresholds joined back via broadcast, then a row-local
hash filter inside the scan projection.  The corpus is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash64
from .local import local_frame

#: bucket resolution: rates are quantized to 1/SCALE
SCALE = 1_000_000


def mixture_thresholds(
    totals: dict[str, int],
    weights: dict[str, int],
    token_budget: int,
    *,
    default_weight: int | None = None,
) -> dict[str, int]:
    """Exact integer keep-thresholds (in [0, SCALE]) per group.

    ``threshold_g = min(SCALE, floor(budget * w_g * SCALE / (sum_w * a_g)))``
    computed with Python's arbitrary-precision ints — no overflow at
    any corpus size.  ``sum_w`` runs over the groups PRESENT in the
    data, so absent groups don't dilute the mixture."""
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0 (got {token_budget})")
    missing = set(totals) - set(weights)
    if missing and default_weight is None:
        raise ValueError(f"groups without a mixture weight: {sorted(missing)}")
    if missing:
        weights = {**weights, **{g: default_weight for g in missing}}
    if not totals:
        # an empty corpus partition has no groups to threshold — return
        # the empty plan instead of raising (matches the waterfill
        # variant; a date partition with zero documents is a real input)
        return {}
    sum_w = sum(weights[g] for g in totals)
    if sum_w <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    out = {}
    for g, avail in totals.items():
        if avail <= 0:
            out[g] = 0
            continue
        out[g] = min(SCALE, (token_budget * weights[g] * SCALE) // (sum_w * avail))
    return out


def mixture_sample(
    df: DataFrame,
    *,
    group_col: str,
    tokens_col: str,
    id_col: str,
    weights: dict[str, int],
    token_budget: int,
    salt: str = "mix",
    default_weight: int | None = None,
    waterfill: bool = False,
) -> DataFrame:
    """Deterministically sample ``df`` toward the target mixture.
    ``waterfill=True`` redistributes capped groups' unused budget (see
    :func:`mixture_thresholds_waterfill`).

    Returns the kept rows with ``bucket`` (the hash draw) and
    ``keep_threshold`` (the group's quantized rate) appended, so
    inverse-probability weights (``SCALE / keep_threshold``) can be
    derived without recomputation.  A pure function of (data, weights,
    budget, salt): reproducible across runs, engines, partitionings,
    and cluster sizes."""
    totals = {
        r["g"]: int(r["a"])
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(tokens_col).alias("a"))
        .collect()
    }
    fn = mixture_thresholds_waterfill if waterfill else mixture_thresholds
    thr = fn(totals, weights, token_budget, default_weight=default_weight)
    # a NULL group is a real group (ungrouped/unknown-source docs):
    # sort with a None-tolerant key and join null-safe so its rows get
    # their threshold instead of vanishing through an inner equi-join.
    # The frame's group column inherits df's actual dtype — a hardcoded
    # string schema would raise (or force an implicit cast inside the
    # eqNullSafe join) for int/long group ids.
    from pyspark.sql.types import LongType, StructField, StructType

    thr_schema = StructType(
        [
            StructField("__mix_grp", df.schema[group_col].dataType, True),
            StructField("keep_threshold", LongType(), False),
        ]
    )
    ordered = sorted(thr.items(), key=lambda kv: (kv[0] is None, str(kv[0] or "")))
    thr_df = local_frame(
        df.sparkSession, [[g for g, _ in ordered], [t for _, t in ordered]], thr_schema
    )
    bucket = (
        hash64(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))) % SCALE
    )
    return (
        df.join(
            F.broadcast(thr_df),
            df[group_col].eqNullSafe(thr_df["__mix_grp"]),
        )
        .drop("__mix_grp")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < F.col("keep_threshold"))
    )


def mixture_report(
    totals: dict[str, int],
    weights: dict[str, int],
    token_budget: int,
    *,
    default_weight: int | None = None,
) -> dict:
    """Audit the mixture plan: per-group ``(available, target,
    threshold, expected_kept, capped)`` plus the residual budget left
    by groups whose supply fell short of their target.

    ``expected_kept = available * threshold / SCALE`` (the sampler's
    expectation); ``residual = budget - sum(expected_kept)`` — feed it
    to a second pass over the uncapped groups for water-filling.
    Driver-side arithmetic on G scalars; no Spark job."""
    thr = mixture_thresholds(
        totals, weights, token_budget, default_weight=default_weight
    )
    if default_weight is not None:
        weights = {
            **{g: default_weight for g in totals}, **weights
        }
    sum_w = sum(weights[g] for g in totals)
    groups = {}
    expected_total = 0
    for g, avail in totals.items():
        target = (token_budget * weights[g]) // sum_w if sum_w else 0
        expected = (avail * thr[g]) // SCALE
        expected_total += expected
        groups[g] = {
            "available": avail,
            "target": target,
            "threshold": thr[g],
            "expected_kept": expected,
            "capped": thr[g] == SCALE,
        }
    return {"groups": groups, "residual": token_budget - expected_total}


def mixture_thresholds_waterfill(
    totals: dict[str, int],
    weights: dict[str, int],
    token_budget: int,
    *,
    default_weight: int | None = None,
) -> dict[str, int]:
    """Water-filling thresholds: groups whose supply falls short of
    their proportional target are kept whole and their unused budget is
    REDISTRIBUTED over the remaining groups by weight, iterating until
    no new group caps (at most G rounds of exact integer arithmetic —
    driver-side, no Spark job).

    Compared to :func:`mixture_thresholds` (single-pass proportional
    capping), the realized token total lands within floor-rounding
    slack of ``min(budget, total supply)`` instead of leaving the
    capped groups' shortfall unfilled.  Every group's threshold is >=
    its single-pass value, so water-filling only ever keeps MORE."""
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0 (got {token_budget})")
    missing = set(totals) - set(weights)
    if missing and default_weight is None:
        raise ValueError(f"groups without a mixture weight: {sorted(missing)}")
    if missing:
        weights = {**weights, **{g: default_weight for g in missing}}
    if totals and sum(weights[g] for g in totals) <= 0:
        raise ValueError("mixture weights must sum to a positive value")

    active = {g for g, a in totals.items() if a > 0}
    remaining = token_budget
    capped: set[str] = {g for g in totals if totals[g] <= 0}
    while active:
        sum_w = sum(weights[g] for g in active)
        if sum_w <= 0:
            break
        # cap condition: proportional target of the ACTIVE pool covers
        # the group's whole supply (exact cross-multiplied integers)
        newly = {g for g in active if totals[g] * sum_w <= remaining * weights[g]}
        if not newly:
            break
        for g in newly:
            remaining -= totals[g]
        capped |= newly
        active -= newly

    out = {g: (SCALE if totals[g] > 0 else 0) for g in capped}
    sum_w = sum(weights[g] for g in active)
    for g in active:
        # sum_w can hit 0 with groups still active: every POSITIVE-
        # weight group capped and only weight-0 groups (weight 0 =
        # "exclude this source") remain — their share is 0, matching
        # the single-pass formula, not a division by zero
        out[g] = (
            0
            if sum_w <= 0
            else min(
                SCALE, (remaining * weights[g] * SCALE) // (sum_w * totals[g])
            )
        )
    return out
