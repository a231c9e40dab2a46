"""Regenerate PLANS.md: formatted physical plans for representative
catalog queries, each annotated with the scale property it must keep
(the same properties tests/test_plans.py pins).

  python tools/dump_plans.py   # rewrites PLANS.md at the repo root

Spark numbers expression ids (``l_orderkey#12L``), exchange plan ids
(``[plan_id=104]``) and lambda variables (``lambda x_45``) from
JVM-wide counters, and prints array literals by identity hash
(``UnsafeArrayData@7a50b5f7``), so the same plan prints different
numbers whenever anything else ran first.  Each section renumbers each
kind from 0 in order of first appearance; an unchanged plan then prints
the same bytes and a rerun leaves PLANS.md unchanged.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

# each pattern ends with the ``id`` group it renumbers; an expression
# id follows its attribute's name (``n_name#30``, ``count(1)#7L``), a
# ``#`` inside a literal does not
_IDS = tuple(
    re.compile(p)
    for p in (
        r"(?<=[\w)`])#(?P<id>\d+)",
        r"plan_id=(?P<id>\d+)",
        r"lambda [a-z]_(?P<id>\d+)",
        r"\b[A-Z][\w$]*@(?P<id>[0-9a-f]+)\b",
    )
)


def renumber(plan: str) -> str:
    """``plan`` with each kind of id in ``_IDS`` numbered from 0 in
    order of first appearance."""
    for pattern in _IDS:
        ids: dict[str, int] = {}

        def sub(m: re.Match) -> str:
            head = m.group(0)[: m.start("id") - m.start()]
            return head + str(ids.setdefault(m["id"], len(ids)))

        plan = pattern.sub(sub, plan)
    return plan


# (query, what the plan must show)
SHOWCASE = [
    (
        "scan_filter_project",
        "Predicate and projection reach the parquet scan: `PushedFilters`"
        " carries the discount/shipdate predicates, `ReadSchema` holds only"
        " the four projected columns.",
    ),
    (
        "q5_revenue_by_nation",
        "Star join: every dimension is a `BroadcastHashJoin` build side;"
        " the lineitem fact table is never shuffled for a dim join; one"
        " aggregate exchange at the end.",
    ),
    (
        "sort_topk_global",
        "`TakeOrderedAndProject` — the limit is fused into the sort, no"
        " full global sort materializes.",
    ),
    (
        "minhash_signatures",
        "Row-local signatures: zero aggregation shuffle — the only"
        " exchange is the `_spread` fan-out repartition decoupling"
        " tokenizer parallelism from the (small) scan's file granularity.",
    ),
    (
        "minhash_lsh_pairs",
        "LSH banding: band explode, ONE exchange on the band key reused"
        " by the rank window and the bucket aggregate, `row_number <="
        " cap` truncation upstream of pair expansion (hot buckets are"
        " bounded before any collect_list).",
    ),
    (
        "sample_stratified",
        "Exchange-free: a single narrow map + filter over the scan — the"
        " whole stratified sample costs exactly one pass.",
    ),
    (
        "similarity_topk",
        "Brute-force ANN baseline: the small query side is broadcast"
        " (`BroadcastNestedLoopJoin`); the corpus stays"
        " partition-resident; per-group top-k via `WindowGroupLimit`"
        " pushes the limit below the sort.",
    ),
    (
        "asof_join_events_orders",
        "As-of join as a union + single window pass — one shuffle on the"
        " join key, no range cross product.",
    ),
    (
        "pack_token_budget",
        "Distributed prefix sum: the cumulative window is partitioned by"
        " a DATA-DERIVED range bucket (approx-quantile boundaries baked"
        " in as literals — never a single-partition global-order window,"
        " and no corpus checkpoint: every evaluation recomputes the same"
        " buckets); the per-bucket offsets arrive via a"
        " `BroadcastHashJoin` of an O(buckets) frame.",
    ),
    (
        "dedup_line_frequency",
        "Segment-frequency (C4 line) dedup: one `Generate` (posexplode)"
        " for segmentation, a two-level fingerprint aggregate with"
        " map-side `partial_min`/`partial_count` before each exchange,"
        " the df-filtered dup table joined back by fingerprint, and an"
        " aggregate reassembly — no Window, no cross product, no global"
        " sort.",
    ),
    (
        "dedup_span_exact",
        "Exact-substring span dedup: one `Generate` explodes the"
        " row-local positional k-gram windows, the duplicated-window"
        " table is a map-side-combined `partial_min`/`partial_count`"
        " aggregate filtered BEFORE an INNER join back by fingerprint"
        " (unique windows never travel), starts aggregate per document,"
        " and interval merge + mask + reassembly are higher-order"
        " expressions in the final projection — no Window, no cross"
        " product, no global sort.",
    ),
    (
        "text_c4_clean",
        "C4 line-rule cleaning: the whole rule pass — line split, word"
        " counts, terminal-punctuation suffix tests, blocklists, page"
        " flags, reassembly — is ONE `Project` of higher-order"
        " expressions over the scan; no Exchange, no Join, no Window,"
        " no aggregate anywhere in the plan.",
    ),
    (
        "decontaminate_exact",
        "Benchmark decontamination: the eval-set fingerprints build a"
        " `BroadcastHashJoin LeftAnti` — the corpus is scanned once and"
        " never shuffled for the lookup; the only exchange is the final"
        " per-source aggregate.",
    ),
    (
        "sample_mixture",
        "Mixture rebalancing: the G-row threshold frame arrives via"
        " `BroadcastExchange`; the corpus side is a scan-projection-"
        "filter with no shuffle (the totals aggregate ran as a separate"
        " broadcast-state job at plan-build time).",
    ),
    (
        "mixture_waterfill",
        "Water-filling mixture: the iterative redistribution is DRIVER"
        " math over G scalars, so the executed plan must be identical in"
        " shape to sample_mixture's — broadcast threshold join +"
        " row-local md5-bucket filter, corpus never shuffled; only the"
        " threshold VALUES differ.",
    ),
    (
        "similarity_topk_int8",
        "Int8 similarity kernel: the quantized column is MATERIALIZED"
        " once (`InMemoryTableScan`; at real scale a written int8 column"
        " — the FAISS-SQ8 shape) so Catalyst cannot re-inline the"
        " quantize expression per joined pair (measured 4x slower when"
        " it does); the 10 probes are a broadcast nested-loop of a"
        " 10-row build side, integer dots/norms fold inside whole-stage"
        " codegen, and the rank<=10 window is rewritten to"
        " `WindowGroupLimit` — same search shape as the float path, 4x"
        " fewer bytes moved at scale and ~2x faster at sf0.1.",
    ),
    (
        "text_lm_surprisal",
        "LM surprisal scoring: the vocabulary model is a map-side-"
        "combined aggregate probed via `BroadcastHashJoin`; the only"
        " nested-loop join is the one-row bitlen(N) scalar"
        " (`IdentityBroadcastMode`); per-doc milli-bits are one"
        " partial+final aggregate; the document spine restores"
        " token-free docs with a left join — no window anywhere.",
    ),
    (
        "text_quality_model",
        "Hashed linear quality scorer: the per-token weight fold"
        " (`aggregate` higher-order function) evaluates inside the scan"
        " projection — no explode, no exchange, no Python stage.",
    ),
    (
        "text_diff_adjacent",
        "The diff runs as ONE Arrow-batched Python stage"
        " (`ArrowEvalPython`/`mapInPandas`) — no row-at-a-time"
        " `BatchEvalPython` anywhere.",
    ),
    (
        "ngram_overlap",
        "Cross-doc shingle contamination with NO window anywhere: the"
        " per-shingle document frequency is a partial+final"
        " `HashAggregate` (a power-law stop-shingle pre-reduces map-side;"
        " a window partition could not be split by AQE), the per-doc"
        " totals re-key to uniform doc_id, and the two doc-keyed frames"
        " meet in a small join over the once-checkpointed explode.",
    ),
    (
        "decontaminate_ngram",
        "Exact n-gram decontamination: corpus shingles explode once and"
        " probe the eval set through a BROADCAST left-semi hash join;"
        " contaminated ids anti-join back as a broadcast against a"
        " metadata-only scan — the corpus text is scanned once and never"
        " hash-shuffled (the only exchange on its path is the _spread"
        " fan-out).",
    ),
    (
        "chunk_documents",
        "Training-sequence chunking: chunk starts, slices, and joins are"
        " higher-order array expressions inside the scan projection"
        " followed by ONE `Generate` (posexplode) — no aggregate, no"
        " window, no Python stage; chunking the corpus costs one pass.",
    ),
    (
        "text_scrub_pii",
        "PII scrubbing: a row-local `regexp_replace` chain entirely"
        " inside the scan projection — the plan is exchange-free.",
    ),
    (
        "dedup_verify_pairs",
        "Exact-Jaccard verification of LSH candidates: the candidate frame"
        " and the semi-join-restricted shingle sets are localCheckpointed"
        " (each upstream stage runs ONCE — lazily, the candidate subtree"
        " evaluated 5x, once per consumer leg), so the final plan joins"
        " checkpoint scans with NO parquet re-read.  The lazy lineage —"
        " participating ids broadcast into a left-semi join against the"
        " documents scan, WindowGroupLimit intact on the candidate side —"
        " is pinned separately in tests/test_plans.py via"
        " materialize=False.",
    ),
    (
        "dsir_weights",
        "DSIR importance weighting: the 128-row lambda table and the"
        " one-row bitlen totals ride `BroadcastHashJoin`/broadcast"
        " nested-loop builds onto the row-locally exploded features — the"
        " corpus never shuffles to meet the model; one conditional"
        " aggregate fits target AND raw distributions in a single pass"
        " (`partial_count` map-side combine), one per-doc aggregate folds"
        " the weight, and the id-only spine restores feature-free docs.",
    ),
    (
        "sketch_count_min",
        "Count-min sketch vs exact: the sketch build is ONE"
        " map-side-combined aggregate whose output is bounded at"
        " depth*width cells regardless of vocabulary; the probe side"
        " broadcasts the sketch (`BroadcastHashJoin`) and min-folds per"
        " token — no window, no cartesian, the corpus never shuffles for"
        " the sketch.",
    ),
    (
        "corpus_delta",
        "Incremental snapshot delta: normalized fingerprints are"
        " row-local `md5(regexp_replace(...))` inside both scan"
        " projections; classification is ONE full-outer id equi-join"
        " plus a row-local CASE, with the unchanged majority filtered"
        " above the join — never materialized.",
    ),
    (
        "similarity_topk_int8_lsh",
        "Int8 + LSH composed: the quantized/bucketed index frame is"
        " MATERIALIZED (`InMemoryTableScan` — at real scale a written"
        " int8+bucket column set), the probe is a `BroadcastHashJoin`"
        " on the integer-hyperplane bucket id (an equi-join scanning"
        " ~1/2^8 of the corpus per probe, NOT the brute-force nested"
        " loop), scoring folds exact integer dots in whole-stage"
        " codegen, and rank<=10 rewrites to `WindowGroupLimit`."
        "  Both the bucketing pass and the scoring read only the"
        " 4x-smaller int8 column.",
    ),
    (
        "similarity_topk_int8_ivf",
        "Int8 + IVF composed: the search plan is the same"
        " materialized-index + `BroadcastHashJoin`-on-cluster +"
        " `WindowGroupLimit` shape (the integer Lloyd BUILD runs at"
        " query-construction time — bounded K x D driver state, like"
        " the float IVF); every probe scans ~nprobe/K of the corpus"
        " reading only int8 bytes, and every distance in build and"
        " probe is an exact integer.",
    ),
    (
        "similarity_probe_int8_stream_analog",
        "The streaming int8 IVF probe's batch analog (the SAME"
        " stream_ivf_matches operator a readStream micro-batch runs):"
        " probes quantize row-locally, explode their nprobe nearest"
        " driver-held centroids, and equi-join the WRITTEN index on"
        " cluster id — hash join, never a nested loop; the probe"
        " slice's vec_id predicate is PUSHED into its parquet scan;"
        " rank is the two-phase `WindowGroupLimit` with query_id as"
        " the only shuffle key.  In true streaming the identical plan"
        " runs per micro-batch as a stream-static join.",
    ),
    (
        "similarity_topk_int8_ivf_append",
        "The append lifecycle (round-14 gate): ivf_append_int8 lands"
        " the disjoint slice into the SAME cluster=N directories the"
        " build wrote, so the search plan is IDENTICAL in shape to the"
        " plain IVF search — `BroadcastHashJoin` on cluster id against"
        " the written artifact, two-phase `WindowGroupLimit`, query_id"
        " the only shuffle key.  The append changed the data, not the"
        " plan: that invariance is the layout contract, and at 100 TB"
        " it is what makes incremental ingest free for readers (a"
        " daily slice assigns row-locally against K x D driver-held"
        " centroids — zero shuffle — and appends only its own"
        " partitions).",
    ),
    (
        "embedding_cosine_dedup_int8",
        "SemDeDup blocking over int8: ONE materialized quantized frame"
        " (`InMemoryTableScan`) feeds 2 sides x 2 families of capped"
        " self-joins — without the persist Catalyst re-inlines the"
        " quantize expression per pair (measured 2.7x slower); each"
        " family is a row_number cap above a bucket equi-join (worst"
        " task bounded at cap^2), the threshold compare runs on the"
        " exact int8 cosine, and the family union deduplicates on the"
        " pair key.",
    ),
    (
        "corpus_report_card",
        "Corpus data card (exact slice): per-doc metrics are row-local in"
        " the scan projection; ONE rollup aggregate computes every source"
        " row AND the total (the `Expand` duplicates only tiny projected"
        " rows, never text) — one scan, one exchange, no second pass for"
        " the total.",
    ),
]


def main() -> None:
    from wikihadoop_spark.relational import QUERIES
    from wikihadoop_spark.session import get_spark

    spark = get_spark("plan-dump", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # untruncated scan metadata: a cut at a fixed length moves with the
    # digits of the ids before it and drops ids from the numbering order
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))

    parts = [
        "# PLANS — physical-plan audit of representative queries\n",
        "Generated by `python tools/dump_plans.py` (at sf0.001; plan SHAPE"
        " is scale-independent — AQE adjusts partition counts at runtime)."
        " Each section states the property the plan must keep at 100 TB;"
        " `tests/test_plans.py` pins the same properties in CI.\n",
    ]
    for name, why in SHOWCASE:
        df = QUERIES[name](spark, SF)
        plan = renumber(df._jdf.queryExecution().executedPlan().toString())
        parts.append(f"## `{name}`\n\n{why}\n\n```\n{plan.strip()}\n```\n")
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(parts))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
