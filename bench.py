"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], the diffdb job over
three synthetic dumps, and at sf0.1 the pipeline extras and an sf1
spot check.

Prints ONE JSON line:
  {"metric": "...", "unit": "sec", ..., "queries": {...}}

The driver keeps only the LAST 2000 characters of the line, so the line
is a compact subset ordered with the headline ``queries`` dict LAST, and
the FULL result (spreads, pipeline extras, sf1 spot) is written to
BENCH_SELF.json in the repo root ($SPARK_GRAFT_BENCH_SELF overrides the
path; ``--no-artifact`` writes it to a temporary file instead).

One timing rule (``_timed_runs``): after an untimed warm-up, every row
is the minimum of three runs, each behind a prewarm, plus up to
_STALL_EXTRA_RUNS more while no second run confirms the minimum.  Query
rows compute their full output into a noop sink (``_full``); dump rows
write the diffdb TSV with ``write_diffdb_tsv``.

Contention is judged from the run's own readings.  A row whose minimum
is still unconfirmed ships ``"contended": true`` (headline names are
listed in ``queries_contended``).  A fixed calibration job is timed at
the start and at the end of the run; both minima ship as
``calibration_sec``, and the run is ``contended`` when they differ by
more than _STALL_SPREAD_FACTOR of the smaller.

Every row also records ``codegen_compiles``: the classes Spark's code
generator compiled over its timed runs (``observability.codegen_compiles``).
A row whose warmed runs still compile is paying Janino and the JIT
again, not measuring steady state.  The printed line carries the sum
over the headline rows; BENCH_SELF.json has them per query.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from wikihadoop_spark.observability import codegen_compiles
from wikihadoop_spark.relational import QUERIES
from wikihadoop_spark.session import get_spark

def _corpus_base() -> str:
    """Directory for the cached bench corpora.  RAM-backed by default
    (page cache on this host is unreliable); ``SPARK_GRAFT_BENCH_DIR``
    overrides so tests can use a private path instead of reusing a
    full-size corpus a prior real bench run left behind."""
    override = os.environ.get("SPARK_GRAFT_BENCH_DIR")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    return "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_revenue_by_nation",
    "join_inner_agg",
    "agg_cube",
    "window_rank_topk",
    "window_lag_pairs",
    "sessionize_events",
    "asof_join_events_orders",
    "range_join_near_orders",
    "minhash_lsh_pairs",
    "similarity_topk",
    "text_quality",
    "text_fingerprint",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    # 500 MB of text flowing through 32 concurrent Arrow batches GC-
    # thrashes the default 8g local-mode JVM (20-45 s outlier runs);
    # headroom removes the mode entirely
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("wikihadoop-bench", cpus=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: run every headline query once at the tiny sf so whole-stage
    # codegen compilation (seconds for the wide minhash/window exprs) is
    # paid before timing — the timed runs then measure the engine.
    for name in HEADLINE:
        _full(QUERIES[name](spark, "/root/testdata/sf0.001"))
    calibration = [_calibration(spark)]

    def prewarm() -> None:
        spark.catalog.clearCache()
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            _fault_in(p)

    rows = {
        name: _time_row(lambda: _full(QUERIES[name](spark, sf_dir)), prewarm, spark)
        for name in HEADLINE
    }
    timings = {name: row["sec"] for name, row in rows.items()}

    wikidump = _bench_wikidump(spark, cpus)
    extras = _bench_pipeline_extras(spark, sf_dir)
    sf01 = {**timings, **{n: r["sec"] for n, r in (extras or {}).items()}}
    sf1_spot = _bench_sf1_spot(spark, sf_dir, sf01)
    calibration.append(_calibration(spark))
    verdict = _calibrated(*calibration)
    contended = [name for name, row in rows.items() if row.get("contended")]
    compiles = {name: row["codegen_compiles"] for name, row in rows.items()}

    total = round(sum(timings.values()), 3)
    # the shuffle-bound sf1 spot minima also print as ``sf1_<name>``
    # entries of ``queries`` (``value`` sums the HEADLINE names only):
    # every headline query at sf0.1 is sub-second and fixed driver
    # latency dominates, so a lower-core-count re-run of the bench reads
    # ≈1 on them whatever the plan; these multi-second, exchange-heavy
    # rows give a core-count ratio that measures parallelism
    if sf1_spot is not None:
        for _n in _SF1_SCALING_ROWS:
            if _n in sf1_spot:
                timings[f"sf1_{_n}"] = sf1_spot[_n]["sec"]
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        **verdict,
        "queries_contended": contended,
        "queries": timings,
        "queries_spread": {name: row["spread_sec"] for name, row in rows.items()},
        "queries_codegen_compiles": compiles,
        "wikidump": wikidump,
    }
    if sf1_spot is not None:
        full["sf1_spot"] = sf1_spot
    if extras is not None:
        full["pipeline_extras"] = extras
    # rehearsal runs pass --no-artifact so mid-change timing passes
    # don't churn the committed artifact
    if "--no-artifact" in sys.argv:
        self_path = os.path.join(
            tempfile.gettempdir(), f"bench_self_rehearsal_{os.getpid()}.json"
        )
    else:
        self_path = os.environ.get(
            "SPARK_GRAFT_BENCH_SELF", os.path.join(REPO_ROOT, "BENCH_SELF.json")
        )
    with open(self_path, "w") as fh:
        json.dump(full, fh, indent=2, sort_keys=True)
        fh.write("\n")
    # compact printed line: it must fit the driver's ~2000-character
    # tail capture IN FULL, so sf1_spot and the spreads stay file-only
    # (the `full` key points at the file)
    out = {
        "metric": "headline_suite_seconds",
        "unit": "sec",
        "full": os.path.basename(self_path),
        **verdict,
        "wikidump": wikidump,
        "value": total,
        "sf": sf,
        # classes Spark compiled over the headline rows' timed runs
        "codegen_compiles": None if None in compiles.values() else sum(compiles.values()),
        "queries_contended": contended,
        "queries": timings,
    }
    line = json.dumps(out)
    if len(line) > 1900:  # keep headroom under the 2000-char capture
        out.pop("wikidump", None)
        line = json.dumps(out)
    print(line, flush=True)
    spark.stop()


def _fault_in(path: str) -> None:
    """Read ``path`` once, sequentially, into the page cache: the VM's
    cache is unreliably evicted between runs, and concurrent cold
    readers thrash the virtio disk far worse than one sequential pass —
    the bench measures the engine, not the disk."""
    with open(path, "rb") as fh:
        while fh.read(1 << 24):
            pass


def _full(df) -> None:
    """Compute every output column of ``df`` into a noop sink.  A
    ``.count()`` lets Catalyst prune what a count does not need (q1's
    count plan keeps the group-by and drops every SUM/AVG)."""
    df.write.format("noop").mode("overwrite").save()


# Stall fallback: a pass whose three timed runs ALL landed in host
# stalls inflates even the minimum.  The shipped min is trusted once a
# SECOND run CONFIRMS it (lands within _STALL_SPREAD_FACTOR of it) — a
# lone outlier-fast run proves nothing was steady-state; two agreeing
# minima do.  While the min is unconfirmed after the standard passes,
# take up to _STALL_EXTRA_RUNS extra timed runs (each behind a fresh
# prewarm).  Confirmation — not total spread — is the loop condition
# on purpose: spread (max - min) can only GROW as runs append, so a
# spread-based condition could never be satisfied by new evidence,
# while "did a second run land near the min" can (and usually is
# already true for a merely-noisy pass, e.g. [1.0, 1.0, 1.8], which
# ships with no extra runs).  The recorded spread keeps the stalled
# maximum on purpose: a wide spread is the artifact's own signature of
# a noisy pass.
_STALL_SPREAD_FACTOR = 0.5
_STALL_EXTRA_RUNS = 2


def _needs_stall_rerun(values: list[float]) -> bool:
    """True while NO second run has landed within _STALL_SPREAD_FACTOR
    of the minimum — i.e. the min is a one-off nobody reproduced."""
    lo = sorted(values)[:2]
    return lo[1] - lo[0] > _STALL_SPREAD_FACTOR * lo[0]


def _timed_runs(run, prewarm, passes: int = 3) -> list[float]:
    """min-of-N timing loop with the confirmed-min stall fallback —
    the one timing rule every bench row goes through.  ``run`` returns
    elapsed seconds; ``prewarm`` runs, untimed, before every timed pass.
    While no second run confirms the minimum, up to _STALL_EXTRA_RUNS
    extra passes are taken."""
    dts = []
    for _ in range(passes):
        prewarm()
        dts.append(run())
    for _ in range(_STALL_EXTRA_RUNS):
        if not _needs_stall_rerun(dts):
            break
        prewarm()
        dts.append(run())
    return dts


def _row(dts: list[float]) -> dict:
    """One timed row as shipped: the minimum, the spread to the slowest
    run and, when no second run confirmed the minimum even after the
    extra runs, ``"contended": true`` — the host set that reading."""
    best = min(dts)
    row = {"sec": round(best, 3), "spread_sec": round(max(dts) - best, 3)}
    if _needs_stall_rerun(dts):
        row["contended"] = True
    return row


def _measured_row(run, prewarm, spark=None) -> tuple[dict, list[float]]:
    """``run`` timed through ``_timed_runs``: the shipped row and the
    times themselves.  Given ``spark``, the row also carries the classes
    Spark compiled over the timed runs as ``codegen_compiles`` (None
    where Spark has no reading)."""
    before = spark and codegen_compiles(spark)
    dts = _timed_runs(run, prewarm)
    row = _row(dts)
    if spark is not None:
        after = codegen_compiles(spark)
        row["codegen_compiles"] = after[0] - before[0] if before and after else None
    return row, dts


def _time_row(work, prewarm, spark=None) -> dict:
    """The shipped row for ``work`` timed through ``_timed_runs``, with
    ``codegen_compiles`` when given ``spark``."""

    def run() -> float:
        t0 = time.perf_counter()
        work()
        return time.perf_counter() - t0

    return _measured_row(run, prewarm, spark)[0]


# The calibration job: one fixed-size CPU-bound aggregate, the same
# work whatever the scale factor (~1 s on 4 cores).
_CALIBRATION_ROWS = 500_000_000


def _calibration(spark) -> float:
    """Minimum seconds of the calibration job, timed like every row."""

    def job() -> None:
        # a fresh frame per run: re-running one frame reuses its
        # shuffle output and times only the final stage
        spark.range(_CALIBRATION_ROWS).selectExpr("sum(hash(id))").collect()

    job()  # codegen and JIT warm-up
    return _time_row(job, lambda: None)["sec"]


def _calibrated(start: float, end: float) -> dict:
    """The run-level verdict: the calibration minima at the start and
    the end of the run, and ``contended`` when they differ by more than
    _STALL_SPREAD_FACTOR of the smaller — the rule that confirms a
    row's minimum, applied to the two readings of one fixed job."""
    return {
        "calibration_sec": [start, end],
        "contended": _needs_stall_rerun([start, end]),
    }


# Training-pipeline rows, timed separately so the headline total stays
# comparable.  dedup_clusters runs jobs while it builds (the edge
# checkpoint, then a driver union-find or, over the driver-finish
# bound, every convergence round), so its timing includes them.
_PIPELINE_EXTRAS = (
    "dedup_clusters",
    "dedup_verify_pairs",
    "dedup_keeper_quality",
    "ngram_overlap",
    "text_repetition",
    "sample_stratified",
    "sample_mixture",
    "text_tfidf_topk",
    "decontaminate_exact",
    "decontaminate_ngram",
    "decontaminate_bloom",
    "text_quality_model",
    "chunk_documents",
    "text_scrub_pii",
    # the checkpoint-free distributed prefix sum
    "pack_token_budget",
    # C4-style segment-frequency (line) dedup
    "dedup_line_frequency",
    # DSIR importance weighting (model fit + scoring pass)
    "dsir_weights",
    # C4 line-rule cleaning (row-local rule pass — its cost IS the scan)
    "text_c4_clean",
    # exact-substring span dedup (positional window explode + dup
    # aggregate + rewrite) and SemDeDup resolution (capped embedding
    # pairs + iterative components).  semantic_dedup must NOT join the
    # sf1 spot: the 10x replica copies embeddings verbatim (only vec_id
    # shifts), so identical vectors pair across copies and the pair
    # count grows quadratically in the replication factor — a data
    # artifact, not engine scaling.
    "dedup_span_exact",
    "semantic_dedup",
    # LM scores, the bounded-state sketch and the waterfill branch —
    # sf0.1 numbers so their sf1 spots have a denominator
    "text_lm_surprisal",
    "text_lm_bigram",
    "sketch_count_min",
    "mixture_waterfill",
    # the int8 similarity kernel, timed next to the float brute-force
    # headline (similarity_topk) on the same probes/corpus
    "similarity_topk_int8",
    # CCNet perplexity terciles (bounded-domain histogram — its cost is
    # the scoring pass plus one tiny aggregate)
    "text_lm_buckets",
    # the int8 kernel composed into both bucketed ANN paths.  The int8
    # IVF reads its WRITTEN index (train-once/search-many): the first
    # invocation after a corpus change pays the integer Lloyd once and
    # writes the artifact; the timed runs measure the steady-state
    # SEARCH cost over the cached index
    "similarity_topk_int8_lsh",
    "similarity_topk_int8_ivf",
    # SemDeDup blocking over int8 (two-family multiprobe), next to the
    # float embedding_cosine_dedup
    "embedding_cosine_dedup_int8",
    # the streaming int8 IVF probe's batch analog — the micro-batch
    # probe cost against the written index
    "similarity_probe_int8_stream_analog",
    # the composed curation chain (_curate_e2e)
    "curation_e2e",
)


def _curate_e2e(spark, sf_dir: str) -> None:
    """End-to-end curation chain (quality -> exact dedup -> near-dedup
    -> decontaminate -> mixture): one composed plan — the per-operator
    extras isolate stages; this is the "would the whole pipeline run"
    number.  Shared by the sf0.1 extras and the sf1 spot-bench."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    res = curate_corpus(
        docs,
        benchmark=bench_docs,
        mixture_weights={"src0": 5},
        token_budget=10**9,
    )
    _full(res.curated)
    res.unpersist()


def _run_row(spark, name: str, data_dir: str) -> None:
    """Compute one extras or spot row's full output: a catalog query,
    or the composed curation chain."""
    if name == "curation_e2e":
        _curate_e2e(spark, data_dir)
    else:
        _full(QUERIES[name](spark, data_dir))


def _bench_pipeline_extras(spark, sf_dir: str) -> dict | None:
    if not sf_dir.rstrip("/").endswith("sf0.1"):
        return None
    extras: dict[str, dict] = {}
    for name in _PIPELINE_EXTRAS:
        _run_row(spark, name, "/root/testdata/sf0.001")  # warm codegen
        # several extras persist intermediate frames with no unpersist
        # hook (a query returns a lazy frame), and Spark's CacheManager
        # would substitute a PRIOR run's still-registered
        # InMemoryRelation into a later identical plan fragment, so a
        # later run partly measures cached intermediates: clearing the
        # cache before every timed run makes each one compute from the
        # parquet inputs
        extras[name] = _time_row(
            lambda: _run_row(spark, name, sf_dir), spark.catalog.clearCache, spark
        )
    return extras


# The sf1 spot rows whose minima ALSO print as `sf1_<name>` entries in
# the compact line's ``queries`` dict — the shuffle-bound multi-second
# queries where a core-count ratio measures parallelism rather than
# fixed driver latency.
_SF1_SCALING_ROWS = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "semantic_dedup",
    "curation_e2e",
)

# The historically slowest queries, re-timed at 10x the bench scale to
# show where the scaling curve bends.
_SF1_SPOT_QUERIES = (
    "minhash_lsh_pairs",
    "q3_top_revenue",
    "similarity_topk",
    # the iterative cluster-resolution pipeline — its 10x ratio shows
    # fixpoint rounds + per-round overhead scaling, not just one plan
    "dedup_clusters",
    # the full curation chain (persist + CC + mixture) and the
    # de-skewed cross-doc overlap (checkpointed explode + two hash
    # aggregates)
    "curation_e2e",
    "ngram_overlap",
    # the exact-Jaccard rerank — candidate-bound by design, so its 10x
    # ratio shows whether cost really tracks the capped candidate set
    # rather than the corpus
    "dedup_verify_pairs",
    # segment-frequency dedup — the explode + two-level aggregate +
    # join + reassembly chain scaling together
    "dedup_line_frequency",
    # DSIR weighting — one conditional model aggregate + the broadcast
    # lambda join over the exploded features
    "dsir_weights",
    # dedup_span_exact and semantic_dedup must NOT run on THIS replica:
    # the 'e'-only text substitution leaves every e-free 5-token window
    # (~8% of all windows, measured) byte-identical across the 10
    # copies, and embeddings are copied verbatim (only vec_id shifts) —
    # both become corpus-duplicated ONLY at sf1, so the ratio would
    # read as super-linear engine scaling when it is a replication
    # artifact.  They spot on the DEDICATED replica below instead.
)

# The heavy operators' 10x points, measured on a SECOND replica built
# to remove the artifacts above: document text substitutes BOTH 'e' and
# 'a' per copy (a 5-token window must dodge both letters in all five
# tokens to stay duplicated across copies — the residual artifact is
# QUANTIFIED in the spot entry: dup_windows_x10 is the sf1/sf0.1 ratio
# of distinct duplicated fingerprints, ~10 when replication added
# none), and embeddings get a per-copy deterministic SIGNED PERMUTATION
# (a permutation mixes dimensions, so a cluster-pair's cross-copy
# cosines no longer share one coherent value; within-copy cosines stay
# EXACT, the map is orthogonal).
# NOTE (SCALING.md, "Round-11 semantic replica decomposition"): no
# per-copy orthogonal map can make the near-dup PAIR COUNT scale
# linearly on this fixture — the base data's own far-pair cosine tail
# at the 0.35 threshold is ~0.2% (the threshold sits only 2.8 sigma out
# at d=64), so ~45 copy-pairs x 4e6 vector-pairs x 0.2% =~ 370k cross
# edges arise from the GEOMETRY, whatever the transform.  The honest
# engine meter is therefore COST PER EDGE (sec_per_10k_pairs /
# x_engine_per_pair in the spot entry), with pairs_x10 left in as the
# data meter.  text_lm_bigram / sketch_count_min have no such artifact,
# but they ride the same replica so one build serves all of them.
_SF1_SPAN_QUERIES = (
    "dedup_span_exact",
    "semantic_dedup",
    "text_lm_bigram",
    "sketch_count_min",
    # the bucketed int8 probe should stay ~scale-free, and the
    # multiprobe blocking pass carries the same per-edge meter as
    # semantic_dedup (the replica hands it ~70x the pairs at 10x the
    # vectors, so the raw ratio is edge growth, not engine cost)
    "similarity_topk_int8_lsh",
    "embedding_cosine_dedup_int8",
)
_SF1_COPIES = 10
_SF1_SHIFT = 100_000_000  # beyond every key range in the sf0.1 tables


def _build_sf1(spark, sf_dir: str, out_dir: str) -> None:
    """Materialize a 10x replica of the sf0.1 tables with shifted keys.

    Replicated tables get disjoint key spaces per copy so joins and
    groupings scale naturally; document text is mutated per copy
    (deterministic character substitution) so the replicas are NOT
    near-duplicates of each other — otherwise every LSH bucket would
    hold 10 near-identical members and the pair count would grow
    quadratically in the replication factor, a data artifact rather
    than engine scaling.  Remaining tables are byte-copied unchanged."""
    import shutil

    from pyspark.sql import functions as F

    tmp = out_dir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)

    def replicate(name: str, shifts: list[str], mutate_text: bool = False):
        src = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        copies = []
        # distinct substitution target per copy: copy 0 stays verbatim
        subs = "qzjxvwyfkp"
        for i in range(_SF1_COPIES):
            c = src
            for col in shifts:
                c = c.withColumn(col, F.col(col) + F.lit(i * _SF1_SHIFT))
            if mutate_text and i:
                c = c.withColumn("text", F.translate(F.col("text"), "e", subs[i]))
            copies.append(c)
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(tmp, f"{name}.parquet")
        )

    replicate("customer", ["c_custkey"])
    replicate("orders", ["o_orderkey", "o_custkey"])
    replicate("lineitem", ["l_orderkey"])
    replicate("documents", ["doc_id"], mutate_text=True)
    replicate("embeddings", ["vec_id"])
    for name in ("region", "nation", "supplier", "part", "events"):
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(tmp, f"{name}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)
    if os.path.exists(out_dir):  # concurrent builder won the race
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, out_dir)


def _build_sf1_span(spark, sf_dir: str, out_dir: str) -> None:
    """10x replica tuned for the span/semantic family (_SF1_SPAN_QUERIES).

    Documents: per-copy TWO-letter substitution ('e' AND 'a' — a
    5-token window stays byte-identical across copies only if all five
    tokens dodge both letters, so cross-copy window duplication falls
    from ~8% to the low percents; the spot entry quantifies the
    residue).  Embeddings: per-copy deterministic sign-flip mask — a
    diagonal orthogonal transform, so within-copy cosines (the near-dup
    structure semantic_dedup resolves) are preserved EXACTLY while
    cross-copy cosines are pseudo-random.  Only the tables the span
    family reads are materialized."""
    import shutil

    from pyspark.sql import functions as F

    tmp = out_dir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    # two distinct substitution letters per copy; copy 0 stays verbatim
    subs = ["", "qz", "jx", "vw", "yk", "pj", "zx", "xw", "wq", "kv"]

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    d_copies, e_copies = [], []
    for i in range(_SF1_COPIES):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * _SF1_SHIFT))
        e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * _SF1_SHIFT))
        if i:
            d = d.withColumn("text", F.translate(F.col("text"), "ea", subs[i]))
            # per-copy deterministic SIGNED PERMUTATION: orthogonal, so
            # within-copy cosines are preserved exactly up to
            # summation-order ULPs for the float path (permuting
            # dimensions reorders the dot-product fold, so
            # threshold-borderline pairs at 0.35 can flip between
            # copies) and BIT-EXACT for the int8 path (trunc
            # quantization commutes with signed permutation and the
            # integer dot is order-free); the dimension mixing removes
            # the diagonal mask's all-or-nothing cluster-pair
            # coherence (see scheme note above)
            import random as _random

            rng = _random.Random(1000 + i)
            perm = list(range(64))
            rng.shuffle(perm)
            signs = [rng.choice((1.0, -1.0)) for _ in range(64)]
            e = e.withColumn(
                "embedding",
                F.array(
                    *[
                        F.element_at(F.col("embedding"), perm[k] + 1)
                        * F.lit(signs[k])
                        for k in range(64)
                    ]
                ),
            )
        d_copies.append(d)
        e_copies.append(e)
    dd, ee = d_copies[0], e_copies[0]
    for c in d_copies[1:]:
        dd = dd.unionByName(c)
    for c in e_copies[1:]:
        ee = ee.unionByName(c)
    dd.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    ee.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    if os.path.exists(out_dir):  # concurrent builder won the race
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, out_dir)


def _dup_window_count(spark, sf_dir: str) -> int:
    """Distinct duplicated 5-token window fingerprints in a corpus —
    the artifact meter for the span replica (sf1 count / sf0.1 count
    lands near 10 when replication added no cross-copy duplicates)."""
    from wikihadoop_spark.operators.spandedup import frequent_windows

    return frequent_windows(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")), k=5
    ).count()


def _sf1_replica_dirs(spark, sf_dir: str) -> tuple[str, str]:
    """Build-or-reuse the two 10x replica directories, returning
    (spot_dir, span_dir).  The cache key includes a replication-scheme
    version and the source tables' fingerprint, so a cached replica is
    never silently reused after the scheme changes or the sf0.1 tables
    are regenerated."""
    import hashlib as _hashlib
    import shutil as _shutil

    src_fp = _hashlib.sha256()
    src_fp.update(b"scheme-v2")
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(p)
        src_fp.update(f"{os.path.basename(p)}:{st.st_size}:{int(st.st_mtime)}".encode())
    out_dir = os.path.join(
        _corpus_base(), f"wikihadoop_sf1_spot_{src_fp.hexdigest()[:12]}"
    )
    # drop replicas keyed to older schemes/tables — the cache lives in
    # RAM (/dev/shm) and stale copies would otherwise accumulate
    span_fp = _hashlib.sha256(src_fp.digest() + b"span-scheme-v2")
    span_dir = os.path.join(
        _corpus_base(), f"wikihadoop_sf1_span_{span_fp.hexdigest()[:12]}"
    )
    for stale in glob.glob(os.path.join(_corpus_base(), "wikihadoop_sf1_spot*")):
        if stale != out_dir:
            _shutil.rmtree(stale, ignore_errors=True)
    for stale in glob.glob(os.path.join(_corpus_base(), "wikihadoop_sf1_span*")):
        if stale != span_dir:
            _shutil.rmtree(stale, ignore_errors=True)
    if not os.path.exists(out_dir):
        _build_sf1(spark, sf_dir, out_dir)
    if not os.path.exists(span_dir):
        _build_sf1_span(spark, sf_dir, span_dir)
    return out_dir, span_dir


def _bench_sf1_spot(spark, sf_dir: str, sf01_timings: dict) -> dict | None:
    """Timings of the spot queries at 10x scale, with the per-query
    ratio vs the sf0.1 timing."""
    if not sf_dir.rstrip("/").endswith("sf0.1"):
        return None  # spot check only applies at the standard bench sf
    out_dir, span_dir = _sf1_replica_dirs(spark, sf_dir)

    def _time_spot(name: str, data_dir: str) -> dict:
        _run_row(spark, name, data_dir)  # warm plan + codegen
        # a fresh cache before every timed run, as in the extras loop
        entry = _time_row(
            lambda: _run_row(spark, name, data_dir), spark.catalog.clearCache, spark
        )
        entry["x_vs_sf0.1"] = round(entry["sec"] / sf01_timings[name], 2)
        return entry

    spot: dict[str, dict] = {}
    for name in _SF1_SPOT_QUERIES:
        spot[name] = _time_spot(name, out_dir)
    for name in _SF1_SPAN_QUERIES:
        spot[name] = {**_time_spot(name, span_dir), "replica": "dense-mutation"}
    # artifact meter for the span replica (see _SF1_SPAN_QUERIES): the
    # 10x/1x ratio of distinct duplicated window fingerprints — near 10
    # means the dense mutation added (almost) no cross-copy duplicates
    # and the dedup_span_exact ratio above is engine scaling, not data
    dup_sf1 = _dup_window_count(spark, span_dir)
    dup_sf01 = _dup_window_count(spark, sf_dir)
    spot["dedup_span_exact"]["dup_windows_x10"] = (
        round(dup_sf1 / dup_sf01, 2) if dup_sf01 else None
    )
    # semantic_dedup's artifact meter: the 10x/1x ratio of NEAR-DUP
    # PAIRS.  The sign-flip replica preserves within-copy geometry, but
    # the embeddings are CLUSTERED, so any per-copy linear map gives
    # every cross-copy cluster pair ONE shared pseudo-random cosine —
    # when that value crosses the 0.35 threshold, all its member pairs
    # become edges at once.  pairs_x10 >> 10 therefore means the sf1
    # ratio is dominated by edge growth (CC work scales with edges by
    # design), not by per-vector engine cost; SCALING.md carries the
    # decomposition.
    from wikihadoop_spark.relational import embedding_cosine_dedup

    p_sf1 = embedding_cosine_dedup(spark, span_dir).count()
    p_sf01 = embedding_cosine_dedup(spark, sf_dir).count()
    spot["semantic_dedup"]["pairs_x10"] = (
        round(p_sf1 / p_sf01, 2) if p_sf01 else None
    )
    # the ENGINE meter (round-11): near-dup pair count on this fixture
    # grows with the geometry's own tail rate (see the scheme note —
    # quadratic at theta=0.35 in d=64 under ANY orthogonal per-copy
    # map), so the scale-invariant engine number is COST PER EDGE:
    # sec per 10k pairs at each scale, and their ratio.  x_engine ~ 1
    # means the chain's cost tracked the edges it was handed.
    if p_sf01 and p_sf1:
        sec1 = spot["semantic_dedup"]["sec"]
        sec01 = sf01_timings["semantic_dedup"]
        per1 = sec1 / (p_sf1 / 1e4)
        per01 = sec01 / (p_sf01 / 1e4)
        spot["semantic_dedup"]["sec_per_10k_pairs"] = round(per1, 3)
        spot["semantic_dedup"]["sec_per_10k_pairs_sf0.1"] = round(per01, 3)
        spot["semantic_dedup"]["x_engine_per_pair"] = round(per1 / per01, 2)
    # the int8 multiprobe blocking pass carries the IDENTICAL per-edge
    # meter: the query returns pair rows, so its row count IS the edge
    # count
    i_sf1 = QUERIES["embedding_cosine_dedup_int8"](spark, span_dir).count()
    i_sf01 = QUERIES["embedding_cosine_dedup_int8"](spark, sf_dir).count()
    ent = spot["embedding_cosine_dedup_int8"]
    ent["pairs_x10"] = round(i_sf1 / i_sf01, 2) if i_sf01 else None
    if i_sf01 and i_sf1:
        per1 = ent["sec"] / (i_sf1 / 1e4)
        per01 = sf01_timings["embedding_cosine_dedup_int8"] / (i_sf01 / 1e4)
        ent["sec_per_10k_pairs"] = round(per1, 3)
        ent["sec_per_10k_pairs_sf0.1"] = round(per01, 3)
        ent["x_engine_per_pair"] = round(per1 / per01, 2)
    return spot


def _bench_wikidump(spark, cpus: int) -> dict:
    """The diffdb job, dump to gzip TSV, over three deterministic
    synthetic dumps — comparable to BASELINE.md's GB(raw XML)/core-hour
    full-pipeline rate (~1.3 derived from fileformat.rst:37-41):
    - plain: 3-8 KB wikitext bodies with small appended edits;
    - bz2: the same dump bzip2-compressed, the reference's actual input
      format (pages-meta-historyN.xml.bz2, fileformat.rst:33-38), read
      through the block-aligned splittable reader;
    - markup: the markup-dense corpus with mid-page edits, reported
      separately so the friendly append-mostly corpus can't flatter
      the headline rate.
    Rates divide by ALLOCATED cores (the honest comparison with the
    reference's 700 GB / 24 cores / ~22 h ≈ 1.33 GB/core-hour)."""
    # ``native_kernel`` records which diff path ran: functions/native.py
    # degrades silently to pure Python when no C toolchain exists, which
    # would otherwise masquerade as a throughput regression (checked on
    # the driver; local-mode workers share the host)
    from wikihadoop_spark.functions import native

    # >=500 MB so steady-state throughput dominates worker spin-up and
    # codegen (at 60 MB fixed overhead flattened the rate ~10x)
    xml = _corpus(
        "wikihadoop_bench_dump.xml", "SPARK_GRAFT_BENCH_BYTES", 500_000_000,
        _gen_plain_corpus,
    )
    markup = _corpus(
        "wikihadoop_bench_markup.xml", "SPARK_GRAFT_BENCH_MARKUP_BYTES",
        250_000_000, _gen_markup_corpus,
    )
    bz2_path = _bz2_of(xml)
    xml_gb = os.path.getsize(xml) / 1e9
    markup_gb = os.path.getsize(markup) / 1e9

    def split(path: str, floor: int) -> int:
        # every core gets work; the floor keeps task overhead sane
        return max(floor, os.path.getsize(path) // cpus)

    return {
        "input_gb": round(xml_gb, 3),
        "cores": cpus,
        "native_kernel": native.load() is not None,
        **_time_dump(spark, xml, split(xml, 2 << 20), xml_gb, cpus, "gb_per_core_hour"),
        "bz2": {
            "compressed_gb": round(os.path.getsize(bz2_path) / 1e9, 4),
            **_time_dump(
                spark, bz2_path, split(bz2_path, 256 << 10), xml_gb, cpus,
                "raw_gb_per_core_hour",
            ),
        },
        "markup": {
            "input_gb": round(markup_gb, 3),
            **_time_dump(
                spark, markup, split(markup, 2 << 20), markup_gb, cpus,
                "gb_per_core_hour",
            ),
        },
    }


def _time_dump(
    spark, path: str, split: int, raw_gb: float, cpus: int, rate_key: str
) -> dict:
    """One dump row: the diffdb job from the dump at ``path`` to its gzip
    TSV parts (``write_diffdb_tsv``, the production sink), timed through
    ``_timed_runs``.  The row carries the rate in raw XML GB per
    core-hour under ``rate_key`` and the sink's ``path`` (``scan_tasks``
    when the scan tasks wrote the parts)."""
    from wikihadoop_spark.plans.diffdb import build_diffdb, write_diffdb_tsv
    from wikihadoop_spark.sources.wikidump import read_wikidump

    sink: dict = {}

    def run() -> float:
        # RAM-backed output next to the inputs; removing it is not timed
        with tempfile.TemporaryDirectory(dir=_corpus_base()) as out:
            t0 = time.perf_counter()
            revs = read_wikidump(spark, path, splitSize=str(split))
            sink.update(write_diffdb_tsv(build_diffdb(revs), os.path.join(out, "tsv")))
            return time.perf_counter() - t0

    _fault_in(path)
    run()  # warm python workers + codegen for this pipeline shape
    row, dts = _measured_row(run, lambda: _fault_in(path), spark)
    row[rate_key] = round(raw_gb / (min(dts) / 3600) / cpus, 2)
    row["path"] = sink["path"]
    return row


def _corpus(name: str, size_env: str, default: int, generate) -> str:
    """The cached bench corpus ``name``, (re)generated by ``generate``
    when missing or smaller than $``size_env`` bytes.  tmpfs by default:
    this VM drops page cache unpredictably, and RAM-backed input makes
    the bench measure the engine."""
    path = os.path.join(_corpus_base(), name)
    target = int(os.environ.get(size_env, default))
    if not (os.path.exists(path) and os.path.getsize(path) >= target):
        generate(path, target)
    return path


def _gen_plain_corpus(path: str, target: int) -> None:
    """Append-mostly synthetic dump: 3-8 KB wikitext bodies, each
    revision adding ten words to the previous one."""
    import random

    rng = random.Random(7)
    words = (
        "the quick brown fox jumps over lazy dog wiki article section "
        "reference citation template category"
    ).split()
    rid, pid, size = 1, 0, 0
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("<mediawiki>\n<siteinfo><sitename>B</sitename></siteinfo>\n")
        while size < target:
            pid += 1
            body = " ".join(rng.choices(words, k=rng.randrange(400, 1200)))
            revs = []
            for r in range(rng.randrange(2, 8)):
                rid += 1
                body += " " + " ".join(rng.choices(words, k=10))
                revs.append(
                    f"    <revision>\n      <id>{rid}</id>\n"
                    f"      <timestamp>2022-05-{r + 1:02d}T00:00:00Z</timestamp>\n"
                    f"      <contributor><username>U</username><id>1</id></contributor>\n"
                    f'      <text xml:space="preserve">{body}</text>\n    </revision>\n'
                )
            pg = (
                f"  <page>\n    <title>Article {pid}</title>\n    <ns>0</ns>\n"
                f"    <id>{pid}</id>\n" + "".join(revs) + "  </page>\n"
            )
            fh.write(pg)
            size += len(pg)
        fh.write("</mediawiki>\n")
    os.replace(tmp, path)


def _bz2_of(xml_path: str) -> str:
    """The bzip2 copy of ``xml_path``, regenerated when missing OR stale
    vs the xml (e.g. a larger SPARK_GRAFT_BENCH_BYTES rebuilt the xml);
    written atomically so a crash mid-compress can't leave a torn file
    that silently benches the wrong input."""
    import bz2

    bz2_path = xml_path + ".bz2"
    if not (
        os.path.exists(bz2_path)
        and os.path.getmtime(bz2_path) >= os.path.getmtime(xml_path)
    ):
        # level 1: fast one-time compress, 100k-sized blocks -> good
        # split granularity
        comp = bz2.BZ2Compressor(1)
        tmp = bz2_path + f".tmp{os.getpid()}"
        with open(xml_path, "rb") as f, open(tmp, "wb") as o:
            while chunk := f.read(1 << 22):
                o.write(comp.compress(chunk))
            o.write(comp.flush())
        os.replace(tmp, bz2_path)
    return bz2_path


def _gen_markup_corpus(path: str, target: int) -> None:
    """Markup-dense synthetic dump: wikitext with link/template/table/
    entity density shaped like the reference's page_sample.xml (infobox
    table up top, [[target|display]] links, {{template|arg}} calls,
    &lt;br&gt;-style escaped markup, numeric character references) and
    MID-PAGE edits — the adversarial corpus for both the tokenizer
    (punctuation-dense short tokens) and the diff (mid edits defeat the
    common-prefix/suffix fast path)."""
    import random

    rng = random.Random(13)
    words = (
        "campaign empire peninsula commander brigade infantry division "
        "regiment railway canal desert offensive armistice treaty mandate "
        "protectorate battle theatre victory advance defence garrison "
        "supply column cavalry corps front flank assault siege"
    ).split()

    def sentence() -> str:
        parts = []
        for _ in range(rng.randrange(6, 14)):
            r = rng.random()
            w = rng.choice(words)
            if r < 0.12:
                tgt = f"{rng.choice(words).capitalize()} {rng.choice(words)}"
                parts.append(
                    f"[[{tgt}|{w}]]" if rng.random() < 0.4 else f"[[{tgt}]]"
                )
            elif r < 0.20:
                tpl = rng.choice(("flagicon", "cite web", "convert", "flag"))
                parts.append(f"{{{{{tpl}|{w}}}}}")
            elif r < 0.25:
                parts.append(
                    rng.choice(
                        ("&lt;br&gt;", "&amp;ndash;", "&#8211;", f"&quot;{w}&quot;")
                    )
                )
            elif r < 0.30:
                parts.append(f"'''{w}'''" if rng.random() < 0.5 else f"''{w}''")
            else:
                parts.append(w)
        return " ".join(parts) + rng.choice((". ", ".\n", "; "))

    def infobox() -> str:
        lines = ["{| style=&quot;float: right; clear: right&quot;", "| {{Infobox Conflict"]
        for _ in range(rng.randrange(4, 10)):
            lines.append(
                f"|{rng.choice(words)}=[[{rng.choice(words).capitalize()}]]"
                f" {{{{flag|{rng.choice(words)}}}}}&lt;br&gt;"
            )
        lines += ["}}", "|}"]
        return "\n".join(lines) + "\n"

    rid, pid, size = 1, 0, 0
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("<mediawiki>\n<siteinfo><sitename>M</sitename></siteinfo>\n")
        while size < target:
            pid += 1
            body = [infobox()] + [sentence() for _ in range(rng.randrange(80, 200))]
            revs = []
            for r in range(rng.randrange(2, 8)):
                rid += 1
                # 1-3 mid-page edits per revision: replace / insert /
                # delete a slice, never just append
                for _ in range(rng.randrange(1, 4)):
                    i = rng.randrange(1, len(body))
                    n = rng.randrange(1, 6)
                    roll = rng.random()
                    if roll < 0.45:
                        body[i : i + n] = [sentence() for _ in range(n)]
                    elif roll < 0.8:
                        body[i:i] = [sentence() for _ in range(n)]
                    elif len(body) > n + 2:
                        del body[i : i + n]
                revs.append(
                    f"    <revision>\n      <id>{rid}</id>\n"
                    f"      <timestamp>2022-06-{r + 1:02d}T00:00:00Z</timestamp>\n"
                    f"      <contributor><username>M</username><id>2</id></contributor>\n"
                    f'      <text xml:space="preserve">{"".join(body)}</text>\n'
                    f"    </revision>\n"
                )
            pg = (
                f"  <page>\n    <title>Conflict {pid}</title>\n    <ns>0</ns>\n"
                f"    <id>{pid}</id>\n" + "".join(revs) + "  </page>\n"
            )
            fh.write(pg)
            size += len(pg)
        fh.write("</mediawiki>\n")
    os.replace(tmp, path)


if __name__ == "__main__":
    main()
