"""Physical-plan assertions: the engine must not just be correct, it
must produce the plans you'd want at 100 TB — filters pushed to the
scan, columns pruned, small dims broadcast, top-k limits pushed below
sorts, aggregates partial+final.  These tests pin those properties so
a regression in plan shape fails CI, not a cluster run."""

from __future__ import annotations

import pytest

from wikihadoop_spark.relational import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushed_to_scan(spark):
    plan = plan_of(spark, "scan_filter_project")
    # predicate reaches the parquet reader
    assert "PushedFilters: [" in plan and "l_discount" in plan.split("PushedFilters")[1][:200]
    # column pruning: text-heavy columns are absent from ReadSchema
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_comment" not in read_schema and "l_tax" not in read_schema


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "q5_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    # the fact table must not be exchanged for the dim joins
    assert "SortMergeJoin" not in plan.split("lineitem")[0]


def test_topk_pushes_limit_below_sort(spark):
    plan = plan_of(spark, "sort_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_window_group_limit(spark):
    """The top-k operator (single ranking window + filter) must plan a
    WindowGroupLimit — per-partition top-k before the exchange.  (The
    window_rank_topk catalog query stacks a second window, which
    legitimately blocks the pushdown.)"""
    from pyspark.sql import functions as F

    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.topk import top_k_per_group

    orders = load_table(spark, SF, "orders")
    df = top_k_per_group(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), "o_orderkey"],
        k=3,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_q1_partial_final_aggregate(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # map-side combine: two HashAggregate levels around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_asof_join_single_shuffle(spark):
    """The union-window as-of join must not degenerate into a join —
    one hash-partition exchange on the key, then window."""
    plan = plan_of(spark, "asof_join_events_orders")
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_join(spark):
    """Bucketed range join plans as a hash join on the bucket id, never
    a nested-loop over the cross product."""
    plan = plan_of(spark, "range_join_near_orders")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_decorrelation(spark):
    for name in ("join_semi", "correlated_exists"):
        plan = plan_of(spark, name)
        assert "LeftSemi" in plan, name
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_minhash_signature_plan_is_shuffle_free(spark):
    """Row-local signatures: the only exchange allowed is the _spread
    fan-out repartition — no aggregation shuffle (the whole signature
    is computed inside each row)."""
    plan = plan_of(spark, "minhash_signatures")
    assert "partial_min" not in plan  # no aggregate formulation
    assert plan.count("Exchange") <= 1  # just the _spread round-robin
    # and the aggregate twin still does map-side partial mins
    from wikihadoop_spark.catalog import Tables
    from wikihadoop_spark.operators.dedup import minhash_signatures

    agg = minhash_signatures(
        Tables(spark, SF).documents, id_col="doc_id", text_col="text"
    )
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in agg_plan


def test_similarity_broadcasts_queries(spark):
    plan = plan_of(spark, "similarity_topk")
    assert "Broadcast" in plan


def test_pair_queries_cap_block_participation(spark):
    """Every block-pair query must bound per-block participation: a
    row_number rank over the block key filtered to <= cap sits upstream
    of the pair join, so the worst task is capped at cap² pairs no
    matter how hot a key gets at 100 TB — never an uncapped self-join
    on a data column."""
    for name in (
        "ngram_jaccard_block",
        "simhash_near_pairs",
        "embedding_cosine_dedup",
        "embedding_cosine_dedup_int8",
        "minhash_lsh_pairs",
    ):
        plan = optimized_of(spark, name)
        assert "row_number" in plan, name
        assert "<= 1000" in plan, name


def test_int8_multiprobe_materializes_quantized_frame(spark):
    """The int8 blocking pass feeds 2 sides x 2 families of capped
    self-joins from one quantized frame — it must be materialized
    (InMemoryTableScan), or Catalyst re-inlines the quantize expression
    per PAIR (measured 6.0 s vs 2.2 s at sf0.1; the SCALING.md
    CSE-across-joins rule)."""
    plan = plan_of(spark, "embedding_cosine_dedup_int8")
    assert "InMemoryTableScan" in plan


def test_media_metadata_prunes_documents_scan(spark):
    """The media gate derives payloads from documents: only doc_id+text
    may reach the parquet reader, and exactly one Python stage runs."""
    plan = plan_of(spark, "media_image_metadata")
    read_schema = plan.split("ReadSchema:")[1]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema
    assert plan.count("MapInPandas") == 1


def test_in_source_diff_no_second_python_stage(spark, tmp_path):
    """The sink's general path (a frame the scan tasks cannot write)
    over read_wikidump -> build_diffdb pairs and diffs inside the scan:
    ops come off the scan's one MapInArrow (no DataSource BatchScan),
    so there is no Window (the pairing shuffle) and no
    BroadcastExchange (the namespace join), and the only Python eval
    is the TSV formatter after the dedup and the sort."""
    from wikihadoop_spark.plans.diffdb import build_diffdb, sorted_tsv_lines
    from wikihadoop_spark.sources.wikidump import read_wikidump

    from dump_fixtures import standard_dump, write_dump

    path = write_dump(tmp_path, standard_dump())
    sink, _ = sorted_tsv_lines(build_diffdb(read_wikidump(spark, path)))
    plan = sink._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan wikidump" not in plan
    assert "Window" not in plan
    assert "BroadcastExchange" not in plan
    lines = plan.splitlines()
    (i,) = [n for n, l in enumerate(lines) if "MapInArrow" in l]
    assert "ops#" in lines[i]
    # the scan reads its seed of partition ids directly: no Exchange
    # sits below the ops
    assert not any("Exchange" in l for l in lines[i + 1 :]), plan
    evals = [l for l in lines if "EvalPython" in l]
    assert len(evals) == 1 and "fmt(" in evals[0], evals
    assert "rangepartitioning(page_id" in plan


def test_diffdb_task_sink_is_one_map_in_arrow(spark, tmp_path):
    """The sink's task path is one MapInArrow straight over the seed of
    partition ids: it pairs, diffs, formats and writes in one Python
    pass, so no Exchange, no Sort and no EvalPython run."""
    from wikihadoop_spark.plans.diffdb import write_scan_parts
    from wikihadoop_spark.sources.wikidump import read_wikidump

    from dump_fixtures import big_dump, write_dump

    path = write_dump(tmp_path, big_dump(n_pages=50, revs_per_page=3))
    scan = read_wikidump(spark, path, splitsize="4096")._wikidump_scan
    job = write_scan_parts(spark, scan, str(tmp_path / "staging"), True)
    lines = job._jdf.queryExecution().executedPlan().toString().strip().splitlines()
    assert len(lines) == 2, lines
    assert lines[0].startswith("MapInArrow write(id#")
    assert "Scan ExistingRDD[id#" in lines[1]
    assert job.rdd.getNumPartitions() == len(scan.parts) > 1


def test_wikidump_scan_size_is_not_tiny(spark, tmp_path):
    """The optimizer must not size the scan by its seed of partition
    ids (a few bytes, under autoBroadcastJoinThreshold): a join would
    then broadcast the dump's revisions."""
    import os

    from wikihadoop_spark.sources.wikidump import read_wikidump

    from dump_fixtures import big_dump, write_dump

    path = write_dump(tmp_path, big_dump(n_pages=50, revs_per_page=3))
    df = read_wikidump(spark, path, splitsize="4096")
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) >= os.path.getsize(path)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Co-located joins (operators/colocate.py): two tables bucketed +
    sorted on the key join with NO Exchange and NO Sort — the shuffle
    was paid once at write time."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.colocate import bucketed_join, write_bucketed

    orders = spark.createDataFrame(
        [(i, i % 97, float(i)) for i in range(5000)],
        "o_id long, cust long, total double",
    )
    custs = spark.createDataFrame(
        [(i % 97, f"c{i % 97}") for i in range(97)],
        "cust long, name string",
    ).dropDuplicates(["cust"])
    write_bucketed(orders, "t_orders_b", key="cust", buckets=8)
    write_bucketed(custs, "t_custs_b", key="cust", buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "t_orders_b", "t_custs_b", "cust")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        n = j.count()
        assert n == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_custs_b")


def test_stratified_sample_is_exchange_free(spark):
    """Deterministic stratified sampling must be a single narrow pass:
    one scan, a hash/filter map stage, NO Exchange — at 100 TB this is
    the stage whose cost must be exactly one read."""
    plan = plan_of(spark, "sample_stratified")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan or "BatchScan" in plan


def test_tfidf_broadcasts_scalar_count(spark):
    """The corpus-size scalar joins via broadcast (one row), never a
    shuffled cross join."""
    plan = plan_of(spark, "text_tfidf_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_spread_fans_out_small_scans_only(spark):
    """_spread must repartition a single-partition scan to cluster
    width (decoupling tokenize parallelism from file granularity) and
    be a structural no-op when the input already has enough
    partitions."""
    from wikihadoop_spark.relational import _spread

    one = spark.range(1000).coalesce(1)
    assert _spread(one).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    assert _spread(wide) is wide  # no exchange added


def test_quality_model_and_strip_are_exchange_free(spark):
    """Row-local scoring/cleanup (hashed linear model, stopword strip)
    must evaluate inside the scan projection: one pass, NO Exchange,
    no Python stage."""
    for name in ("text_quality_model", "text_stopword_strip"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_decontaminate_broadcasts_eval_set(spark):
    """The eval-set fingerprint lookup must be a broadcast left-anti
    join — the corpus side is never shuffled for the join; the only
    exchange is the final per-source aggregate."""
    plan = plan_of(spark, "decontaminate_exact")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_sample_broadcasts_thresholds(spark):
    """The returned mixture-sample plan must be a broadcast threshold
    join + row-local filter — the corpus side is never shuffled (the
    G-row totals aggregate runs as separate broadcast-state job)."""
    plan = plan_of(spark, "sample_mixture")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, line


def test_ngram_decontaminate_broadcasts_shingle_set(spark):
    """The eval-set shingles must reach the exploded corpus as a
    BROADCAST hash relation (left-semi), and the contaminated-id set
    must anti-join back as a broadcast too — the corpus side is never
    hash-shuffled (its only exchange is the _spread round-robin
    fan-out) and never crossed."""
    plan = plan_of(spark, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert plan.count("LeftSemi") >= 1 and plan.count("LeftAnti") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_ngram_overlap_has_no_shingle_window(spark):
    """Per-shingle document frequency must be a partial+final
    HashAggregate, never a window over the shingle key: a window
    partition cannot be split by AQE, so a power-law stop-shingle
    would put its entire row group in one task at 100 TB.  The plan
    must contain NO Window node at all, and the shingle-keyed count
    must show map-side partial aggregation."""
    plan = plan_of(spark, "ngram_overlap")
    assert "Window" not in plan
    assert "partial_count" in plan


def test_capped_paths_keep_window_group_limit_when_observed(spark):
    """Attaching the truncation counter must NOT cost the
    WindowGroupLimit rewrite: a CollectMetrics node between the rank
    window and its filter blocks it, silently reverting a hot
    bucket/block to a single-task full sort.  All three capped paths
    ride the counter on their own linear plan (total below the window,
    kept above the filter) — the partial (pre-exchange) group limit
    must survive with a TruncationCounter attached."""
    from wikihadoop_spark.observability import TruncationCounter

    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.dedup import (
        capped_block_pairs,
        lsh_candidate_pairs,
        minhash_signatures_rowwise,
    )
    from wikihadoop_spark.streaming.dedup_stream import signature_index

    docs = load_table(spark, SF, "documents")
    sig = minhash_signatures_rowwise(docs, id_col="doc_id", text_col="text")

    p = (
        lsh_candidate_pairs(sig, id_col="doc_id", observation=TruncationCounter())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in p and "Partial" in p

    p = (
        signature_index(sig, id_col="doc_id", observation=TruncationCounter())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in p and "Partial" in p

    from pyspark.sql import functions as F

    flat = docs.select("doc_id", (F.col("doc_id") % 7).alias("blk"))
    p = (
        capped_block_pairs(
            flat, block_cols=["blk"], id_col="doc_id", payload_cols=[],
            observation=TruncationCounter(),
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in p and "Partial" in p


def test_lsh_counter_evaluates_signatures_once(spark):
    """The round-8 caveat is gone: attaching the truncation counter
    must NOT re-evaluate the signature subtree.  Instrumented with an
    accumulator-counting Arrow UDF in the signature projection — with
    the counter ON, every input row passes the UDF exactly once (the
    old count-aggregate branch re-ran the whole subtree, giving 2n);
    the counter value itself stays exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from wikihadoop_spark.observability import TruncationCounter
    from wikihadoop_spark.operators.dedup import lsh_candidate_pairs

    acc = spark.sparkContext.accumulator(0)

    def _traced(v):
        acc.add(1)
        return v

    traced = udf(_traced, "long")

    n_cluster, cap, n_hashes = 60, 10, 16
    rows = [tuple([i] + [7] * n_hashes) for i in range(n_cluster)]
    sig = spark.createDataFrame(
        rows, ["doc_id"] + [f"s{i}" for i in range(n_hashes)]
    ).withColumn("s0", traced(F.col("s0")))
    obs = TruncationCounter()
    pairs = lsh_candidate_pairs(
        sig, id_col="doc_id", n_hashes=n_hashes, bands=4,
        bucket_cap=cap, observation=obs,
    )
    assert pairs.count() == cap * (cap - 1) // 2
    assert obs.get["lsh_dropped_members"] == (n_cluster - cap) * 4
    assert acc.value == n_cluster  # one evaluation, not one per branch


def test_block_counter_shares_the_selfjoin_exchange(spark):
    """capped_block_pairs' total observe sits below the window, inside
    the map side both self-join legs share: the reused exchange must
    evaluate it once — a per-leg evaluation would run the instrumented
    UDF 2n times AND double-count total, corrupting
    dropped = total - kept.  Both asserted."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from wikihadoop_spark.observability import TruncationCounter
    from wikihadoop_spark.operators.dedup import capped_block_pairs

    acc = spark.sparkContext.accumulator(0)

    def _traced(v):
        acc.add(1)
        return v

    traced = udf(_traced, "long")

    n_hot, cap = 40, 5
    df = spark.createDataFrame(
        [(i, "hot") for i in range(n_hot)], ["id", "blk"]
    ).withColumn("id", traced(F.col("id")))
    obs = TruncationCounter()
    pairs = capped_block_pairs(
        df, block_cols=["blk"], id_col="id", payload_cols=[],
        cap=cap, observation=obs,
    )
    assert pairs.count() == cap * (cap - 1) // 2
    assert obs.get["block_dropped_members"] == n_hot - cap
    assert acc.value == n_hot  # one map-side evaluation shared by both legs


def test_chunk_and_scrub_are_single_pass(spark):
    """Chunking is higher-order expressions + one explode (no shuffle
    beyond the _spread fan-out, no Python stage); PII scrubbing is a
    pure scan projection — fully exchange-free."""
    plan = plan_of(spark, "chunk_documents")
    assert "Generate" in plan  # the posexplode
    assert plan.count("Exchange") <= 1  # just the _spread round-robin
    assert "EvalPython" not in plan and "HashAggregate" not in plan

    plan = plan_of(spark, "text_scrub_pii")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "Window" not in plan


def test_corpus_report_card_is_one_rollup_pass(spark):
    """The data card's exact slice must stay a single rollup aggregate
    over one documents scan: the Expand node (grouping-sets lowering)
    duplicates only the tiny projected rows, the text is tokenized
    once, and there is exactly one aggregate exchange — never a second
    scan for the total row (the round-7 double-pass)."""
    plan = plan_of(spark, "corpus_report_card")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan and "Window" not in plan


def test_verify_pairs_never_shuffles_the_corpus(spark):
    """The exact-Jaccard rerank must stay candidate-bound.  Pinned on
    the LAZY lineage (materialize=False): the shingle-sets side reaches
    the documents scan through a broadcast LEFT-SEMI join (no
    corpus-wide exchange feeding it) and the LSH candidate side keeps
    its WindowGroupLimit cap.  The gated query's executed plan then
    proves the round-8 reuse fix: candidates and sets are
    localCheckpointed, so the final plan re-reads NO parquet — without
    the checkpoints the candidate subtree evaluated 5x (once per
    consumer leg, measured in the round-8 plan dump)."""
    from wikihadoop_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_rowwise,
        verify_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = minhash_signatures_rowwise(docs, id_col="doc_id", text_col="text")
    pairs = lsh_candidate_pairs(sig, id_col="doc_id")
    lazy = verify_candidate_pairs(pairs, docs, materialize=False)
    lp = lazy._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in lp and "BroadcastHashJoin" in lp
    assert "WindowGroupLimit" in lp

    plan = plan_of(spark, "dedup_verify_pairs")
    assert "FileScan parquet" not in plan  # everything upstream materialized once


def test_decontaminate_report_broadcasts_eval_fingerprints(spark):
    """The contamination audit must scan the corpus once with the eval
    fingerprints broadcast — no corpus-wide shuffle before the join;
    only the (eval-bounded) hit rows reach the aggregate exchange."""
    plan = plan_of(spark, "decontaminate_report")
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 2  # corpus + the eval sample scan


def test_segment_dedup_plan_shape(spark):
    """Line-frequency dedup must stay window-free and join-bounded: the
    duplicated-segment table is an aggregate (map-side combined) joined
    back by fingerprint — never a window over the segment key, never a
    cross product; reassembly is an aggregate, not a global sort."""
    plan = plan_of(spark, "dedup_line_frequency")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # frequency + reassembly are aggregates
    assert "partial_min" in plan or "merge_min" in plan  # map-side combine
    assert "Generate" in plan  # the one posexplode


def test_span_dedup_plan_shape(spark):
    """Exact-substring span dedup must stay window-free and
    join-bounded: the duplicated-window table is a map-side-combined
    aggregate INNER-joined back by fingerprint (unique windows never
    travel past the partial aggregate), masking/merging/reassembly are
    row-local higher-order expressions — never a window over positions,
    never a cross product, no global sort."""
    plan = plan_of(spark, "dedup_span_exact")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "partial_min" in plan or "merge_min" in plan  # map-side combine
    assert "Generate" in plan  # the one window explode
    # the dup filter sits on the aggregate side, before the join back
    assert "Inner" in plan


def test_c4_clean_plan_is_exchange_free(spark):
    """The C4 rule pass must cost a scan and nothing else: one
    projection of row-local higher-order expressions — no exchange, no
    aggregate, no join, no window, so it composes in front of any
    chain stage for free and streams as-is."""
    plan = plan_of(spark, "text_c4_clean")
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("FileScan parquet") == 1


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """At 100 TB the fact table is date/source-partitioned storage, and
    a selective dim filter must prune fact PARTITIONS at runtime —
    Spark's dynamic partition pruning.  Pinned: the fact scan carries a
    dynamicpruning subquery in its partition filters, and the
    pruned-read row count equals the selective result (reading every
    partition would still be correct, so only the plan shows the
    difference)."""
    from pyspark.sql import functions as F

    fact = str(tmp_path / "fact_part")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    orders.withColumn(
        "bucket", (F.col("o_custkey") % 7).cast("int")
    ).write.partitionBy("bucket").mode("overwrite").parquet(fact)
    dim = spark.createDataFrame(
        [(b, f"grp{b}") for b in range(7)], "bucket int, name string"
    ).filter(F.col("name") == "grp3")

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        j = spark.read.parquet(fact).join(dim, "bucket").select("o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan, plan[:2000]
        want = spark.read.parquet(fact).filter(F.col("bucket") == 3).count()
        assert j.count() == want > 0
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_dsir_weights_plan_shape(spark):
    """DSIR scoring must be model-broadcast and window-free: the B-row
    lambda table rides a BroadcastHashJoin onto the exploded features
    (the corpus side never shuffles for the model), the distributions
    come from one map-side-combined aggregate, and the only nested-loop
    joins are the one-row totals / B-row spine broadcasts — never a
    corpus-sided cartesian."""
    plan = plan_of(spark, "dsir_weights")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # lambda + restore joins
    # conditional aggregation is partial+final (map-side combine)
    assert "partial_count" in plan or "partial_count_if" in plan


def test_sketch_count_min_plan_shape(spark):
    """The CMS build must be ONE map-side-combined aggregate over the
    exploded cells (bounded d*w output regardless of vocabulary) and the
    probe side must broadcast the sketch — the corpus never shuffles to
    meet the sketch, and nothing windows or goes cartesian."""
    plan = plan_of(spark, "sketch_count_min")
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe-side sketch broadcast
    assert "partial_count" in plan  # cell aggregate map-side combine


def test_corpus_delta_is_one_join_no_window(spark):
    """The delta is ONE full-outer id equi-join with row-local
    fingerprints — no window, no cartesian, no second pass over either
    snapshot; the unchanged filter rides above the join."""
    plan = plan_of(spark, "corpus_delta")
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert plan.count("FullOuter") == 1 and (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    )
    assert "md5" in optimized_of(spark, "corpus_delta")  # row-local fp


def test_lm_score_plans_broadcast_model_no_window(spark):
    """Both LM scoring plans (unigram surprisal and backoff bigram)
    must be: map-side-combined model aggregate(s) + a BROADCAST join
    of tokens against the model + one per-doc aggregate + the
    broadcast document-spine restore — never a window, never a
    cartesian product, and the corpus token stream must not
    sort-merge against the vocabulary."""
    for name in ("text_lm_surprisal", "text_lm_bigram"):
        plan = plan_of(spark, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name  # model probe side
        assert "partial_count" in plan or "partial_sum" in plan, name
        # the only nested-loop joins allowed are the one-row scalar
        # broadcasts (bitlen(N) / the backoff ceiling ride the plan as
        # IdentityBroadcastMode single-row builds) — never a real
        # cross product between data-sized sides
        assert plan.count("BroadcastNestedLoopJoin") <= 2, name
        if "BroadcastNestedLoopJoin" in plan:
            assert "IdentityBroadcastMode" in plan, name


def test_span_audit_shares_rewrite_plan_shape(spark):
    """The audit view must keep the rewrite's discipline (it shares the
    tokenize/occurrence/ownership subplan): window-free, the duplicated
    fingerprint table a map-side-combined aggregate INNER-joined back,
    the single posexplode, no cartesian blowup."""
    plan = plan_of(spark, "dedup_span_audit")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan or "merge_min" in plan
    assert "Generate" in plan
    assert "Inner" in plan


def test_semantic_dedup_pairs_are_bucketed_and_capped(spark):
    """SemDeDup's pair stage must be a bucket-key equi-self-join with a
    deterministic per-bucket cap (WindowGroupLimit or rank+filter over
    the bucket, NEVER an uncapped cross product), and the similarity
    filter must ride the pair stream — pinned on the pair subplan the
    gated query resolves components over."""
    from wikihadoop_spark.relational import QUERIES as Q

    pairs_plan = (
        Q["embedding_cosine_dedup"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in pairs_plan
    assert "BroadcastNestedLoopJoin" not in pairs_plan
    # the cap: Spark 4 rewrites rank<=N windows into WindowGroupLimit
    assert "WindowGroupLimit" in pairs_plan or "Window" in pairs_plan


def test_mixture_waterfill_plan_matches_single_pass_shape(spark):
    """The waterfill branch changes DRIVER math only: the returned plan
    must be byte-for-byte the same shape as sample_mixture's — a
    broadcast threshold join + row-local md5-bucket filter, the corpus
    never shuffled."""
    plan = plan_of(spark, "mixture_waterfill")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, line


def test_similarity_int8_plan_matches_float_path(spark):
    """The int8 kernel must not change the search plan — quantization
    is a row-local projection riding the scan, probes broadcast, the
    rank window rewritten to WindowGroupLimit, no sort-merge join and
    no cartesian product between data-sized sides (the probe cross
    join is the same broadcast-of-10-rows the float path uses)."""
    plan = plan_of(spark, "similarity_topk_int8")
    assert "BroadcastNestedLoopJoin" in plan  # the 10-probe broadcast
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan  # rank<=10 pushed down
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            # only the window's partition exchange may shuffle
            assert "hashpartitioning(query_id" in line, line


def test_similarity_int8_lsh_plan_bucketed_and_materialized(spark):
    """The composed int8+LSH path must keep both scale levers visible
    in the plan: the probe is an equi-JOIN on bucket id (BroadcastHash,
    NOT the brute-force nested loop), and the quantized+bucketed frame
    is materialized (InMemoryTableScan) so the quantize/bucket
    expressions are cut out of the join's codegen scope — the measured
    CSE-across-joins rule (SCALING.md).  Only the rank window's
    query_id exchange may shuffle."""
    plan = plan_of(spark, "similarity_topk_int8_lsh")
    assert "BroadcastHashJoin" in plan  # equi-join on bkt
    assert "BroadcastNestedLoopJoin" not in plan  # not brute force
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # persist outside the join
    assert "WindowGroupLimit" in plan  # rank<=10 pushed down
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "hashpartitioning(query_id" in line, line


def test_similarity_int8_ivf_plan_bucketed_and_materialized(spark):
    """The int8 IVF search plan: probe is an equi-join on cluster id
    (BroadcastHash — the nprobe-exploded query side is the broadcast),
    the probe side reads the persisted quantized frame
    (InMemoryTableScan), no brute-force nested loop and no sort-merge
    join; only the rank window's query_id exchange may shuffle.  Since
    round 12 the corpus side is the WRITTEN index artifact — the
    search plan must scan it as plain parquet (train-once/search-many:
    the Lloyd build runs at most once per corpus, never inside the
    search plan; the zero-Lloyd re-search behavior is pinned in
    test_quantize.py)."""
    plan = plan_of(spark, "similarity_topk_int8_ivf")
    assert "BroadcastHashJoin" in plan  # equi-join on cluster
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # persisted probe-side frame
    assert "wikihadoop_ivf8" in plan  # corpus side scans the artifact
    assert "WindowGroupLimit" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "hashpartitioning(query_id" in line, line


def test_lm_buckets_no_global_window(spark):
    """Exact quantiles the scale-safe way: the bucketing plan must
    contain NO window function at all (no single-partition ntile, no
    global sort) — thresholds are driver-held scalars from the
    bounded-domain histogram, assignment is a row-local CASE, and the
    scoring subplan keeps the LM rules (broadcast model probe,
    map-side-combined aggregates)."""
    plan = plan_of(spark, "text_lm_buckets")
    assert "Window" not in plan
    assert "ntile" not in plan.lower()
    assert "BroadcastHashJoin" in plan  # the model probe
    assert "partial_count" in plan or "partial_sum" in plan


def test_stream_analog_probe_plan_shape(spark):
    """The streaming-probe batch analog must keep the stream-static
    join's scale shape: an equi-join on cluster id (hash, never a
    nested loop or cartesian — the probe side is an exploded nprobe
    list, bounded), the probe slice's vec_id filter PUSHED into the
    parquet scan, the corpus side reading the WRITTEN index artifact,
    and the rank via two-phase WindowGroupLimit with query_id as the
    only shuffle key."""
    plan = plan_of(spark, "similarity_probe_int8_stream_analog")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "wikihadoop_ivf8" in plan  # corpus side scans the artifact
    assert "LessThan(vec_id,340)" in plan  # probe filter reaches the scan
    assert "WindowGroupLimit" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "hashpartitioning(query_id" in line, line


def test_similarity_int8_ivf_append_plan_shape(spark):
    """The append-lifecycle search (round-14 gate): after
    ivf_append_int8 lands the disjoint slice into the artifact's
    cluster=N directories, the SEARCH plan must be identical in shape
    to the plain IVF search — an equi-join on cluster id against the
    written artifact (BroadcastHash, the nprobe-exploded probe side
    broadcast), no nested loop, no sort-merge join, only the rank
    window's query_id exchange — because the append changed the DATA,
    not the plan: preserving that is the whole point of
    ivf_append_int8's layout contract."""
    plan = plan_of(spark, "similarity_topk_int8_ivf_append")
    assert "BroadcastHashJoin" in plan  # equi-join on cluster
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "wikihadoop_ivf8" in plan  # scans the written artifact
    assert "WindowGroupLimit" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "hashpartitioning(query_id" in line, line


def test_events_funnel_single_user_exchange(spark):
    """The funnel's scale contract (round 15): the three ordered step
    timestamps are conditional window minima over ONE user_id
    partitioning, and the per-user reduction reuses it — so the whole
    query carries exactly ONE hash exchange on user_id plus the
    unavoidable single-partition exchange for the final 3-row stack.
    A regression to the oracle's chained-self-join shape (one shuffle
    of the events table PER STEP at 100 TB) shows up here as extra
    hash exchanges or a join operator."""
    plan = plan_of(spark, "events_funnel")
    assert "Join" not in plan  # no self-joins on any step
    hash_ex, single_ex = [], []
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            hash_ex.append(line)
        elif "Exchange SinglePartition" in line:
            single_ex.append(line)
    assert len(hash_ex) == 1 and "user_id" in hash_ex[0], hash_ex
    assert len(single_ex) == 1, single_ex
    assert plan.count("Window") >= 3  # the three step minima


def test_wikidump_pairs_join_single_exchange_no_window(spark):
    """The dense-seq pairing gate (round-15 verdict item 3): the
    skew-proof strategy must actually BE skew-proof in the plan —
    revision payloads hash-partition on the COMPOSITE (page_id,
    rev_seq), never on page_id alone, so a giant page's history
    spreads across the cluster.  Exactly ONE hash exchange (the
    explode+aggregate formulation; a regression to the naive
    self-join doubles it), zero Window operators (a regression to the
    window strategy re-creates the one-task-per-page hazard), and the
    small documents side broadcasts."""
    plan = plan_of(spark, "wikidump_pairs_join")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the documents check join
    hash_ex = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_ex) == 1, hash_ex
    assert "page_id" in hash_ex[0] and "rev_seq" in hash_ex[0], hash_ex


def test_events_funnel_skewsafe_aggregates_not_window(spark):
    """The skew-safe funnel twin's whole point is the plan shape: NO
    per-user window (nothing buffers a user's event set), every step
    minimum a hash aggregate with a map-side partial combine (the
    partial_min collapses a hot user inside each input partition
    BEFORE its exchange), every hash exchange keyed on user_id, and
    one SinglePartition exchange for the 3-row report.  A regression
    to the window shape (or a join that stops being per-user-keyed)
    shows up here."""
    plan = plan_of(spark, "events_funnel_skewsafe")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine = the skew defense
    hash_ex, single_ex = [], []
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            hash_ex.append(line)
            assert "user_id" in line, line
        elif "Exchange SinglePartition" in line:
            single_ex.append(line)
    assert len(hash_ex) == 3, hash_ex  # one per step's per-user agg
    assert len(single_ex) == 1, single_ex


@pytest.mark.parametrize(
    "name",
    ["sample_mixture", "mixture_waterfill", "pack_token_budget", "decontaminate_bloom"],
)
def test_driver_built_frames_are_local_relations(spark, name):
    """Threshold, offset and Bloom frames built on the driver enter the
    plan as a LocalRelation (LocalTableScan), not as a Python-list RDD
    scanned by a Python task."""
    plan = plan_of(spark, name)
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_segment_bloom_frames_are_local_relations(spark):
    """The one-row Bloom frame of both stateless strips is a
    LocalRelation of ``array<bigint>``, as the DDL-typed frame was."""
    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.decontam import bloom_frame
    from wikihadoop_spark.operators.segdedup import SegmentBloom, strip_frequent_segments
    from wikihadoop_spark.operators.spandedup import strip_duplicated_spans

    assert (
        bloom_frame(spark, (1, -2)).schema
        == spark.createDataFrame([([1, -2],)], "__bloom array<bigint>").schema
    )
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    bloom = SegmentBloom(words=(5, 9, 3), n_bits=189, n_hashes=2, n_items=2)
    for df in (strip_frequent_segments(docs, bloom), strip_duplicated_spans(docs, bloom, k=5)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan
