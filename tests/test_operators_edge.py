"""Edge-case tests for operator paths not covered by the catalog
queries: strict as-of joins, and the full fuzzy-dedup pipeline
(minhash -> LSH candidates -> exact-Jaccard verification)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from wikihadoop_spark.catalog import load_table
from wikihadoop_spark.operators.asof import asof_join
from wikihadoop_spark.operators.dedup import (
    capped_block_pairs,
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_band_pairs,
)

SF = "/root/testdata/sf0.001"


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_strict_vs_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "e1"), (1, _ts("2024-01-01T11:00:00"), "e2")],
        "k int, t timestamp_ntz, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 100.0), (1, _ts("2024-01-01T10:30:00"), 200.0)],
        "k int, rt timestamp_ntz, val double",
    )
    inc = {
        r.ev: r.val
        for r in asof_join(
            left, right, by=["k"], left_on="t", right_on="rt", right_cols=["val"]
        ).collect()
    }
    # inclusive: the 10:00 event matches the 10:00 right row
    assert inc == {"e1": 100.0, "e2": 200.0}
    strict = {
        r.ev: r.val
        for r in asof_join(
            left, right, by=["k"], left_on="t", right_on="rt",
            right_cols=["val"], strict=True,
        ).collect()
    }
    # strict: the 10:00 event has NO earlier right row
    assert strict == {"e1": None, "e2": 200.0}


def test_asof_no_prior_row_keeps_nulls(spark):
    left = spark.createDataFrame(
        [(7, _ts("2024-01-01T00:00:00"), "early")],
        "k int, t timestamp_ntz, ev string",
    )
    right = spark.createDataFrame(
        [(7, _ts("2024-06-01T00:00:00"), 1.0)], "k int, rt timestamp_ntz, val double"
    )
    rows = asof_join(
        left, right, by=["k"], left_on="t", right_on="rt", right_cols=["val"]
    ).collect()
    assert rows[0].val is None


def test_asof_null_right_value_carried(spark):
    """A legitimately NULL right column must not be skipped in favor of
    an older non-null row (the struct-payload design guarantee)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-03T00:00:00"), "e")], "k int, t timestamp_ntz, ev string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:00:00"), 5.0), (1, _ts("2024-01-02T00:00:00"), None)],
        "k int, rt timestamp_ntz, val double",
    )
    rows = asof_join(
        left, right, by=["k"], left_on="t", right_on="rt", right_cols=["val"]
    ).collect()
    assert rows[0].val is None  # latest row's null, not the older 5.0


def test_fuzzy_dedup_pipeline_end_to_end(spark):
    """The canonical corpus-dedup pipeline: signatures -> LSH candidate
    pairs -> exact-Jaccard verification, with planted near-duplicates."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # plant near-dups: copies of doc 0-4 with a tiny edit, ids 10000+
    planted = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny appended edit")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    sig = minhash_signatures(corpus, id_col="doc_id", text_col="text", n_hashes=16)
    cands = lsh_candidate_pairs(sig, id_col="doc_id", n_hashes=16, bands=4)
    verified = exact_jaccard_pairs(
        corpus, cands.select("id_a", "id_b"), id_col="doc_id", text_col="text"
    )
    strong = {
        (r.id_a, r.id_b) for r in verified.filter(F.col("jaccard") > 0.8).collect()
    }
    # every planted pair must be found with high exact similarity
    for i in range(5):
        assert (i, i + 10000) in strong, (i, sorted(strong))


def test_lsh_hot_bucket_cap(spark):
    """A mega near-duplicate cluster (identical signatures) must not
    blow up into one giant bucket row / O(n²) pairs: only the lowest
    ``bucket_cap`` ids per bucket pair up, deterministically, and the
    observation counts the truncated members."""
    from wikihadoop_spark.observability import TruncationCounter

    n_cluster, cap, n_hashes, bands = 5000, 50, 16, 4
    rows = [
        # one hot cluster: every signature value identical
        tuple([i] + [7] * n_hashes)
        for i in range(n_cluster)
    ] + [
        # a couple of singletons with unique signatures
        tuple([100000 + j] + [1000 + 17 * j + h for h in range(n_hashes)])
        for j in range(5)
    ]
    sig = spark.createDataFrame(
        rows, ["doc_id"] + [f"s{i}" for i in range(n_hashes)]
    )
    obs = TruncationCounter()
    pairs = lsh_candidate_pairs(
        sig, id_col="doc_id", n_hashes=n_hashes, bands=bands,
        bucket_cap=cap, observation=obs,
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    expected = {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    assert got == expected  # lowest-cap ids only, all cross pairs, est 1.0
    assert all(r.est_jaccard == 1.0 for r in pairs)
    assert obs.get["lsh_dropped_members"] == (n_cluster - cap) * bands


def test_capped_block_pairs_bounds_hot_block(spark):
    """One hot block key must never go quadratic: only the lowest
    ``cap`` ids participate (deterministically), the worst block emits
    exactly C(cap, 2) pairs, and the observation counts the dropped
    members."""
    from wikihadoop_spark.observability import TruncationCounter

    n_hot, cap = 200, 10
    rows = [(i, "hot", i * 1.5) for i in range(n_hot)] + [
        (1000 + j, f"cold{j}", 0.0) for j in range(3)
    ]
    df = spark.createDataFrame(rows, ["id", "blk", "payload"])
    obs = TruncationCounter()
    pairs = capped_block_pairs(
        df,
        block_cols=["blk"],
        id_col="id",
        payload_cols=["payload"],
        cap=cap,
        observation=obs,
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    expected = {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    assert got == expected  # lowest-cap ids, all cross pairs, cold blocks size-1
    assert all(r.payload_a == r.id_a * 1.5 and r.payload_b == r.id_b * 1.5 for r in pairs)
    assert obs.get["block_dropped_members"] == n_hot - cap


def test_simhash_band_pairs_lossless_below_cap(spark):
    """Prefix-band blocking must find EVERY pair within max_hamming
    (pigeonhole: 3 differing bits can touch at most 3 of 4 bands) —
    compare against brute-force all-pairs hamming."""
    import itertools
    import random

    rng = random.Random(20260813)
    base = [rng.getrandbits(60) for _ in range(40)]
    # plant near-dup clusters: flips of 1-3 random bits
    vals = list(base)
    for v in base[:10]:
        flipped = v
        for _ in range(rng.randrange(1, 4)):
            flipped ^= 1 << rng.randrange(60)
        vals.append(flipped)
    sig = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["doc_id", "simhash"]
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_band_pairs(
            sig, id_col="doc_id", bits=60, bands=4, max_hamming=3
        ).collect()
    }
    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2):
        h = bin(a ^ b).count("1")
        if h <= 3:
            want.add((i, j, h))
    assert got == want and want  # lossless, and the fixture is non-trivial

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_band_pairs(sig, id_col="doc_id", bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_band_pairs(sig, id_col="doc_id", bits=60, bands=7)


def test_join_pairing_equals_window_pairing(spark):
    """Dense-sequence join pairing == window-lag pairing (the
    skew-resistant formulation for giant pages, SURVEY §7.4.1)."""
    from wikihadoop_spark.operators.pairing import (
        pair_with_previous,
        pair_with_previous_join,
    )

    ev = load_table(spark, SF, "events")
    # synthesize a dense seq per user from event order
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dense = ev.withColumn("seq", F.row_number().over(w)).select(
        "user_id", "seq", "event_id", "value"
    )
    via_window = pair_with_previous(
        dense, ["user_id"], ["seq"], ["value", "event_id"], fill={"value": 0.0}
    )
    via_join = pair_with_previous_join(
        dense, ["user_id"], "seq", ["value", "event_id"], fill={"value": 0.0}
    )
    key = lambda rows: sorted(
        (r.user_id, r.seq, r.prev_value, r.prev_event_id, r.is_first) for r in rows
    )
    assert key(via_window.collect()) == key(via_join.collect())


def test_join_pairing_plan_has_no_window(spark):
    from wikihadoop_spark.operators.pairing import pair_with_previous_join

    ev = load_table(spark, SF, "events").select(
        "user_id", F.col("event_id").alias("seq"), "value"
    )
    df = pair_with_previous_join(ev, ["user_id"], "seq", ["value"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # hash join only — no per-key sort task


def test_connected_components_handles_chain_and_isolates(spark):
    """Min-label propagation must cross a multi-hop chain (label flows
    the full diameter), keep disjoint components separate, and label
    isolated vertices with themselves."""
    from wikihadoop_spark.operators.components import (
        component_summary,
        connected_components,
    )

    # chain 1-2-3-4-5, triangle 10-11-12 (one redundant/reversed edge),
    # isolate 99
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (11, 10)],
        ["id_a", "id_b"],
    )
    vertices = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 5, 10, 11, 12, 99]], ["id"]
    )
    cc = connected_components(vertices, edges, id_col="id")
    got = {r.id: r.component for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 99: 99}

    summary = {
        r.id: (r.component, r.n_members, r.is_keeper)
        for r in component_summary(cc, id_col="id").collect()
    }
    assert summary[1] == (1, 5, True) and summary[5] == (1, 5, False)
    assert summary[99] == (99, 1, True)


def _force_rounds(monkeypatch):
    """Send every graph to the distributed rounds: no edge count is at
    or under a bound of -1.  Returns the list the rounds' calls land in."""
    from wikihadoop_spark.operators import components

    calls = []
    rounds = components._label_rounds

    def counted(*args, **kwargs):
        calls.append(args)
        return rounds(*args, **kwargs)

    monkeypatch.setattr(components, "driver_edge_bound", lambda spark: -1)
    monkeypatch.setattr(components, "_label_rounds", counted)
    return calls


def test_connected_components_empty_edges_converges_fast(spark, monkeypatch):
    """Edge-free input on the distributed rounds exercises the
    observe-based convergence count's NULL guard (sum over an empty
    label frame is NULL, which must read as converged, not loop to
    max_iterations): every vertex labels itself in one round."""
    from wikihadoop_spark.operators.components import connected_components

    calls = _force_rounds(monkeypatch)
    edges = spark.createDataFrame([], "id_a long, id_b long")
    vertices = spark.createDataFrame([(v,) for v in (3, 7, 9)], ["id"])
    cc = connected_components(vertices, edges, id_col="id", max_iterations=2)
    assert {r.id: r.component for r in cc.collect()} == {3: 3, 7: 7, 9: 9}
    assert len(calls) == 1


def test_connected_components_raises_past_max_iterations(spark, monkeypatch):
    """A diameter larger than max_iterations must raise, not silently
    return partial labels.  Only the distributed rounds iterate (the
    driver finish of a small chain runs none), so they are forced."""
    import pytest

    from wikihadoop_spark.operators.components import connected_components

    _force_rounds(monkeypatch)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    vertices = spark.createDataFrame([(v,) for v in range(1, 9)], ["id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, chain, id_col="id", max_iterations=2)


def _union_find_labels(n: int, edges) -> dict:
    """The minimum id of each vertex's component, by a plain union-find."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the minimum id
    return {i: find(i) for i in range(n)}


@pytest.mark.parametrize("branch", ["driver", "rounds"])
def test_connected_components_branches_equal_union_find(spark, monkeypatch, branch):
    """Both finishes must label every vertex with the minimum id of its
    component on random graphs mixing cliques, chains, isolated nodes,
    duplicate and reversed edges and self-loops, and on an empty edge
    list."""
    import random

    from wikihadoop_spark.operators import components

    calls = _force_rounds(monkeypatch) if branch == "rounds" else []
    rng = random.Random(20261019)
    n = 80
    for n_random in (0, 25, 70):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(n_random)]
        if n_random:
            base = rng.randrange(n - 6)
            edges += [(base + a, base + b) for a in range(5) for b in range(a + 1, 5)]
            edges += [(i + 1, i) for i in range(10, 18)]  # reversed chain
            edges += edges[:5] + [(b, a) for a, b in edges[5:10]]  # dups
            edges += [(i, i) for i in range(60, 64)]  # self-loops
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        v = spark.range(n).withColumnRenamed("id", "doc")
        got = {
            r.doc: r.component
            for r in components.connected_components(v, e, id_col="doc").collect()
        }
        assert got == _union_find_labels(n, edges), (branch, n_random)
    assert len(calls) == (3 if branch == "rounds" else 0)


@pytest.mark.parametrize("branch", ["driver", "rounds"])
def test_connected_components_keeps_int_id_type(spark, monkeypatch, branch):
    """An ``int`` id column keeps its type through either finish."""
    from pyspark.sql.types import IntegerType

    from wikihadoop_spark.operators.components import connected_components

    if branch == "rounds":
        _force_rounds(monkeypatch)
    edges = spark.createDataFrame([(5, 4), (4, 3), (8, 9)], "id_a int, id_b int")
    vertices = spark.createDataFrame([(v,) for v in (3, 4, 5, 7, 8, 9)], "id int")
    cc = connected_components(vertices, edges, id_col="id")
    assert [f.dataType for f in cc.schema.fields] == [IntegerType(), IntegerType()]
    got = {r.id: r.component for r in cc.collect()}
    assert got == {3: 3, 4: 3, 5: 3, 7: 7, 8: 8, 9: 8}


def test_connected_components_small_graph_labels_are_local_relation(spark):
    """The driver finish hands its labels back as a LocalRelation that
    broadcasts into the join back, never as a Python-list RDD scan."""
    from wikihadoop_spark.operators.components import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    cc = connected_components(spark.range(10), edges, id_col="id")
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "BroadcastHashJoin" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_driver_edge_bound_follows_broadcast_threshold(spark):
    """The driver-finish bound is derived from the session's confs: two
    24-byte label rows per edge under the smaller of the broadcast
    threshold and maxResultSize, and none when broadcast is off."""
    from wikihadoop_spark.operators.components import driver_edge_bound

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "10485760")
        assert driver_edge_bound(spark) == 10485760 // 48
        spark.conf.set(key, "96")
        assert driver_edge_bound(spark) == 2
        spark.conf.set(key, "-1")
        assert driver_edge_bound(spark) == 0
    finally:
        spark.conf.set(key, prev)


def test_star_components_equal_min_label_on_random_graphs(spark):
    """connected_components must label every vertex with the minimum id
    of its component on a random graph (mixed cliques, chains,
    isolates), as a Python union-find over the same edges does."""
    import random

    from wikihadoop_spark.operators.components import connected_components

    rng = random.Random(20260814)
    n = 60
    edges = []
    # random sparse edges + a clique + a chain segment
    edges += [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    edges += [(50 + a, 50 + b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(30 + i, 31 + i) for i in range(8)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_labels(n, edges)

    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    got = {r.id: r.component for r in connected_components(v, e, id_col="id").collect()}
    assert got == want


def test_rowwise_minhash_equals_aggregate_minhash(spark):
    """The shuffle-free row-local minhash must emit exactly the
    aggregate formulation's signatures (min over the same multiset)."""
    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_rowwise,
    )

    docs = load_table(spark, SF, "documents")
    agg = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(16))
        for r in minhash_signatures(docs, id_col="doc_id", text_col="text").collect()
    }
    row = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(16))
        for r in minhash_signatures_rowwise(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert row == agg and len(agg) == docs.count()


def test_pack_token_budget_matches_naive_window_any_partitioning(spark):
    """The distributed prefix sum must equal the single-partition
    global window bit-for-bit, for any partition count, including docs
    larger than the budget."""
    import random

    from pyspark.sql import Window
    from wikihadoop_spark.operators.packing import pack_token_budget

    rng = random.Random(20260814)
    rows = [(i, rng.randrange(1, 400)) for i in range(977)]
    rows[100] = (100, 5000)  # oversized doc: starts its own shard
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.doc_id: (r.cum, (r.cum - r.n_tokens) // 1000)
        for r in df.select(
            "doc_id", "n_tokens", F.sum("n_tokens").over(w).alias("cum")
        ).collect()
    }
    for n_parts in (1, 3, 16):
        got = {
            r.doc_id: (r.cum_tokens, r.shard)
            for r in pack_token_budget(
                df,
                order_col="doc_id",
                tokens_col="n_tokens",
                budget=1000,
                num_partitions=n_parts,
            ).collect()
        }
        assert got == naive, n_parts
    # every shard's token span stays within budget except oversized heads
    shards = {}
    for doc, (cum, shard) in naive.items():
        shards.setdefault(shard, 0)
    assert len(shards) > 100  # fixture really packs many shards


def test_pack_token_budget_empty_input(spark):
    """Zero-row input must yield a zero-row result, not a schema error."""
    from wikihadoop_spark.operators.packing import pack_token_budget

    df = spark.createDataFrame([], "doc_id bigint, n_tokens bigint")
    out = pack_token_budget(df, order_col="doc_id", tokens_col="n_tokens", budget=100)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_tokens", "cum_tokens", "shard"]


def test_pack_bucket_search_matches_bisect():
    """The balanced WHEN-tree bucket id must equal bisect_left (count of
    boundaries strictly below the key) for random boundaries and keys,
    including keys exactly ON a boundary and far outside the range."""
    import bisect
    import random

    from wikihadoop_spark.operators.packing import _bucket_of
    from wikihadoop_spark.session import get_spark

    spark = get_spark("test", cpus=2)
    rng = random.Random(9)
    bs = sorted({round(rng.uniform(-100, 100), 3) for _ in range(57)})
    keys = (
        [rng.uniform(-150, 150) for _ in range(200)]
        + bs[:10]          # exact boundary hits -> left bucket
        + [-1e9, 1e9]      # outside the sketch range
    )
    df = spark.createDataFrame([(k,) for k in keys], "k double")
    got = [
        r.b for r in df.select(
            _bucket_of(F.col("k"), bs, 0, len(bs)).alias("b"), "k"
        ).collect()
    ]
    want = [bisect.bisect_left(bs, r) for r in [row.k for row in df.collect()]]
    assert got == want


def test_pack_token_budget_clamps_bucket_count(spark):
    """num_partitions beyond MAX_BUCKETS must clamp (bucket count only
    affects window-stage parallelism, never the result) and still equal
    the naive global window."""
    from pyspark.sql import Window
    from wikihadoop_spark.operators.packing import MAX_BUCKETS, pack_token_budget

    assert MAX_BUCKETS <= 8192  # per-row search depth log2 stays tiny
    rows = [(i, 7 + (i % 13)) for i in range(211)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.doc_id: r.cum
        for r in df.select("doc_id", F.sum("n_tokens").over(w).alias("cum")).collect()
    }
    got = {
        r.doc_id: r.cum_tokens
        for r in pack_token_budget(
            df, order_col="doc_id", tokens_col="n_tokens", budget=100,
            num_partitions=10**6,
        ).collect()
    }
    assert got == naive


def test_pack_token_budget_fails_loudly_on_nondeterministic_input(spark):
    """A frame whose order key re-rolls between the totals pass and the
    final pass must RAISE (the offsets join is left + null-guarded),
    never silently drop the rows that landed in a bucket the totals
    pass did not see."""
    import random

    import pytest
    from pyspark.sql.functions import udf
    from wikihadoop_spark.operators.packing import pack_token_budget

    jitter = udf(
        lambda i: random.Random().randrange(1 << 30), "long"
    ).asNondeterministic()
    # ~60 scattered keys re-rolled per evaluation vs ~60 data-derived
    # buckets: the final pass hits an unseen bucket with near-certainty
    # (the totals pass fills at most 60 of 61 buckets; missing every
    # empty one 60 times has probability < 1e-9)
    df = spark.range(60).select(
        jitter("id").alias("k"), F.lit(10).alias("n")
    )
    with pytest.raises(Exception, match="nondeterministic between"):
        pack_token_budget(
            df, order_col="k", tokens_col="n", budget=100, num_partitions=64
        ).collect()


def test_stream_probe_skips_self_pairs(spark):
    """A document whose id is already in the signature index must not
    be reported as a duplicate of itself when it re-arrives."""
    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.dedup import minhash_signatures_rowwise
    from wikihadoop_spark.streaming.dedup_stream import (
        signature_index,
        stream_candidate_pairs,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents").limit(50)
    index = signature_index(
        minhash_signatures_rowwise(docs, id_col="doc_id", text_col="text"),
        id_col="doc_id",
    )
    # re-arrival: the same 50 docs probe the index that contains them
    pairs = stream_candidate_pairs(docs, index).collect()
    assert all(r.new_id != r.corpus_id for r in pairs)


def test_write_packed_shards_one_ordered_file_per_shard(spark, tmp_path):
    """The shard writer must emit exactly one data file per shard dir,
    rows inside each file in order, and the read-back corpus must equal
    the packed assignment exactly."""
    import glob
    import os

    from wikihadoop_spark.operators.packing import write_packed_shards

    rows = [(i, 17 + (i * 37) % 211) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = str(tmp_path / "shards")
    packed = write_packed_shards(
        df, out, order_col="doc_id", tokens_col="n_tokens", budget=1500
    )
    want = {(r.doc_id, r.shard) for r in packed.collect()}

    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == len({s for _, s in want})
    for d in shard_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d

    back = spark.read.parquet(out)
    got = {(r.doc_id, r.shard) for r in back.collect()}
    assert got == want
    # rows within each shard file keep order_col order (sortWithinPartitions)
    import pyarrow.parquet as pq

    for d in shard_dirs[:5]:
        f = os.path.join(d, [f for f in os.listdir(d) if f.endswith(".parquet")][0])
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        assert ids == sorted(ids)


def test_mixture_thresholds_exact_math():
    """Threshold math: proportional share, keep-all cap, zero/absent
    groups, overflow-free at astronomically large totals."""
    import pytest as _pytest

    from wikihadoop_spark.operators.mixture import SCALE, mixture_thresholds

    # two groups, equal weights, budget = half the corpus -> rate 1/2
    thr = mixture_thresholds({"a": 1000, "b": 1000}, {"a": 1, "b": 1}, 1000)
    assert thr == {"a": SCALE // 2, "b": SCALE // 2}
    # target above supply caps at keep-all
    thr = mixture_thresholds({"a": 100, "b": 1000}, {"a": 10, "b": 1}, 1000)
    assert thr["a"] == SCALE
    # empty group -> threshold 0, no division error
    assert mixture_thresholds({"a": 0}, {"a": 1}, 10)["a"] == 0
    # 100 TB-scale totals: fixed-width i64 would overflow, Python ints must not
    big = 10**14
    thr = mixture_thresholds({"a": big, "b": big}, {"a": 3, "b": 1}, big)
    assert thr["a"] == (big * 3 * SCALE) // (4 * big)
    # absent weight without default raises; with default fills in
    with _pytest.raises(ValueError):
        mixture_thresholds({"a": 10, "x": 10}, {"a": 1}, 10)
    thr = mixture_thresholds({"a": 10, "x": 10}, {"a": 1}, 10, default_weight=1)
    assert set(thr) == {"a", "x"}


def test_mixture_sample_deterministic_and_mixture_shaped(spark):
    """The sample is a pure function of (data, weights, budget, salt)
    and moves the realized token mixture toward the targets."""
    from wikihadoop_spark.operators.mixture import mixture_sample

    rows = [(i, "hot" if i % 2 else "cold", 100) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tok"])
    kw = dict(
        group_col="grp",
        tokens_col="n_tok",
        id_col="doc_id",
        weights={"hot": 3, "cold": 1},
        token_budget=100_000,  # half the 200k corpus
    )
    a = {r.doc_id for r in mixture_sample(df, **kw).collect()}
    b = {r.doc_id for r in mixture_sample(df, **kw).collect()}
    assert a == b and 0 < len(a) < 2000
    # hot target 75k of 100k available (rate .75), cold 25k of 100k (.25)
    got = mixture_sample(df, **kw).groupBy("grp").count().collect()
    counts = {r.grp: r["count"] for r in got}
    assert 0.65 < counts["hot"] / 1000 < 0.85
    assert 0.15 < counts["cold"] / 1000 < 0.35
    # different salt -> different draw, same expected shape
    c = {r.doc_id for r in mixture_sample(df, salt="v2", **kw).collect()}
    assert c != a


def test_mixture_report_residual_and_caps():
    """The audit surfaces capped groups and the residual budget their
    shortfall leaves (water-filling input), consistent with the
    thresholds the sampler actually applies."""
    from wikihadoop_spark.operators.mixture import SCALE, mixture_report

    r = mixture_report({"a": 100, "b": 1000}, {"a": 10}, 1000, default_weight=1)
    assert r["groups"]["a"] == {
        "available": 100,
        "target": 909,
        "threshold": SCALE,
        "expected_kept": 100,
        "capped": True,
    }
    assert not r["groups"]["b"]["capped"]
    assert r["residual"] == 1000 - 100 - r["groups"]["b"]["expected_kept"]
    # nothing capped -> expected kept ~= budget (floor rounding only)
    r2 = mixture_report({"a": 10_000, "b": 10_000}, {"a": 3, "b": 1}, 4000)
    assert 0 <= r2["residual"] <= 4


def test_mixture_sample_null_group(spark):
    """A NULL group is a real group: its rows must receive the default
    weight's threshold, not crash the driver sort or vanish through an
    inner equi-join."""
    from wikihadoop_spark.operators.mixture import mixture_sample

    rows = [(i, None if i < 500 else "known", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, n_tok bigint")
    out = mixture_sample(
        df,
        group_col="grp",
        tokens_col="n_tok",
        id_col="doc_id",
        weights={"known": 1},
        token_budget=50_000,  # half the corpus
        default_weight=1,
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, 0)
        by_grp[r.grp] += 1
    assert set(by_grp) == {None, "known"}
    assert 150 < by_grp[None] < 350 and 150 < by_grp["known"] < 350


def test_mixture_sample_waterfill_keeps_more(spark):
    """waterfill=True redistributes a capped group's shortfall: the
    uncapped group's kept fraction rises from its single-pass rate
    toward the refilled target."""
    from wikihadoop_spark.operators.mixture import mixture_sample

    rows = [(i, "tiny" if i < 20 else "big", 100) for i in range(2020)]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, n_tok bigint")
    kw = dict(
        group_col="grp", tokens_col="n_tok", id_col="doc_id",
        weights={"tiny": 10, "big": 1}, token_budget=100_000,
    )
    sp = mixture_sample(df, **kw).count()
    wf = mixture_sample(df, waterfill=True, **kw).count()
    # tiny (2k tokens) caps either way; big's single-pass target is
    # 100k/11 ~ 9k of 200k tokens vs waterfilled 98k of 200k
    assert wf > sp
    assert 2020 * 0.40 < wf < 2020 * 0.60  # ~ (20 + 0.49*2000)


def test_pack_token_budget_tiebreak_makes_dup_keys_invariant(spark):
    """Non-unique order keys: with a tiebreak column completing the
    total order, cum_tokens/shard must be identical across partition
    counts (the range shuffle may split tied keys otherwise), and the
    ROWS frame must give tied rows strictly increasing prefix sums —
    not the tie-group total the default RANGE frame would assign."""
    from wikihadoop_spark.operators.packing import pack_token_budget

    # 300 rows over just 7 distinct order keys
    rows = [(i % 7, i, 100 + (i % 13)) for i in range(300)]
    df = spark.createDataFrame(rows, ["day", "doc_id", "n_tokens"])

    expect = None
    for n_parts in (1, 4, 16):
        got = {
            r.doc_id: (r.cum_tokens, r.shard)
            for r in pack_token_budget(
                df,
                order_col="day",
                tokens_col="n_tokens",
                budget=1000,
                num_partitions=n_parts,
                tiebreak_col="doc_id",
            ).collect()
        }
        if expect is None:
            expect = got
        assert got == expect, n_parts
    # ROWS frame: all 300 prefix sums are distinct (strictly increasing
    # along the (day, doc_id) order), never the per-tie-group total
    assert len({cum for cum, _ in expect.values()}) == 300


def test_mixture_sample_integer_group_column(spark):
    """A non-string group column (int source id) must work end-to-end:
    the threshold frame inherits the column's dtype instead of forcing
    a string schema into the null-safe join."""
    from wikihadoop_spark.operators.mixture import mixture_sample

    rows = [(i, i % 3, 100) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "n_tokens"])
    out = mixture_sample(
        df,
        group_col="src",
        tokens_col="n_tokens",
        id_col="doc_id",
        weights={0: 1, 1: 1, 2: 1},
        token_budget=9_000,
    )
    got = {r.src: r.cnt for r in out.groupBy("src").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(got) <= {0, 1, 2} and sum(got.values()) > 0
    # ~30 of each group's 100 docs at a 9000/30000 budget ratio
    for g, n in got.items():
        assert 10 <= n <= 60, (g, n)


def test_signature_index_caps_hot_band_key(spark):
    """A mega near-dup family shares every band key: the index must
    keep only the lowest bucket_cap members per (band, key) and count
    the dropped rows, so a probe fans out to at most bucket_cap rows
    per band instead of the whole family."""
    from wikihadoop_spark.observability import TruncationCounter

    from wikihadoop_spark.operators.dedup import minhash_signatures_rowwise
    from wikihadoop_spark.streaming.dedup_stream import (
        signature_index,
        stream_candidate_pairs,
    )

    template = " ".join(f"tok{i % 31} w{i % 7}" for i in range(50))
    corpus = spark.createDataFrame(
        [(i, template) for i in range(200)], ["doc_id", "text"]
    )
    sig = minhash_signatures_rowwise(corpus, id_col="doc_id", text_col="text")
    obs = TruncationCounter()
    index = signature_index(
        sig, id_col="doc_id", bucket_cap=25, observation=obs
    ).localCheckpoint(eager=True)
    # 4 bands x 25 kept per band key (identical signatures -> one key per band)
    assert index.count() == 100
    assert obs.get["index_dropped_members"] == 4 * 175
    per_key = index.groupBy("band", "key0", "key1", "key2", "key3").count()
    assert all(r["count"] <= 25 for r in per_key.collect())

    # a probing near-dup still matches, against at most cap ids per band
    probe = spark.createDataFrame([(9999, template)], ["doc_id", "text"])
    pairs = stream_candidate_pairs(probe, index).collect()
    matched = {r.corpus_id for r in pairs}
    assert matched == set(range(25))  # the deterministic lowest-cap survivors


def test_chunk_documents_covers_every_token_with_overlap(spark):
    """Chunking invariants: with stride <= chunk size every token
    appears in >= 1 chunk, consecutive chunks overlap by exactly
    (chunk - stride) tokens, every chunk except possibly the last is
    full, and reassembling chunk 0's prefix + each chunk's tail
    reconstructs the document."""
    from wikihadoop_spark.operators.chunking import chunk_documents
    from wikihadoop_spark.operators.dedup import tokens as tok_expr

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),   # 100 tokens
        (2, " ".join(f"v{i}" for i in range(7))),     # shorter than a chunk
        (3, "solo"),                                  # single token
        (4, "!!! ??? ..."),                           # ZERO tokens -> no rows
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ch = chunk_documents(docs, chunk_tokens=32, stride=24).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(ch, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)

    assert set(by_doc) == {1, 2, 3}  # zero-token doc yields nothing
    # doc 1: starts 0,24,48,72,96 -> 5 chunks; last has 100-96=4 tokens
    c1 = by_doc[1]
    assert [r.chunk_idx for r in c1] == [0, 1, 2, 3, 4]
    assert [r.n_tokens for r in c1] == [32, 32, 32, 28, 4]
    # overlap: chunk k starts at token 24k; chunk text begins with w{24k}
    for k, r in enumerate(c1):
        assert r.chunk_text.startswith(f"w{24 * k} ") or r.chunk_text == "w96 w97 w98 w99"
    # coverage: union of chunk tokens == document tokens
    seen = set()
    for r in c1:
        seen.update(r.chunk_text.split())
    assert seen == {f"w{i}" for i in range(100)}
    assert by_doc[2][0].n_tokens == 7 and len(by_doc[2]) == 1
    assert by_doc[3][0].chunk_text == "solo"


def test_chunk_documents_rejects_bad_params(spark):
    import pytest

    from wikihadoop_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, chunk_tokens=8, stride=-1)


def test_scrub_pii_redacts_and_counts(spark):
    from wikihadoop_spark.functions.scrub import pii_counts, scrub_pii

    rows = [
        (1, "contact jane.doe+x@corp.example.org or 10.1.2.3 ref 123456789"),
        (2, "no pii here just words"),
        (3, "two mails a@b.io c@d.net and short digits 1234"),
        # mixed case in RAW text (round-7 verdict gap): the (?i) email
        # class must redact it — under-redaction is the bad direction
        (4, "Mail John.Doe@Example.COM and UPPER@SUB.DOMAIN.ORG now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    counts = pii_counts(F.col("text"))
    out = {
        r.doc_id: (r.n_email, r.n_ip, r.n_id, r.scrubbed)
        for r in df.select(
            "doc_id",
            counts["email"].alias("n_email"),
            counts["ipv4"].alias("n_ip"),
            counts["idnum"].alias("n_id"),
            scrub_pii(F.col("text")).alias("scrubbed"),
        ).collect()
    }
    assert out[1][:3] == (1, 1, 1)
    assert out[1][3] == "contact <EMAIL> or <IP> ref <ID>"
    assert out[2] == (0, 0, 0, "no pii here just words")
    assert out[3][:3] == (2, 0, 0)
    assert out[3][3] == "two mails <EMAIL> <EMAIL> and short digits 1234"
    assert out[4][:3] == (2, 0, 0)
    assert out[4][3] == "Mail <EMAIL> and <EMAIL> now"


def test_chunk_documents_exhaustive_small_grid(spark):
    """Exhaustive small-parameter sweep in ONE job: every (chunk, stride,
    n_tokens) combination for chunk,stride in 1..4 and n in 0..9 must
    match the Python reference (starts 0, stride, ... while start < n;
    slice clamps at the end)."""
    from wikihadoop_spark.operators.chunking import chunk_documents

    cases = []
    did = 0
    for chunk in range(1, 5):
        for stride in range(1, 5):
            for n in range(0, 10):
                did += 1
                toks = [f"t{i}" for i in range(n)]
                cases.append((did, chunk, stride, n, " ".join(toks)))
    docs = spark.createDataFrame(
        cases, ["doc_id", "chunk", "stride", "n", "text"]
    )
    for chunk in range(1, 5):
        for stride in range(1, 5):
            sub = docs.filter(
                (F.col("chunk") == chunk) & (F.col("stride") == stride)
            )
            got = {}
            for r in chunk_documents(
                sub, chunk_tokens=chunk, stride=stride
            ).collect():
                got.setdefault(r.doc_id, {})[r.chunk_idx] = (
                    r.n_tokens, r.chunk_text
                )
            for did_, _, _, n, _ in [c for c in cases if c[1] == chunk and c[2] == stride]:
                toks = [f"t{i}" for i in range(n)]
                if n == 0:
                    assert did_ not in got
                    continue
                expect = {}
                k = 0
                while k * stride < n:
                    sl = toks[k * stride : k * stride + chunk]
                    expect[k] = (len(sl), " ".join(sl))
                    k += 1
                assert got[did_] == expect, (chunk, stride, n)


def test_scrub_pii_is_idempotent_on_real_corpus(spark):
    """Scrubbing already-scrubbed text must be a no-op (placeholders
    contain no matchable PII), so re-running the privacy pass over a
    partially-curated corpus is safe."""
    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.functions.scrub import scrub_pii

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" a.b+c@d-e.org 10.0.0.1 1234567890")),
    )
    once = docs.select("doc_id", scrub_pii(F.col("text")).alias("s1"))
    twice = once.select("doc_id", F.col("s1"), scrub_pii(F.col("s1")).alias("s2"))
    assert twice.filter(F.col("s1") != F.col("s2")).count() == 0
    assert once.filter(F.col("s1").contains("@")).count() == 0


def test_verify_candidate_pairs_confirms_and_rejects(spark):
    """The exact-Jaccard rerank must confirm true near-dups and reject
    candidates whose estimated similarity was an LSH accident: feed a
    synthetic candidate list (one true near-dup pair, one disjoint
    pair) and check the exact integer overlap sizes and verdicts."""
    from wikihadoop_spark.operators.dedup import verify_candidate_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),   # near-dup of 1
            (3, "one two three four five six seven"),    # unrelated
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.75), (1, 3, 0.25)], ["id_a", "id_b", "est_jaccard"]
    )
    out = {
        (r.id_a, r.id_b): r
        for r in verify_candidate_pairs(pairs, docs).collect()
    }
    # 6 tokens -> 4 shingles each; docs 1/2 share the first 3 shingles
    r = out[(1, 2)]
    assert (r.n_inter, r.n_union, r.verified) == (3, 5, True)
    assert abs(r.exact_jaccard - 0.6) < 1e-12
    r = out[(1, 3)]
    assert (r.n_inter, r.verified) == (0, False)
    # doc 1: 4 shingles, doc 3 (7 tokens): 5 shingles, disjoint -> 9
    assert r.n_union == 9 and r.exact_jaccard == 0.0


def test_scrub_pii_engine_parity_on_unicode_case(spark):
    """The email classes must be explicit ASCII ranges, not (?i): Java
    folds ASCII only while RE2 folds Unicode simple-case, so the flag
    makes the engines disagree on U+017F (LATIN SMALL LETTER LONG S)
    and U+212A (KELVIN SIGN) localparts.  With explicit ranges BOTH
    engines treat those characters as outside the class — identical
    (conservative) redaction spans, verified against DuckDB here."""
    import duckdb

    from wikihadoop_spark.functions.scrub import PII_PATTERNS, scrub_pii

    texts = [
        "plain Mixed.Case@Example.COM here",
        "long-s ſtuff@example.com here",
        "kelvin mailKa@example.com here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {r.i: r.s for r in df.select("i", scrub_pii(F.col("text")).alias("s")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        out = t
        for _, pat, rep in PII_PATTERNS:
            out = con.execute(
                "SELECT regexp_replace(?, ?, ?, 'g')", [out, pat, rep]
            ).fetchone()[0]
        assert got[i] == out, (i, got[i], out)
    # and the ASCII mixed-case address is actually redacted
    assert got[0] == "plain <EMAIL> here"


def test_segment_dedup_c4_keep_one(spark):
    """Line-frequency dedup strips repeated boilerplate everywhere but
    the corpus-first occurrence — including a repeat INSIDE the first
    document (C4's all-but-one rule) — and unique lines pass through
    untouched, in order."""
    from wikihadoop_spark.operators.segdedup import segment_frequency_dedup

    rows = [
        (1, "alpha\nBANNER\nbeta\nBANNER"),
        (2, "BANNER\ngamma"),
        (3, "delta\nBANNER"),
        (4, "unique only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_segments, r.n_removed, r.text)
        for r in segment_frequency_dedup(df).collect()
    }
    assert got[1] == (4, 1, "alpha\nBANNER\nbeta")  # in-doc repeat stripped
    assert got[2] == (2, 1, "gamma")
    assert got[3] == (2, 1, "delta")
    assert got[4] == (1, 0, "unique only")


def test_segment_dedup_token_windows_and_empty_doc(spark):
    """Token-window segmentation (no newlines needed); a document whose
    every segment is removed survives as an EMPTY row (dropping is a
    downstream quality decision, not a dedup side effect)."""
    from wikihadoop_spark.operators.segdedup import segment_frequency_dedup

    rows = [(1, "a b c d x y"), (2, "a b c d"), (3, "a b c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_segments, r.n_removed, r.text)
        for r in segment_frequency_dedup(
            df, split_regex=None, tokens_per_segment=4
        ).collect()
    }
    assert got[1] == (2, 0, "a b c d x y")  # first occurrence keeps
    assert got[2] == (1, 1, "")
    assert got[3] == (1, 1, "")


def test_segment_dedup_partition_invariant(spark):
    """The removal set and reassembled texts must not depend on the
    physical partitioning (first ownership is min (id, idx), a pure
    data function)."""
    import random

    from pyspark.sql import functions as F
    from wikihadoop_spark.operators.segdedup import segment_frequency_dedup

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(12)]
    boiler = "terms of service apply"
    rows = []
    for i in range(120):
        lines = [" ".join(rng.choices(vocab, k=5)) for _ in range(3)]
        if i % 4 == 0:
            lines.insert(rng.randrange(3), boiler)
        rows.append((i, "\n".join(lines)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = None
    for n_parts in (1, 7):
        got = sorted(
            (r.doc_id, r.n_removed, r.text)
            for r in segment_frequency_dedup(df.repartition(n_parts)).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base, n_parts
    # the planted boilerplate survived exactly once corpus-wide
    survivors = sum(1 for _, _, t in base if boiler in t.split("\n"))
    assert survivors == 1


def test_strip_frequent_segments_guard_and_dedup_consistency(spark):
    """The exact-index strip agrees with the batch dedup on every
    non-owner document (the index owns the canonical copy), and an
    oversized exact index fails fast toward the Bloom path."""
    import pytest as _pytest

    from wikihadoop_spark.operators.segdedup import (
        MAX_EXACT_SEGMENTS,
        frequent_segments,
        segment_frequency_dedup,
        strip_frequent_segments,
    )

    rows = [
        (1, "alpha\nBANNER\nbeta"),
        (2, "BANNER\ngamma"),
        (3, "delta\nBANNER\nepsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = [r.segment for r in frequent_segments(df).collect()]
    assert idx == ["BANNER"]
    deduped = {
        r.doc_id: r.text for r in segment_frequency_dedup(df).collect()
    }
    stripped = {
        r.doc_id: r.text for r in strip_frequent_segments(df, idx).collect()
    }
    # non-owners agree exactly; the owner doc keeps its copy only in
    # the batch dedup (the strip's contract: the index owns the copy)
    assert stripped[2] == deduped[2] == "gamma"
    assert stripped[3] == deduped[3] == "delta\nepsilon"
    assert deduped[1] == "alpha\nBANNER\nbeta"
    assert stripped[1] == "alpha\nbeta"

    with _pytest.raises(ValueError, match="MAX_EXACT_SEGMENTS"):
        strip_frequent_segments(df, [f"s{i}" for i in range(MAX_EXACT_SEGMENTS + 1)])


def test_segment_dedup_matches_python_model_randomized(spark):
    """Randomized corpora with heavy line collisions: the distributed
    result (counts + reassembled text) must equal a transparent
    pure-Python model of the all-but-one rule, across several seeds and
    including duplicate lines within documents and empty lines."""
    import random
    from collections import defaultdict

    from wikihadoop_spark.operators.segdedup import segment_frequency_dedup

    def model(rows, min_df=2):
        occ = defaultdict(list)
        segs = {d: t.split("\n") for d, t in rows}
        for d in sorted(segs):
            for i, s in enumerate(segs[d]):
                occ[s].append((d, i))
        freq = {
            s for s, lst in occ.items() if len({d for d, _ in lst}) >= min_df
        }
        out = {}
        for d, t in rows:
            kept, removed = [], 0
            for i, s in enumerate(segs[d]):
                if s in freq and (d, i) != min(occ[s]):
                    removed += 1
                else:
                    kept.append(s)
            out[d] = (len(segs[d]), removed, "\n".join(kept))
        return out

    pool = [f"line {i}" for i in range(9)] + [""]
    for seed in (3, 17, 92, 260814):
        rng = random.Random(seed)
        rows = [
            (d, "\n".join(rng.choices(pool, k=rng.randrange(1, 7))))
            for d in range(rng.randrange(5, 40))
        ]
        got = {
            r.doc_id: (r.n_segments, r.n_removed, r.text)
            for r in segment_frequency_dedup(
                spark.createDataFrame(rows, ["doc_id", "text"])
            ).collect()
        }
        assert got == model(rows), seed


def test_lm_surprisal_score_model_and_properties(spark):
    """Whole-bit unigram surprisal: hand-checked scores on a tiny
    corpus, the predictable-vs-gibberish ordering the CCNet-style
    filter exists for, unseen-token ceiling, and empty-doc survival."""
    from wikihadoop_spark.operators.lm_score import (
        lm_surprisal_score,
        unigram_model,
    )

    ref = spark.createDataFrame(
        [(1, "the the the the cat"), (2, "the dog")], ["doc_id", "text"]
    )
    model = unigram_model(ref)
    counts = {r.token: r["count"] for r in model.collect()}
    assert counts == {"the": 5, "cat": 1, "dog": 1}
    # N=7 -> bitlen 3; bits(the)=3-3=0, bits(cat|dog)=3-1=2, unseen=3
    docs = spark.createDataFrame(
        [
            (10, "the the"),        # fully predictable: 0
            (11, "cat dog"),        # rare: (2+2)*1000 div 2 = 2000
            (12, "zqx"),            # unseen: 3000
            (13, ""),               # empty: 0 tokens, score 0
            (14, "the zqx"),        # (0+3)*1000 div 2 = 1500
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, r.lm_bits)
        for r in lm_surprisal_score(docs, model).collect()
    }
    assert got == {
        10: (2, 0),
        11: (2, 2000),
        12: (1, 3000),
        13: (0, 0),
        14: (2, 1500),
    }
    # shuffle-join path must agree with the broadcast path exactly
    got2 = {
        r.doc_id: (r.n_tokens, r.lm_bits)
        for r in lm_surprisal_score(docs, model, broadcast_model=False).collect()
    }
    assert got2 == got


def test_lm_surprisal_matches_duckdb_oracle(spark):
    """Local engine-parity pin (the shape the driver gate would run):
    DuckDB replays the model counts, the bin-length surprisal, the
    unseen ceiling, and the milli-bit integer division bit-for-bit on
    the real documents table — self-scored, every value compared."""
    import duckdb

    from wikihadoop_spark.operators.lm_score import (
        lm_surprisal_score,
        unigram_model,
    )

    docs = load_table(spark, SF, "documents")
    model = unigram_model(docs)
    got = {
        (r.doc_id, r.n_tokens, r.lm_bits)
        for r in lm_surprisal_score(docs, model).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = set(
        map(
            tuple,
            con.execute(
                """
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
          FROM documents
        ), model AS (
          SELECT token, COUNT(*) AS c FROM toks GROUP BY token
        ), n AS (SELECT length(bin(SUM(c))) AS ceil FROM model)
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(n.ceil - length(bin(m.c))) * 1000 // COUNT(*) AS BIGINT)
                 AS lm_bits
        FROM toks t JOIN model m USING (token), n
        GROUP BY t.doc_id
        """
            ).fetchall(),
        )
    )
    # self-scoring: every token is in the model, so no unseen branch;
    # docs with zero tokens (none at this SF) would differ by design
    assert got == want and len(got) > 100


def test_bigram_surprisal_backoff_hand_checked(spark):
    """Bigram surprisal with whole-bit backoff, hand-computed: seen
    bigrams cost the conditional bits, unseen bigrams one backoff bit
    plus unigram bits, first tokens unigram bits, empty docs 0."""
    from wikihadoop_spark.operators.lm_score import (
        bigram_model,
        bigram_surprisal_score,
        unigram_model,
    )

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], ["doc_id", "text"]
    )
    uni, bi = unigram_model(ref), bigram_model(ref)
    assert {(r.w1, r.w2, r["count"]) for r in bi.collect()} == {
        ("the", "cat", 2), ("cat", "sat", 1), ("cat", "ran", 1)
    }
    docs = spark.createDataFrame(
        [
            (10, "the cat sat"),  # (1 + 0 + 1)*1000 div 3 = 666
            (11, "cat the"),      # (1 + 1+1)*1000 div 2 = 1500
            (12, "zz"),           # ceiling 3 -> 3000
            (13, "sat zz"),       # (2 + 1+3)*1000 div 2 = 3000
            (14, ""),             # empty -> 0
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, r.lm2_bits)
        for r in bigram_surprisal_score(docs, uni, bi).collect()
    }
    assert got == {
        10: (3, 666), 11: (2, 1500), 12: (1, 3000), 13: (2, 3000), 14: (0, 0)
    }
    got2 = {
        r.doc_id: (r.n_tokens, r.lm2_bits)
        for r in bigram_surprisal_score(
            docs, uni, bi, broadcast_model=False
        ).collect()
    }
    assert got2 == got


def test_bigram_surprisal_matches_duckdb_oracle(spark):
    """Engine parity on the real documents table, models from the
    even-id half so the odd half exercises backoff and unseen paths —
    DuckDB replays pair construction, both models, the three-way
    conditional, and the milli-bit division exactly."""
    import duckdb

    from wikihadoop_spark.operators.lm_score import (
        bigram_model,
        bigram_surprisal_score,
        unigram_model,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    got = {
        (r.doc_id, r.n_tokens, r.lm2_bits)
        for r in bigram_surprisal_score(
            docs, unigram_model(half), bigram_model(half)
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = set(
        map(
            tuple,
            con.execute(
                """
        WITH toks AS (
          SELECT doc_id, t.token, t.i
          FROM (SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS l
                FROM documents),
               LATERAL (SELECT unnest(l) AS token,
                               generate_subscripts(l, 1) AS i) t
        ), pairs AS (
          SELECT a.doc_id, a.i,
                 b.token AS prev, a.token AS cur
          FROM toks a LEFT JOIN toks b
            ON a.doc_id = b.doc_id AND b.i = a.i - 1
        ), uni AS (
          SELECT token, COUNT(*) AS c FROM toks
          WHERE doc_id % 2 = 0 GROUP BY token
        ), bi AS (
          SELECT b.prev, b.cur, COUNT(*) AS c
          FROM pairs b WHERE b.doc_id % 2 = 0 AND b.prev IS NOT NULL
          GROUP BY b.prev, b.cur
        ), n AS (SELECT length(bin(SUM(c))) AS ceil FROM uni)
        SELECT p.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(
                 CASE
                   WHEN p.prev IS NULL THEN
                     COALESCE(n.ceil - length(bin(uc.c)), n.ceil)
                   WHEN bi.c IS NOT NULL THEN
                     length(bin(up.c)) - length(bin(bi.c))
                   ELSE 1 + COALESCE(n.ceil - length(bin(uc.c)), n.ceil)
                 END) * 1000 // COUNT(*) AS BIGINT) AS lm2_bits
        FROM pairs p
        LEFT JOIN bi ON bi.prev = p.prev AND bi.cur = p.cur
        LEFT JOIN uni up ON up.token = p.prev
        LEFT JOIN uni uc ON uc.token = p.cur
        CROSS JOIN n
        GROUP BY p.doc_id
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 100


def test_lm_surprisal_null_keep_col_still_scores(spark):
    """keep_cols ride the base spine and never enter the restore-join
    key: a NULL in a keep column must not un-match the join (regression:
    the doc silently came back n_tokens=0 / lm_bits=0)."""
    from wikihadoop_spark.operators.lm_score import (
        lm_surprisal_score,
        unigram_model,
    )

    ref = spark.createDataFrame(
        [(1, "the the the the cat"), (2, "the dog")], ["doc_id", "text"]
    )
    model = unigram_model(ref)
    docs = spark.createDataFrame(
        [(10, "the cat", None), (11, "the cat", "y")],
        "doc_id bigint, text string, src string",
    )
    got = {
        r.doc_id: (r.src, r.n_tokens, r.lm_bits)
        for r in lm_surprisal_score(docs, model, keep_cols=("src",)).collect()
    }
    # N=7 -> ceiling 3; bits(the)=0, bits(cat)=2 -> (0+2)*1000 div 2
    assert got == {10: (None, 2, 1000), 11: ("y", 2, 1000)}


def test_segment_dedup_null_text_survives(spark):
    """A NULL-text document must come back (id, 0, 0, '') — not vanish
    (regression: split(NULL) explodes to zero rows and the doc was
    dropped, breaking the one-row-per-input contract the curation
    chain's strip stage relies on)."""
    from wikihadoop_spark.operators.segdedup import (
        segment_frequency_dedup,
        strip_frequent_segments,
    )

    docs = spark.createDataFrame(
        [(1, "a\nb", "s"), (2, None, "s"), (3, "a\nz", "s")],
        "doc_id bigint, text string, source string",
    )
    got = {
        r.doc_id: (r.n_segments, r.n_removed, r.text, r.source)
        for r in segment_frequency_dedup(
            docs, keep_cols=("source",)
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[2] == (0, 0, "", "s")
    assert got[1] == (2, 0, "a\nb", "s")       # corpus-first 'a' kept
    assert got[3] == (2, 1, "z", "s")
    # token-window mode and the stateless strip: same survival contract
    got_w = {
        r.doc_id: (r.n_segments, r.text)
        for r in segment_frequency_dedup(
            docs, split_regex=None, tokens_per_segment=2, min_df=2
        ).collect()
    }
    assert got_w[2] == (0, "")
    stripped = {
        r.doc_id: (r.n_segments, r.n_removed, r.text)
        for r in strip_frequent_segments(docs, ["a"]).collect()
    }
    assert stripped[2] == (0, 0, "")
    assert stripped[3] == (2, 1, "z")


def test_dsir_weights_hand_checked_and_properties(spark):
    """Whole-bit DSIR: (a) a degenerate target (= the whole corpus)
    gives every document weight exactly 0 — bitlen(t+1)=bitlen(r+1)
    and the totals cancel; (b) feature counts are 2*len-1; (c) a
    target-only gram pulls weights positive for docs containing it and
    negative for docs of pure raw-only grams; (d) feature-free and
    NULL-text docs survive as (0, 0); (e) NULL keep_cols don't
    un-match the restore join."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.dsir import (
        bucket_distributions,
        dsir_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha", "t", None),
            (2, "gamma delta gamma delta gamma", "r", "y"),
            (3, "", "r", "y"),
            (4, None, "r", None),
        ],
        "doc_id bigint, text string, grp string, src string",
    )
    # (a) target == raw -> all-zero weights, n_feats = 2*len(tokens)-1
    dist_all = bucket_distributions(docs, F.lit(True))
    got = {
        r.doc_id: (r.src, r.n_feats, r.dsir_bits)
        for r in dsir_weights(docs, dist_all, keep_cols=("src",)).collect()
    }
    assert got == {
        1: (None, 9, 0),  # 5 unigrams + 4 bigrams
        2: ("y", 9, 0),
        3: ("y", 0, 0),
        4: (None, 0, 0),
    }
    # (c) genuine target: whole-bit lambdas move only when a bitlen
    # boundary is crossed, so give the raw corpus enough mass that
    # R+B crosses a power of two above T+B (raw-exclusive grams then
    # cost bits, target grams with t=r earn the boundary bit) — doc 1
    # is pure target-exclusive text, the fillers pure raw-exclusive
    filler = [
        (100 + i, "gamma delta gamma delta gamma gamma delta", "r", "y")
        for i in range(20)
    ]
    # epsilon/zeta chosen collision-free vs the gamma/delta family in
    # 128 buckets (alpha collides with gamma at bucket 123 — a real
    # 1-in-128 hit that originally flipped this test's sign)
    corpus = spark.createDataFrame(
        [
            (1, "epsilon zeta epsilon zeta epsilon", "t", None),
            (3, "", "r", "y"),
            (4, None, "r", None),
            *filler,
        ],
        "doc_id bigint, text string, grp string, src string",
    )
    dist = bucket_distributions(corpus, F.col("grp") == "t")
    w = {r.doc_id: r.dsir_bits for r in dsir_weights(corpus, dist).collect()}
    assert w[1] > 0 > w[100], w
    assert w[3] == 0 and w[4] == 0
    # unigram-only mode drops the bigram features on both sides
    dist_u = bucket_distributions(docs, F.lit(True), use_bigrams=False)
    nf = {
        r.doc_id: r.n_feats
        for r in dsir_weights(docs, dist_u, use_bigrams=False).collect()
    }
    assert nf == {1: 5, 2: 5, 3: 0, 4: 0}


def test_dsir_weights_matches_duckdb_oracle(spark):
    """Local engine-parity pin on the real documents table (the shape
    the driver gate would run): DuckDB replays the hashing, bucketing,
    conditional aggregation, bit-ratio lambda, and restore spine
    bit-for-bit at sf0.001 — every value compared."""
    import duckdb

    from wikihadoop_spark.relational import ORACLE, QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_feats, r.dsir_bits)
        for r in QUERIES["dsir_weights"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        int(d): (int(n), int(b))
        for d, n, b in con.execute(ORACLE["dsir_weights"]).fetchall()
    }
    assert got == want
    assert any(b != 0 for _, b in got.values())  # a real signal, not all-zero


def test_count_min_sketch_properties(spark):
    """CMS invariants on a hand-built stream: (a) with a wide sketch
    (no collisions) every estimate is EXACT; (b) with a tiny sketch
    estimates never underestimate; (c) cell-wise merge of two shard
    sketches equals the sketch of the union; (d) heavy_hitters returns
    a superset of the true >= total/k tokens and never misses one;
    (e) NULL tokens are ignored."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.sketch import (
        cms_lookup,
        cms_merge,
        count_min_sketch,
        heavy_hitters,
    )

    stream = (
        ["alpha"] * 40 + ["beta"] * 20 + ["gamma"] * 6 + ["delta"] * 2
        + ["eps"] * 1
    )
    items = spark.createDataFrame(
        [(t,) for t in stream] + [(None,)], "token string"
    )
    exact = {"alpha": 40, "beta": 20, "gamma": 6, "delta": 2, "eps": 1}
    probes = spark.createDataFrame([(t,) for t in exact], "token string")

    wide = count_min_sketch(items, depth=4, width=1024)
    got_wide = {
        r.token: r.cms_count
        for r in cms_lookup(probes, wide, depth=4, width=1024).collect()
    }
    assert got_wide == exact  # no collisions -> exact

    tiny = count_min_sketch(items, depth=2, width=2)
    got_tiny = {
        r.token: r.cms_count
        for r in cms_lookup(probes, tiny, depth=2, width=2).collect()
    }
    assert all(got_tiny[t] >= c for t, c in exact.items())  # never under
    assert sum(got_tiny.values()) > sum(exact.values())  # collisions real

    # (c) shard merge: sketch(first half) + sketch(second half)
    half = len(stream) // 2
    a = count_min_sketch(
        spark.createDataFrame([(t,) for t in stream[:half]], "token string"),
        depth=4, width=8,
    )
    b = count_min_sketch(
        spark.createDataFrame([(t,) for t in stream[half:]], "token string"),
        depth=4, width=8,
    )
    merged = {(r.row, r.col): r.cnt for r in cms_merge(a, b).collect()}
    whole = {
        (r.row, r.col): r.cnt
        for r in count_min_sketch(items, depth=4, width=8).collect()
    }
    assert merged == whole

    # (d) total=69, k=5 -> threshold 13: true heavy hitters alpha+beta
    hh = {
        r.token for r in heavy_hitters(items, k=5, depth=4, width=8).collect()
    }
    assert {"alpha", "beta"} <= hh  # no false negatives, ever
    assert "eps" not in hh or True  # false positives allowed by design


def test_cms_lookup_preserves_probe_cardinality_and_null_tokens(spark):
    """cms_lookup's append contract (round-9 advisor item): duplicate
    probe rows — same token AND same carried columns — each keep their
    own output row (a transient per-row key rides the cell fan-out),
    and a NULL probe token yields cms_count NULL, not a
    false-certainty 0 (the build ignores NULLs, so no counter ever saw
    one).  Also pins the reserved-name guard for the row key."""
    import pytest
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.sketch import cms_lookup, count_min_sketch

    items = spark.createDataFrame(
        [("alpha",)] * 5 + [("beta",)] * 3, "token string"
    )
    sketch = count_min_sketch(items, depth=4, width=1024)

    probes = spark.createDataFrame(
        [
            ("alpha", "first"),
            ("alpha", "first"),  # exact duplicate row — must survive
            ("alpha", "second"),
            (None, "nulltok"),
            (None, "nulltok"),  # duplicate NULL-token row too
            ("unseen", "miss"),
        ],
        "token string, tag string",
    )
    out = cms_lookup(probes, sketch, depth=4, width=1024).collect()
    assert len(out) == probes.count()  # cardinality preserved exactly
    by_tag = {}
    for r in out:
        by_tag.setdefault((r.token, r.tag), []).append(r.cms_count)
    assert by_tag[("alpha", "first")] == [5, 5]  # both duplicates, both scored
    assert by_tag[("alpha", "second")] == [5]
    assert by_tag[(None, "nulltok")] == [None, None]  # NULL, never 0
    assert by_tag[("unseen", "miss")] == [0]  # a real miss IS certainty-0

    with pytest.raises(ValueError, match="__cms_probe_row"):
        cms_lookup(
            probes.withColumn("__cms_probe_row", F.lit(1)), sketch
        )


def test_sketch_count_min_gate_query_overestimates_only(spark):
    """The gate query's comparison table on real data: cms_count is
    never below exact_count, and the deliberately tiny 4x16 sketch
    produces at least one genuine collision overestimate at sf0.01
    (vocabulary 31 > width 16 forces one by pigeonhole)."""
    from wikihadoop_spark.relational import QUERIES

    rows = QUERIES["sketch_count_min"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert all(r.cms_count >= r.exact_count for r in rows)
    assert any(r.cms_count > r.exact_count for r in rows)


def test_corpus_delta_classification_and_null_transitions(spark):
    """Hand-checked delta: added/removed/changed/unchanged, whitespace-
    only churn NOT counted as change under the normalized fingerprint
    (but counted with normalized=False), and NULL<->''/text transitions
    always 'changed' (the sentinel regression: a bare coalesce would
    call NULL -> '' unchanged)."""
    from wikihadoop_spark.operators.delta import corpus_delta, delta_counts

    old = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "old words"),
            (3, "going away"),
            (4, "Same   TEXT!"),   # normalized-equal to new
            (5, None),
            (6, ""),
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "new words"),
            (4, "same text"),
            (5, ""),
            (6, None),
            (7, "brand new"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.status for r in corpus_delta(old, new).collect()
    }
    assert got == {
        2: "changed",
        3: "removed",
        5: "changed",  # NULL -> ''
        6: "changed",  # '' -> NULL
        7: "added",
    }
    full = {
        r.doc_id: r.status
        for r in corpus_delta(old, new, include_unchanged=True).collect()
    }
    assert full[1] == "unchanged" and full[4] == "unchanged"
    # byte-level identity: punctuation churn now counts
    raw = {
        r.doc_id: r.status
        for r in corpus_delta(old, new, normalized=False).collect()
    }
    assert raw[4] == "changed"
    counts = {
        r.status: r.n_docs
        for r in delta_counts(corpus_delta(old, new)).collect()
    }
    assert counts == {"changed": 3, "removed": 1, "added": 1}


def test_dsir_rowwise_matches_distributed_scoring(spark):
    """The stateless row-local fold (literal lambda table) must agree
    bit-for-bit with the distributed explode+join+aggregate path over
    the same fitted distributions — the equivalence that lets the
    batch curation chain and the streaming chain run the SAME stage."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.catalog import load_table
    from wikihadoop_spark.operators.dsir import (
        bucket_distributions,
        collect_lambda_table,
        dsir_score_rowwise,
        dsir_weights,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    dist = bucket_distributions(docs, F.col("lang") == "en").persist()
    want = {
        r.doc_id: r.dsir_bits for r in dsir_weights(docs, dist).collect()
    }
    lam = collect_lambda_table(dist)
    assert len(lam) == 128
    got = {
        r.doc_id: r.dsir_bits
        for r in dsir_score_rowwise(docs, lam).collect()
    }
    dist.unpersist()
    assert got == want
    assert any(v != 0 for v in got.values())


def test_mixture_waterfill_gate_query_oracle_and_cascade(spark):
    """The waterfill gate query (round-9 verdict item 4: the one
    mixture branch with no driver evidence) against its recursive-CTE
    oracle at sf0.001, plus the branch semantics the fixture must
    exercise: a genuine multi-round cascade (src0 caps on round 1,
    src1 only after src0's budget redistributes), capped groups keep
    EVERY row, and every uncapped group's threshold strictly dominates
    its single-pass value (water-filling only ever keeps more)."""
    import duckdb

    from wikihadoop_spark.operators.mixture import (
        SCALE,
        mixture_thresholds,
        mixture_thresholds_waterfill,
    )
    from wikihadoop_spark.relational import ORACLE, QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["mixture_waterfill"](spark, sf).collect()
    got = {(r.doc_id, r.source, r.n_chars, r.bucket, r.keep_threshold) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (int(a), b, int(c), int(d), int(e))
        for a, b, c, d, e in con.execute(ORACLE["mixture_waterfill"]).fetchall()
    }
    assert got == want

    totals = {
        s: int(a)
        for s, a in con.execute(
            "SELECT source, SUM(n_chars) FROM documents GROUP BY source"
        ).fetchall()
    }
    budget = sum(totals.values()) // 2
    weights = {"src0": 40, "src1": 5}
    wf = mixture_thresholds_waterfill(totals, weights, budget, default_weight=1)
    sp = mixture_thresholds(totals, weights, budget, default_weight=1)
    assert wf["src0"] == SCALE and wf["src1"] == SCALE  # both capped
    # src1 caps ONLY via redistribution: its single-pass threshold is
    # partial — that's the cascade the recursive oracle replays
    assert sp["src1"] < SCALE
    uncapped = [g for g in totals if g not in weights]
    assert uncapped and all(sp[g] < wf[g] < SCALE for g in uncapped)

    # capped groups keep every row in the query output
    from collections import Counter

    kept = Counter(s for _, s, _, _, _ in got)
    doc_counts = {
        s: int(n)
        for s, n in con.execute(
            "SELECT source, COUNT(*) FROM documents GROUP BY source"
        ).fetchall()
    }
    assert kept["src0"] == doc_counts["src0"]
    assert kept["src1"] == doc_counts["src1"]
    # and uncapped groups genuinely sample
    assert any(kept[g] < doc_counts[g] for g in uncapped)


def test_mixture_waterfill_recursive_oracle_random_shapes():
    """The recursive-CTE waterfill oracle must replay the Python
    iterative math on ADVERSARIAL group shapes, not just the gate
    fixture: zero-supply groups (threshold 0, budget untouched),
    single-group corpora, degenerate budgets (sum//2 of tiny corpora),
    deep cascades, and all-zero supplies.  Pure DuckDB vs pure Python —
    no Spark session, so this runs on every pytest invocation.  The
    oracle string itself is exercised verbatim (view-substituted
    documents table), keeping the r11 gate candidate honest."""
    import random

    import duckdb

    from wikihadoop_spark.operators.mixture import (
        SCALE,
        mixture_thresholds_waterfill,
    )
    from wikihadoop_spark.relational import ORACLE

    sql = ORACLE["mixture_waterfill"]
    rng = random.Random(20260815)
    for trial in range(25):
        n_groups = rng.randrange(1, 12)
        rows = []
        doc_id = 0
        totals: dict[str, int] = {}
        for g in range(n_groups):
            src = f"src{g}"
            n_docs = rng.randrange(1, 6)
            tot = 0
            for _ in range(n_docs):
                # zero-length docs are real (empty pages) and push
                # whole groups to zero supply on some trials
                chars = rng.choice([0, 0, rng.randrange(1, 2000)])
                rows.append((doc_id, src, chars))
                tot += chars
                doc_id += 1
            totals[src] = tot
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        got = {
            (int(d), s, int(c), int(b), int(t))
            for d, s, c, b, t in con.execute(sql).fetchall()
        }

        budget = sum(totals.values()) // 2
        weights = {"src0": 40, "src1": 5}
        thr = mixture_thresholds_waterfill(
            totals, weights, budget, default_weight=1
        )
        want = set()
        for d, s, c in rows:
            b = int(
                con.execute(
                    "SELECT ('0x' || substr(md5('mix:' || CAST(? AS VARCHAR)), 1, 15))::BIGINT % 1000000",
                    [d],
                ).fetchone()[0]
            )
            if b < thr[s]:
                want.add((d, s, c, b, thr[s]))
        assert got == want, (trial, sorted(totals.items()), budget)
        # sanity on the branch semantics across the suite of trials:
        # a zero-supply group must never emit a row
        for d, s, c, b, t in got:
            assert totals[s] > 0
        assert all(0 <= t <= SCALE for t in thr.values())
        con.close()


def test_int8_quantization_kernel_and_recall(spark):
    """The int8 similarity kernel (operators/quantize.py): (a) the
    quantizer maps the max-|x| element to ±127 (or 126 on the exact
    float boundary) and an all-zero/NULL vector to all-zeros/NULL;
    (b) integer dots and norms are exact (hand-checked); (c) the
    quantized top-10 on real embeddings overlaps the float top-10
    heavily — quantization error is bounded at 1/254 of the per-vector
    max, so ranking flips only genuine near-ties."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.quantize import (
        int_dot,
        int_norm2,
        quantize_int8,
    )
    from wikihadoop_spark.relational import QUERIES

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25]),
            (2, [0.0, 0.0, 0.0]),
            (3, None),
        ],
        "id bigint, v array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id", quantize_int8(F.col("v")).alias("q")
        ).collect()
    }
    assert rows[1].q[1] in (-127, -126)  # the max-|x| element
    assert rows[1].q == [63, -127, 31]  # trunc, not round (0.5*127=63.5)
    assert rows[2].q == [0, 0, 0]  # zero vector: scale guard, no NaN
    assert rows[3].q is None  # NULL passes through

    two = spark.createDataFrame(
        [([3, -4, 5], [1, 2, 2])], "a array<int>, b array<int>"
    ).select(
        int_dot(F.col("a"), F.col("b")).alias("d"),
        int_norm2(F.col("a")).alias("na"),
        int_norm2(F.col("b")).alias("nb"),
    ).collect()[0]
    assert (two.d, two.na, two.nb) == (3 - 8 + 10, 9 + 16 + 25, 9)

    sf = "/root/testdata/sf0.001"
    fl = {}
    for r in QUERIES["similarity_topk"](spark, sf).collect():
        fl.setdefault(r.query_id, set()).add(r.neighbor_id)
    q8 = {}
    for r in QUERIES["similarity_topk_int8"](spark, sf).collect():
        q8.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(fl) == set(q8)
    overlaps = [len(fl[q] & q8[q]) / len(fl[q]) for q in fl]
    assert sum(overlaps) / len(overlaps) >= 0.8, overlaps


def test_perplexity_buckets_rule_and_edges(spark):
    """perplexity_buckets (CCNet head/middle/tail): hand-checked
    tercile assignment, the tie rule (a value crossing several
    thresholds keeps all its rows in the LOWER bucket — buckets can be
    uneven, never split), quartiles too, empty input, and validation.
    Determinism: same assignment regardless of partitioning."""
    import pytest
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.lm_score import perplexity_buckets

    def frame(vals, parts=1):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "doc_id bigint, lm_bits bigint"
        ).repartition(parts)

    # 9 distinct values -> clean terciles 3/3/3
    out = {
        r.lm_bits: r.bucket
        for r in perplexity_buckets(frame(range(10, 100, 10))).collect()
    }
    assert [out[v] for v in range(10, 100, 10)] == [1, 1, 1, 2, 2, 2, 3, 3, 3]

    # heavy tie: one value holds 80% of rows -> it crosses BOTH
    # thresholds, so buckets 1 and 2 collapse onto it (bucket 2 empty)
    vals = [5] * 8 + [7, 9]
    rows = perplexity_buckets(frame(vals)).collect()
    got = sorted((r.lm_bits, r.bucket) for r in rows)
    assert all(b == 1 for v, b in got if v == 5)
    assert {b for v, b in got if v > 5} == {3}

    # quartiles, and partitioning must not matter
    a = {(r.doc_id, r.bucket) for r in perplexity_buckets(frame(range(8), 1), n_buckets=4).collect()}
    b = {(r.doc_id, r.bucket) for r in perplexity_buckets(frame(range(8), 7), n_buckets=4).collect()}
    assert a == b
    assert sorted(bb for _, bb in a) == [1, 1, 2, 2, 3, 3, 4, 4]

    # empty input -> empty output, no threshold crash
    assert perplexity_buckets(frame([])).count() == 0

    with pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(frame([1]), n_buckets=1)
    with pytest.raises(ValueError, match="already exists"):
        perplexity_buckets(frame([1]).withColumn("bucket", F.lit(0)))

    # NULL scores are a contract violation, not an int(None) crash:
    # a NULL has no position on the quantile axis (r10 advisor)
    nullframe = spark.createDataFrame(
        [(0, 10), (1, None), (2, 30)], "doc_id bigint, lm_bits bigint"
    )
    with pytest.raises(ValueError, match="NULL"):
        perplexity_buckets(nullframe)


def test_funnel_hot_user_completes_and_matches_skew_safe(spark):
    """Hot-key drill (round-15 verdict item 4): one user owning ~99%
    of the sf0.01 events must (a) COMPLETE through the funnel's
    default window shape — WindowExec spills, it does not OOM — and
    (b) produce bit-identical per-user step times to the skew_safe
    two-phase shape, whose aggregates partial-combine the hot key
    map-side and whose joins stream one-row build sides.  Also pins
    the full stacked funnel equal across shapes, and sessionize's
    completion on the same adversarial frame (its contract is spill-
    not-OOM too; operators/sessionize.py documents why no aggregate
    rewrite exists for it)."""
    from wikihadoop_spark.operators.sessionize import sessionize
    from wikihadoop_spark.relational import _funnel_per_user

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    # user 7 absorbs every row except a 1% remainder — adversarial
    # bot-user distribution, deterministic remap
    skewed = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 100 == 0, F.col("user_id") + 1000).otherwise(
            F.lit(7)
        ),
    )
    e = skewed.select("user_id", "event_type", "ts")
    via_window = {
        r.user_id: (r.t_view, r.t_click, r.t_buy)
        for r in _funnel_per_user(e).collect()
    }
    via_twophase = {
        r.user_id: (r.t_view, r.t_click, r.t_buy)
        for r in _funnel_per_user(e, skew_safe=True).collect()
    }
    assert via_window == via_twophase
    assert 7 in via_window and via_window[7][0] is not None
    # the hot user's ordered-step semantics actually bind: its first
    # view exists, and any later steps respect the strict ordering
    tv, tc, tb = via_window[7]
    if tc is not None:
        assert tv < tc
    if tb is not None:
        assert tc is not None and tc < tb
    # sessionize on the same frame: completes, ids are 1-based and
    # contiguous for the hot user
    sess = sessionize(
        skewed, key=["user_id"], ts="ts", gap_seconds=1800,
        order_tiebreak=["event_id"],
    )
    hot = sess.filter(F.col("user_id") == 7)
    n_sessions, max_id = hot.agg(
        F.countDistinct("session_id"), F.max("session_id")
    ).first()
    assert n_sessions == max_id >= 1
    assert hot.count() == skewed.filter(F.col("user_id") == 7).count()


def test_join_pairing_empty_cols_flag_only(spark):
    """cols=[] asks only for the is_first flag: the __p presence
    marker keeps the prev struct non-empty, so the one-exchange
    formulation still works and cardinality is passthrough."""
    from wikihadoop_spark.operators.pairing import pair_with_previous_join

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k int, seq int, v string"
    )
    out = pair_with_previous_join(df, ["k"], "seq", []).collect()
    flags = {(r.k, r.seq): r.is_first for r in out}
    assert flags == {(1, 1): True, (1, 2): False, (2, 1): True}
    assert sorted((r.k, r.seq, r.v) for r in out) == [
        (1, 1, "a"), (1, 2, "b"), (2, 1, "c")
    ]


def test_join_pairing_single_giant_key(spark):
    """The skew case the dense-seq strategy exists for: ONE key owns a
    long history.  The one-exchange formulation must complete, spread
    rows across partitions by (key, seq), and agree with the window
    strategy row-for-row."""
    from wikihadoop_spark.operators.pairing import (
        pair_with_previous,
        pair_with_previous_join,
    )

    n = 20_000
    df = (
        spark.range(1, n + 1)
        .select(
            F.lit(1).alias("page"),
            F.col("id").alias("seq"),
            (F.col("id") * 7 % 1000).alias("payload"),
        )
    )
    via_join = pair_with_previous_join(
        df, ["page"], "seq", ["payload"], fill={"payload": -1}
    )
    # the giant key CAN spread: the one exchange partitions on the
    # composite (page, seq), never on page alone (AQE may still
    # coalesce this tiny frame into one partition — the KEY is the
    # contract, so assert the plan, not the runtime partition count)
    plan = via_join._jdf.queryExecution().executedPlan().toString()
    hash_ex = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    # (the constant page key folds to a literal in the attribute name;
    # the composite naming on a real multi-key frame is pinned in
    # test_plans.py::test_wikidump_pairs_join_single_exchange_no_window)
    assert len(hash_ex) == 1 and "seq" in hash_ex[0]
    via_window = pair_with_previous(
        df, ["page"], ["seq"], ["payload"], fill={"payload": -1}
    )
    key = lambda rows: sorted(
        (r.page, r.seq, r.payload, r.prev_payload, r.is_first) for r in rows
    )
    assert key(via_join.collect()) == key(via_window.collect())


def test_join_pairing_contract_violations_raise(spark):
    """Round-16 review: density-contract violations must fail loudly.
    A NULL seq would otherwise group a row with itself (self-pairing);
    a duplicated (key, seq) would otherwise collapse rows
    nondeterministically.  Both now raise with the offending key in
    the message."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from wikihadoop_spark.operators.pairing import pair_with_previous_join

    with_null = spark.createDataFrame(
        [(1, None, "a"), (1, 1, "b"), (1, 2, "c")],
        "k int, seq int, v string",
    )
    with pytest.raises(SparkRuntimeException, match="NULL sequence"):
        pair_with_previous_join(with_null, ["k"], "seq", ["v"]).collect()

    with_dup = spark.createDataFrame(
        [(1, 1, "a"), (1, 1, "a2"), (1, 2, "b")],
        "k int, seq int, v string",
    )
    with pytest.raises(SparkRuntimeException, match="duplicated"):
        pair_with_previous_join(with_dup, ["k"], "seq", ["v"]).collect()
