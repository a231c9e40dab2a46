"""Shard utility + salted aggregation tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikihadoop_spark.catalog import load_table
from wikihadoop_spark.operators.skew import salted_agg
from wikihadoop_spark.sources.shard import shard_dump
from wikihadoop_spark.sources.wikidump import read_wikidump

from dump_fixtures import big_dump, page, rev, standard_dump, write_dump

SF = "/root/testdata/sf0.001"


def test_shard_roundtrip_plain(spark, tmp_path):
    path = write_dump(tmp_path, big_dump(), "big.xml")
    out = str(tmp_path / "shards")
    paths = shard_dump(path, out, shard_bytes=20_000)
    assert len(paths) > 3
    orig = sorted(
        (r.page_id, r.rev_id, r.text) for r in read_wikidump(spark, path).collect()
    )
    shd = sorted(
        (r.page_id, r.rev_id, r.text)
        for r in read_wikidump(spark, out + "/shard-*.xml").collect()
    )
    assert shd == orig


def test_shard_bz2_to_parallel(spark, tmp_path):
    """The real use: one non-splittable .bz2 -> parallel-readable
    compressed shards, zero row loss."""
    src = write_dump(tmp_path, big_dump(), "big.xml", compress="bz2")
    out = str(tmp_path / "shards")
    paths = shard_dump(src, out, shard_bytes=20_000, compress="bz2")
    assert len(paths) > 3 and all(p.endswith(".bz2") for p in paths)
    orig = sorted((r.page_id, r.rev_id) for r in read_wikidump(spark, src).collect())
    df = read_wikidump(spark, out + "/shard-*.xml.bz2")
    assert df.rdd.getNumPartitions() == len(paths)  # one partition per shard
    assert sorted((r.page_id, r.rev_id) for r in df.collect()) == orig


def test_shards_are_page_aligned(spark, tmp_path):
    path = write_dump(tmp_path, big_dump(), "big.xml")
    out = str(tmp_path / "shards")
    for p in shard_dump(path, out, shard_bytes=20_000):
        content = open(p, "rb").read()
        assert content.count(b"<page>") == content.count(b"</page>")


def test_giant_page_in_scan_diff_skew_drill(spark, tmp_path):
    """Giant-page skew drill: one page's revision chain spans ~30 split
    ranges, so dozens of partitions see its bytes but ONLY the partition
    owning its <page> tag may emit rows (tailing far past its range),
    and the in-scan diff serializes the whole chain through that one
    task's Python loop. Owner-rule exactly-once, pairing, and patch
    reconstruction must all survive; the crossover to dense-seq join
    pairing when such a chain dominates a stage is documented in
    SCALING.md."""
    import random

    from wikihadoop_spark.functions.diffs import apply_diff

    rng = random.Random(11)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()

    pages = [page(1, "Before", 0, [rev(10, "2021-01-01T00:00:00Z", "tiny")])]
    body = [rng.choice(words) for _ in range(30_000)]  # ~180 KB / revision
    revs, expected = [], {}
    rid = 100
    for s in range(40):
        rid += 1
        # mid-page edits (not append-only): replace / insert / delete a
        # random slice, defeating the prefix/suffix fast path
        i = rng.randrange(0, len(body))
        n = rng.randrange(1, 50)
        roll = rng.random()
        if roll < 0.4:
            body[i : i + n] = [rng.choice(words) for _ in range(n)]
        elif roll < 0.7:
            body[i:i] = [rng.choice(words) for _ in range(n)]
        else:
            del body[i : i + n]
        text = " ".join(body)
        revs.append(rev(rid, f"2021-02-{(s % 27) + 1:02d}T00:00:00Z", text))
        expected[rid] = (s + 1, text)
    pages.append(page(2, "Giant", 0, revs))
    pages.append(page(3, "After", 0, [rev(900, "2021-03-01T00:00:00Z", "tail")]))

    xml = "<mediawiki>\n" + "".join(pages) + "</mediawiki>\n"
    path = write_dump(tmp_path, xml, "giant.xml")
    split = max(64 * 1024, len(xml) // 30)

    df = read_wikidump(spark, path, splitSize=str(split))
    assert df.rdd.getNumPartitions() >= 20  # the page truly spans splits
    rows = df.collect()

    # exactly-once across every partition boundary inside the page
    got_ids = sorted(r.rev_id for r in rows)
    assert got_ids == [10] + sorted(expected) + [900]

    by_id = {r.rev_id: r for r in rows}
    prev_text = ""
    for seq, rid in enumerate(sorted(expected), start=1):
        r = by_id[rid]
        exp_seq, exp_text = expected[rid]
        assert (r.rev_seq, r.text) == (exp_seq, exp_text)
        assert r.beginningofpage is (seq == 1)
        assert (r.prev_text or "") == prev_text
        # in-scan diff ops reconstruct the revision (reference D3)
        assert apply_diff(prev_text, r.ops) == exp_text
        prev_text = exp_text


def test_salted_agg_matches_plain(spark):
    li = load_table(spark, SF, "lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "total_qty": ("sum", F.col("l_quantity").cast("decimal(15,2)")),
            "n": ("count", F.lit(1)),
            "min_price": ("min", F.col("l_extendedprice")),
            "max_price": ("max", F.col("l_extendedprice")),
        },
        salt=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(15,2)")).alias("total_qty"),
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    li = load_table(spark, SF, "lineitem")
    with pytest.raises(ValueError, match="not algebraic"):
        salted_agg(li, ["l_returnflag"], {"avg": ("avg", "l_quantity")})


def test_mega_cluster_dedup_drill(spark):
    """100 TB boilerplate drill: a 120-member near-identical template
    family among distinct docs.  Demonstrates the documented
    bucket_cap ↔ connectivity contract end-to-end:

    - cap below the family size: the truncation counter fires and the
      family fragments (members past the cap appear in no pairs) — the
      observable signal that says 'raise the cap';
    - cap at/above the family size: LSH pairs + connected components
      resolve the family to ONE component whose keeper is the minimum
      id, with every fixpoint round bounded by the pair set, not the
      corpus.
    """
    from wikihadoop_spark.observability import TruncationCounter
    from pyspark.sql import functions as F

    from wikihadoop_spark.operators.components import (
        component_summary,
        connected_components,
    )
    from wikihadoop_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    template = " ".join(f"tok{i % 37} filler{i % 11}" for i in range(60))
    rows = [(i, template + f" tail{i % 3}") for i in range(120)]
    rows += [
        (1000 + j, " ".join(f"uniq{j}w{k}" for k in range(40))) for j in range(30)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    sig = minhash_signatures(docs, id_col="doc_id", text_col="text", n_hashes=16)

    # cap below the family size: truncation observable, family fragments
    obs = TruncationCounter()
    few = lsh_candidate_pairs(
        sig, id_col="doc_id", n_hashes=16, bands=4, bucket_cap=20, observation=obs
    )
    cc_few = connected_components(
        docs.select("doc_id"), few.filter(F.col("est_jaccard") >= 0.5), id_col="doc_id"
    )
    n_comp_few = cc_few.select("component").distinct().count()
    assert obs.get["lsh_dropped_members"] > 0
    assert n_comp_few > 31  # fragmented: more than family+uniques

    # cap at the family size: one component, min id is the keeper
    full = lsh_candidate_pairs(sig, id_col="doc_id", n_hashes=16, bands=4, bucket_cap=120)
    cc = connected_components(
        docs.select("doc_id"), full.filter(F.col("est_jaccard") >= 0.5), id_col="doc_id"
    )
    summary = component_summary(cc, id_col="doc_id")
    fam = summary.filter(F.col("n_members") > 1).collect()
    comps = {r.component for r in fam}
    assert comps == {0}, comps  # single family component rooted at doc 0
    assert sum(1 for r in fam if r.is_keeper) == 1
    assert len(fam) == 120


def test_mega_frequent_shingle_overlap_drill(spark):
    """100 TB stop-shingle drill for ngram_overlap: one boilerplate
    shingle shared by ~95% of the corpus (the power-law head that made
    the old window formulation put a whole key in one task).  The
    de-skewed two-aggregate plan must stay exact: shared shingles are
    counted via per-shingle (count, min-owner) partial aggregation,
    so the hot key pre-reduces map-side instead of concentrating."""
    from pyspark.sql import functions as F

    from wikihadoop_spark.relational import ngram_overlap_frame

    n_boiler, n_clean = 285, 15
    rows = [
        (i, f"common boiler plate u{i}a u{i}b u{i}c") for i in range(n_boiler)
    ] + [
        (1000 + j, f"x{j}a x{j}b x{j}c x{j}d") for j in range(n_clean)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"], r["overlap_frac"])
        for r in ngram_overlap_frame(docs).collect()
    }
    assert len(got) == n_boiler + n_clean
    # boilerplate docs: 4 distinct shingles ("common boiler plate",
    # "boiler plate u{i}a", "plate u{i}a u{i}b", "u{i}a u{i}b u{i}c"),
    # exactly the first shared with every other boilerplate doc
    for i in range(n_boiler):
        assert got[i] == (4, 1, 0.25), (i, got[i])
    # clean docs share nothing
    for j in range(n_clean):
        assert got[1000 + j] == (2, 0, 0.0), (j, got[1000 + j])


def test_mega_family_through_full_curation_chain(spark):
    """Chain-level skew drill: a 300-member boilerplate family among
    distinct docs through the ENTIRE curation pipeline.  With the cap
    below the family size the chain must still complete (capped pairs,
    observable truncation, partial dedup); with the cap above it the
    family must collapse to ONE surviving document."""
    from wikihadoop_spark.plans.curation import curate_corpus

    # strongly-positive template so the quality stage keeps everything;
    # UNIQUE tails so the family survives exact dedup and hits the LSH
    # stage as 300 near-duplicates (a shared tail would collapse at the
    # fingerprint stage and never stress the buckets)
    pos = "beta delta epsilon eta iota lam nu xi omicron rho tau upsilon phi chi omega red iron"
    family = [(i, pos + f" u{i}", "boiler") for i in range(300)]
    uniq = [
        (1000 + j, " ".join(f"red iron beta u{j}w{k}" for k in range(6)), "clean")
        for j in range(20)
    ]
    docs = spark.createDataFrame(family + uniq, ["doc_id", "text", "source"])

    full = curate_corpus(docs, bucket_cap=300)
    kept = {r.doc_id for r in full.curated.select("doc_id").collect()}
    fam_kept_full = kept & set(range(300))
    # 16-hash minhash is an ESTIMATOR: a few members can miss the 0.5
    # threshold, so "nearly one keeper", not exactly one
    assert 0 in fam_kept_full and len(fam_kept_full) <= 5
    assert full.counts()["near_dedup_dropped_members"] == 0

    capped = curate_corpus(docs, bucket_cap=50)
    c = capped.counts()
    assert c["near_dedup_dropped_members"] > 0  # truncation observable
    survivors = {
        r.doc_id
        for r in capped.curated.select("doc_id").collect()
        if r.doc_id < 1000
    }
    # fragmented (members past the cap pair with nothing) but bounded,
    # never better-connected than the uncapped run, and the chain
    # completed with exact counters despite the hot bucket
    assert len(fam_kept_full) <= len(survivors) <= 300 - 50
    assert c["input"] == 320 and c["quality"] == 320
