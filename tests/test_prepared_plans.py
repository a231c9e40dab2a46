"""Drills for the round-18 prepared-plan memo (relational.py).

The memo returns the SAME DataFrame object for a repeat invocation of
an allowlisted query — legal only because those builds are pure plan
assembly.  These drills machine-verify the three eligibility
conditions for EVERY allowlisted name (so a future edit that adds a
build job, a persist, or an off-catalog scan to a memoized query
fails loudly here), and the memo's invalidation semantics.
"""

from __future__ import annotations

import os
import shutil

from wikihadoop_spark.catalog import TABLE_NAMES, load_table
from wikihadoop_spark.relational import (
    _PREPARED_CACHE,
    _PURE_PLAN_QUERIES,
    QUERIES,
)

SF = "/root/testdata/sf0.001"


def test_allowlisted_builds_are_pure_plan_assembly(spark):
    """Every allowlisted build must (a) run zero Spark jobs, (b) leave
    no persisted relation in the optimized plan, and (c) scan only the
    ten catalog tables under sf_dir.  Violating any of these would
    turn the plan memo into result caching."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for t in TABLE_NAMES:  # warm schema/table caches: first-touch
        load_table(spark, SF, t)  # footer inference is load_table's job
    ok_prefixes = tuple(
        os.path.realpath(f"{SF}/{t}.parquet") for t in TABLE_NAMES
    )
    offenders = {}
    for name in sorted(_PURE_PLAN_QUERIES):
        group = f"prepared-drill-{name}"
        sc.setJobGroup(group, name)
        try:
            df = QUERIES[name](spark, SF)
            jobs = len(tracker.getJobIdsForGroup(group))
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            files = [f.replace("file:", "") for f in df.inputFiles()]
            bad = [
                f
                for f in files
                if not os.path.realpath(f).startswith(ok_prefixes)
            ]
            if jobs or "InMemoryRelation" in opt or bad:
                offenders[name] = {
                    "build_jobs": jobs,
                    "persisted": "InMemoryRelation" in opt,
                    "off_catalog_scans": bad[:3],
                }
        finally:
            sc.setJobGroup(None, None)
    assert not offenders, (
        "queries in _PURE_PLAN_QUERIES whose build is no longer pure "
        f"plan assembly — remove them from the allowlist: {offenders}"
    )


def test_repeat_invocation_reuses_logical_plan_replans_physical(spark):
    """A memo hit hands the CACHED logical plan to a FRESH Dataset:
    the py4j plan-assembly chain is amortized, but physical planning
    must honor the caller's CURRENT session confs (a frozen
    QueryExecution would leak conf state across invocations)."""
    df1 = QUERIES["q1_pricing_summary"](spark, SF)
    df2 = QUERIES["q1_pricing_summary"](spark, SF)
    assert df1 is not df2  # fresh Dataset per invocation...
    # ...over the SAME memoized logical plan object
    assert df1._jdf.queryExecution().logical().equals(
        df2._jdf.queryExecution().logical()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        df3 = QUERIES["q1_pricing_summary"](spark, SF)
        plan = df3._jdf.queryExecution().executedPlan().toString()
        import re

        assert re.search(r"hashpartitioning\([^)]*, 3\)", plan), plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_non_allowlisted_query_is_not_memoized(spark):
    # sample_mixture's build scans range boundaries (real jobs) — it
    # must rebuild every invocation
    assert "sample_mixture" not in _PURE_PLAN_QUERIES
    QUERIES["sample_mixture"](spark, SF)
    assert not any(k[1] == "sample_mixture" for k in _PREPARED_CACHE)


def test_table_rewrite_invalidates_prepared_plan(spark, tmp_path):
    """The memo key carries every catalog table's (mtime_ns, size):
    rewriting any input must yield a fresh entry, never a stale one."""
    sfd = tmp_path / "sf"
    sfd.mkdir()
    for t in TABLE_NAMES:
        shutil.copyfile(f"{SF}/{t}.parquet", sfd / f"{t}.parquet")
    real = os.path.realpath(str(sfd))
    QUERIES["q1_pricing_summary"](spark, str(sfd))
    keys1 = {k for k in _PREPARED_CACHE if k[2] == real}
    QUERIES["q1_pricing_summary"](spark, str(sfd))
    assert {k for k in _PREPARED_CACHE if k[2] == real} == keys1  # hit
    # rewrite one input (fresh mtime): the stat key must miss
    li = sfd / "lineitem.parquet"
    os.utime(li, ns=(os.stat(li).st_mtime_ns + 1, os.stat(li).st_mtime_ns + 1))
    QUERIES["q1_pricing_summary"](spark, str(sfd))
    keys2 = {k for k in _PREPARED_CACHE if k[2] == real}
    assert len(keys2 - keys1) == 1  # a second, distinct entry


def test_memo_entries_die_with_their_context(spark):
    """Entries are keyed on the live context identity; the eviction
    sweep drops any entry from another context so a restarted JVM can
    never be served a plan holding dead gateway references."""
    QUERIES["q1_pricing_summary"](spark, SF)
    assert any(k[1] == "q1_pricing_summary" for k in _PREPARED_CACHE)
    from wikihadoop_spark.relational import _evict_dead_context_prepared

    _evict_dead_context_prepared(("not-the-live-context",))
    assert not _PREPARED_CACHE  # everything belonged to the live ctx
    # rebuild repopulates
    QUERIES["q1_pricing_summary"](spark, SF)
    assert any(k[1] == "q1_pricing_summary" for k in _PREPARED_CACHE)


def test_scale_a_b_a_matches_fresh_builds(spark):
    """A memo entry must never answer for another scale.  Temp-view
    queries (``spark.sql`` over registered views) name their relations,
    which resolve against the views last registered — so they are never
    memoized, and sf A after sf B returns sf A's rows again."""
    from collections import Counter

    from wikihadoop_spark.relational import _memoizable

    big = os.path.join(os.path.dirname(SF), "sf0.01")
    for name in ("scalar_subquery", "correlated_exists", "agg_grouping_sets"):
        assert name in _PURE_PLAN_QUERIES
        fresh = {}
        for sf in (SF, big):
            df = QUERIES[name].__wrapped__(spark, sf)
            assert not _memoizable(df)
            fresh[sf] = Counter(df.collect())
        for sf in (SF, big, SF):
            got = Counter(QUERIES[name](spark, sf).collect())
            assert got == fresh[sf], (name, sf)
        assert not any(k[1] == name for k in _PREPARED_CACHE)


def test_new_session_gets_its_own_scan_frames(spark):
    """Scan frames are keyed on the session: a ``newSession()`` with a
    different conf must get frames bound to itself, not the first
    session's."""
    first = load_table(spark, SF, "orders")
    other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "3")
    mine = load_table(other, SF, "orders")
    assert mine is not first
    assert mine.sparkSession is other
    assert first.sparkSession is spark
    assert load_table(other, SF, "orders") is mine  # still memoized
