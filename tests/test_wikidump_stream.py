"""Streaming wikidump ingest: spark.readStream over a directory where
dump shards arrive between microbatches — each file consumed exactly
once, planned with the same byte-range/bz2-block partitioning as the
batch reader."""

from __future__ import annotations

import pytest

import bz2
import time

from pyspark.sql import functions as F

from wikihadoop_spark.sources.wikidump import register_wikidump

from dump_fixtures import big_dump, page, rev, standard_dump


def _shard(i: int, n_revs: int = 3) -> tuple[str, list[int]]:
    rid0 = 1000 * i
    revs = [
        rev(rid0 + r, f"2023-01-{r + 1:02d}T00:00:00Z", f"shard {i} body {r}")
        for r in range(n_revs)
    ]
    xml = (
        "<mediawiki><siteinfo><sitename>S</sitename></siteinfo>\n"
        + page(500 + i, f"Shard Page {i}", 0, revs)
        + "</mediawiki>\n"
    )
    return xml, [rid0 + r for r in range(n_revs)]


def test_stream_reads_arriving_shards_exactly_once(spark, tmp_path):
    register_wikidump(spark)
    indir = tmp_path / "arriving"
    indir.mkdir()

    xml1, ids1 = _shard(1)
    (indir / "shard-1.xml").write_text(xml1)
    xml2, ids2 = _shard(2)
    (indir / "shard-2.xml.bz2").write_bytes(bz2.compress(xml2.encode(), 1))

    stream = (
        spark.readStream.format("wikidump")
        .option("path", str(indir))
        .load()
        .select("page_id", "rev_id", "rev_seq", "title")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wd_stream")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.rev_id for r in spark.sql("SELECT * FROM wd_stream").collect()}
        assert got == set(ids1) | set(ids2)

        # a new shard lands mid-stream: only its rows are appended
        xml3, ids3 = _shard(3, n_revs=2)
        tmp = indir / ".shard-3.xml.tmp"
        tmp.write_text(xml3)
        tmp.rename(indir / "shard-3.xml")
        q.processAllAvailable()
        got = {r.rev_id for r in spark.sql("SELECT * FROM wd_stream").collect()}
        assert got == set(ids1) | set(ids2) | set(ids3)
        # exactly-once: no duplicates across batches
        rows = spark.sql("SELECT rev_id, count(*) c FROM wd_stream GROUP BY rev_id HAVING count(*) > 1").collect()
        assert rows == []
    finally:
        q.stop()


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    register_wikidump(spark)
    indir = tmp_path / "arriving2"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    xml1, ids1 = _shard(7)
    (indir / "a.xml").write_text(xml1)

    def run_once():
        stream = (
            spark.readStream.format("wikidump")
            .option("path", str(indir))
            .load()
            .select("rev_id")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {r.rev_id for r in spark.read.parquet(out).collect()}
    assert first == set(ids1)

    xml2, ids2 = _shard(8)
    (indir / "b.xml").write_text(xml2)
    run_once()
    rows = [r.rev_id for r in spark.read.parquet(out).collect()]
    assert set(rows) == set(ids1) | set(ids2)
    # exactly-once across restarts
    assert len(rows) == len(set(rows))


@pytest.mark.slow
def test_streaming_diffdb_matches_batch(spark, tmp_path):
    """Incremental diffdb: the SAME build_diffdb plan runs on the
    streaming source (pairing and diff in-scan -> namespace map ->
    projection), producing exactly the batch pipeline's rows
    as shards arrive — the reference's 22-hour full re-run becomes an
    append-only stream."""
    from wikihadoop_spark.plans.diffdb import build_diffdb
    from wikihadoop_spark.sources.wikidump import read_wikidump

    indir = tmp_path / "arrive3"
    indir.mkdir()
    (indir / "s1.xml").write_text(standard_dump())
    (indir / "s2.xml").write_text(big_dump(5, 3))

    register_wikidump(spark)
    revs_stream = (
        spark.readStream.format("wikidump")
        .option("path", str(indir))
        .load()
    )
    stream_df = build_diffdb(revs_stream).drop("beginningofpage")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("diffdb_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM diffdb_stream").collect()
    finally:
        q.stop()

    batch = (
        build_diffdb(read_wikidump(spark, str(indir / "*.xml")))
        .drop("beginningofpage")
        .collect()
    )

    def key(rows):
        return sorted(
            (r.rev_id, r.page_id, r.title, r.timestamp,
             [(o.position, o.action, o.content) for o in r.ops])
            for r in rows
        )

    assert key(got) == key(batch)
    assert len(got) > 0


def test_stream_kill_midbatch_restart_exactly_once(spark, tmp_path):
    """Failure drill: stop the query while the first (large) batch is
    still in flight, let a new shard arrive while the stream is down,
    then restart from the same checkpoint.  The file sink's
    _spark_metadata commit log plus the source's checkpointed file
    tracking give exactly-once output: partial files from the aborted
    batch are invisible to readers, the aborted batch re-runs once,
    and the downtime arrival is picked up in its own batch."""
    register_wikidump(spark)
    indir = tmp_path / "arriving4"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt4")
    out = str(tmp_path / "out4")

    # big first shard so the initial batch takes long enough that
    # stop() interrupts it mid-flight on most runs (the assertion holds
    # either way — if the batch happened to commit, restart must not
    # replay it)
    big = big_dump(40, 6)
    (indir / "big.xml").write_text(big)
    big_ids = set(range(1001, 1001 + 40 * 6))

    def make_query(trigger_kwargs):
        stream = (
            spark.readStream.format("wikidump")
            .option("path", str(indir))
            .load()
            .select("rev_id")
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    q = make_query({"processingTime": "0 seconds"})
    time.sleep(0.5)
    q.stop()  # interrupt: likely mid-batch

    # a shard arrives while the stream is down
    xml9, ids9 = _shard(9)
    (indir / "downtime-arrival.xml").write_text(xml9)

    q2 = make_query({"availableNow": True})
    q2.awaitTermination(180)

    rows = [r.rev_id for r in spark.read.parquet(out).collect()]
    assert set(rows) == big_ids | set(ids9)
    assert len(rows) == len(set(rows)), "duplicate rows after restart"


def test_stream_late_shard_after_watermark_dropped(spark, tmp_path):
    """Late-data drill: a shard whose event times sit entirely below
    the watermark arrives after later data closed those windows — its
    rows are dropped from the (append-mode) windowed aggregation, and
    on-time windows emit exactly once."""
    from wikihadoop_spark.streaming.windows import tumbling_counts

    register_wikidump(spark)
    indir = tmp_path / "arriving5"
    indir.mkdir()

    def shard_at(name: str, pid: int, days: list[str]) -> None:
        revs = [
            rev(pid * 100 + i, f"{d}T12:00:00Z", f"body {pid} {i}")
            for i, d in enumerate(days)
        ]
        xml = (
            "<mediawiki><siteinfo><sitename>S</sitename></siteinfo>\n"
            + page(pid, f"P{pid}", 0, revs)
            + "</mediawiki>\n"
        )
        (indir / name).write_text(xml)

    shard_at("on-time.xml", 1, ["2023-01-01", "2023-01-01", "2023-01-03"])

    stream = (
        spark.readStream.format("wikidump")
        .option("path", str(indir))
        .load()
        .select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("page_id"),
            F.col("text_bytes").cast("double").alias("value"),
        )
    )
    agg = tumbling_counts(
        stream, ts="ts", window="1 day", watermark="1 day", keys=("page_id",)
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wd_late_drill")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark is now 2023-01-03T12:00 - 1 day: the 01-01 window
        # is closed and emitted; a shard entirely below the watermark
        # arrives late
        shard_at("late.xml", 2, ["2021-06-01", "2021-06-02"])
        q.processAllAvailable()
        # fresh data advances the watermark past remaining windows
        shard_at("fresh.xml", 3, ["2023-01-07", "2023-01-07"])
        q.processAllAvailable()
        got = {
            (r.window_start.isoformat(), r.page_id, r.n_events)
            for r in spark.sql("SELECT * FROM wd_late_drill").collect()
        }
    finally:
        q.stop()

    # the late page-2 windows from 2021 never appear; each on-time
    # window appears exactly once with its full count
    assert all(not w.startswith("2021") for w, _, _ in got)
    assert ("2023-01-01T00:00:00", 1, 2) in got
    assert ("2023-01-03T00:00:00", 1, 1) in got
    assert not any(pid == 2 for _, pid, _ in got)


def test_stream_partitions_plan_from_committed_offset_size(spark, tmp_path):
    """Exactly-once replay: partitions(start, end) must plan byte
    ranges from the size RECORDED in the offset, not a fresh stat — a
    file appended to between latestOffset and execution (or before a
    failed batch replays) would otherwise plan different ranges for
    the same offset interval.  Also: .bz2 planning honors
    bz2_split=false (one whole-file partition, like the batch path)."""
    from pyspark.sql.types import StructType

    from wikihadoop_spark.sources.wikidump import (
        WikidumpStreamReader,
        BASE_SCHEMA_DDL,
    )

    p = tmp_path / "shard.xml"
    p.write_bytes(standard_dump().encode())
    recorded = p.stat().st_size
    # simulate an append AFTER the offset was recorded
    with open(p, "ab") as fh:
        fh.write(b" " * (recorded * 3))

    rdr = WikidumpStreamReader(
        StructType.fromDDL(BASE_SCHEMA_DDL),
        {"path": str(tmp_path / "*.xml"), "splitsize": "200"},
    )
    parts = rdr.partitions({"files": {}}, {"files": {str(p): recorded}})
    assert parts, "no partitions planned"
    assert max(pt.end for pt in parts) == recorded  # not the grown size
    assert all(pt.codec == "plain" for pt in parts)

    bz = tmp_path / "shard.xml.bz2"
    bz.write_bytes(bz2.compress(standard_dump().encode(), 1))
    rdr2 = WikidumpStreamReader(
        StructType.fromDDL(BASE_SCHEMA_DDL),
        {"path": str(tmp_path / "*.bz2"), "bz2_split": "false"},
    )
    parts2 = rdr2.partitions(
        {"files": {}}, {"files": {str(bz): bz.stat().st_size}}
    )
    assert [pt.codec for pt in parts2] == ["bz2"]
