"""The benchmark workloads, each driven through the engine's public calls.

A workload object runs inside one benchmark child process that owns a
live SparkSession.  ``run_once`` produces the workload's full output
once and returns the latencies of the operations in it; ``check``
verifies the output against the ground truth (the generated dump's
counts and sample, or the DuckDB oracle); ``probe`` (traced runs only)
times the executor-side layers single-threaded by calling each layer's
entry point directly on the same input.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import gzip
import os
import random
import time

# Catalog queries the catalog workload runs: two TPC-H-style aggregates
# served by the prepared-plan memo, a spark.sql query over temp views, a
# window, a range join, MinHash LSH, a text UDF and the
# connected-components dedup.  A pass over all 111
# catalog queries takes about 50 s warm and 100 s cold on 4 cores, more
# than a benchmark run can spend.
CATALOG_QUERIES = (
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "agg_grouping_sets",
    "window_rank_topk",
    "range_join_near_orders",
    "minhash_lsh_pairs",
    "text_quality",
    "dedup_clusters",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rchar() -> int:
    with open("/proc/self/io") as fh:
        for line in fh:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


class Workload:
    """Shared plumbing: job groups tag every Spark job so the traced run
    can attribute event-log stages to the phase that launched them."""

    def __init__(self, spark, truth: dict, work_dir: str, tracer, cores: int):
        self.spark = spark
        self.truth = truth
        self.work_dir = work_dir
        self.tracer = tracer
        self.cores = cores
        self.groups: dict[str, tuple[str, str]] = {}
        self.py4j = None  # the traced run's meters.Py4jCounter
        self._phase = "setup"

    def set_phase(self, phase: str) -> None:
        self._phase = phase

    def groups_where(self, phase: str | None = None, name: str | None = None) -> set[str]:
        return {
            g for g, (p, n) in self.groups.items()
            if phase in (None, p) and name in (None, n)
        }

    def uncounted(self):
        """A block whose py4j round trips are not the program's."""
        return self.py4j.paused() if self.py4j else contextlib.nullcontext()

    @contextlib.contextmanager
    def call(self, name: str, **attrs):
        """Span around one call into a layer; under tracing the Spark jobs
        it launches carry the job group ``<phase>:<name>``."""
        if not self.tracer.enabled:
            yield
            return
        group = f"{self._phase}:{name}"
        self.groups[group] = (self._phase, name)
        sc = self.spark.sparkContext
        with self.uncounted():
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with self.tracer.span(name, phase=self._phase, **attrs):
                yield
        finally:
            with self.uncounted():
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def input_bytes(self) -> int:
        raise NotImplementedError


class DiffdbBz2(Workload):
    """bz2 markup-dense dump -> gzip diffdb TSV, the ``diffdb`` CLI's
    default path: window pairing, the Arrow diff UDF, dedup + sort sink."""

    @property
    def path(self) -> str:
        return os.path.join(self.truth["dir"], self.truth["file"])

    @property
    def out(self) -> str:
        return os.path.join(self.work_dir, "diffdb")

    def input_bytes(self) -> int:
        return self.truth["raw_bytes"]

    def split_size(self) -> int:
        # every core gets a partition, as bench.py sizes its dump runs
        return max(64 * 1024, os.path.getsize(self.path) // self.cores)

    def run_once(self, rep: int) -> list[float]:
        from wikihadoop_spark.plans.diffdb import build_diffdb, write_diffdb_tsv
        from wikihadoop_spark.sources.wikidump import read_wikidump

        t0 = time.perf_counter()
        with self.call("wikidump.read"):
            revs = read_wikidump(self.spark, self.path, splitSize=str(self.split_size()))
        with self.call("diffdb.build"):
            self.frame = build_diffdb(revs)
        with self.call("diffdb.write_tsv"):
            write_diffdb_tsv(self.frame, self.out, compression="gzip")
        return [time.perf_counter() - t0]

    def noop_write(self) -> None:
        """The built diffdb frame computed but not sunk: the sink's share
        is the TSV write minus this."""
        with self.call("diffdb.noop_write"):
            _noop(self.frame)

    def _lines(self):
        for name in sorted(os.listdir(self.out)):
            if name.startswith("part-"):
                with gzip.open(os.path.join(self.out, name), "rt", encoding="utf-8") as fh:
                    for line in fh:
                        yield line.rstrip("\n")

    def check(self) -> list[str]:
        from wikihadoop_spark.functions.diffs import apply_diff
        from wikihadoop_spark.sources.wikidump import read_wikidump

        want = self.truth["revisions"]
        errors = []
        # exactly-once across bz2 splits, checked at the source: the sink
        # deduplicates rev_ids and would hide a row read twice
        ids = [r[0] for r in read_wikidump(
            self.spark, self.path, splitSize=str(self.split_size())
        ).select("rev_id").collect()]
        if len(ids) != want or len(set(ids)) != want:
            errors.append(f"source: {len(ids)} rows, {len(set(ids))} distinct, {want} generated")

        sample = {s["rev_id"]: s for s in self.truth["sample"]}
        n, last, replayed = 0, (-1, -1), 0
        for line in self._lines():
            n += 1
            fields = line.split("\t")
            key = (int(fields[1]), int(fields[0]))  # (page_id, rev_id)
            if key <= last:
                errors.append(f"diffdb: line {n} {key} not after {last}")
                break
            last = key
            s = sample.get(key[1])
            if s is not None:
                ops = []
                for f in fields[9:]:
                    pos, act, content = f.split(":", 2)
                    ops.append((int(pos), int(act), ast.literal_eval(content)))
                replayed += 1
                if apply_diff(s["prev"], ops) != s["text"]:
                    errors.append(f"diffdb: ops of rev {key[1]} do not rebuild its text")
        if n != want:
            errors.append(f"diffdb: {n} lines, {want} revisions generated")
        if replayed != len(sample):
            errors.append(f"diffdb: {replayed} of {len(sample)} sampled revisions found")
        return errors

    def probe(self) -> dict:
        """Single-threaded passes over the planned partitions: the
        wikidump reader (decode + scan + parse), the bzip2 block streams
        alone, and token_diff over every revision pair."""
        from wikihadoop_spark.functions.diffs import token_diff
        from wikihadoop_spark.sources.bz2blocks import Bz2BlockStream, iter_magics
        from wikihadoop_spark.sources.wikidump import WikidumpDataSource

        ds = WikidumpDataSource({"path": self.path, "splitsize": str(self.split_size())})
        reader = ds.reader(self.spark.createDataFrame([], ds.schema()).schema)
        parts = reader.partitions()
        rows = []
        r0 = _rchar()
        t0 = time.perf_counter()
        with self.tracer.span("probe.wikidump.read"):
            for p in parts:
                for batch in reader.read(p):
                    rows.extend(zip(
                        batch.column("page_id").to_pylist(), batch.column("text").to_pylist()
                    ))
        read_s = time.perf_counter() - t0
        read_bytes = _rchar() - r0

        decoded = 0
        t0 = time.perf_counter()
        with self.tracer.span("probe.bz2blocks.decode"):
            for p in parts:
                stream = Bz2BlockStream(p.path, p.start, p.end)
                try:
                    got = 0
                    while stream.owned_end is None or got < stream.owned_end:
                        chunk = stream.read(1 << 20)
                        if not chunk:
                            break
                        got += len(chunk)
                    decoded += got
                finally:
                    stream.close()
        decode_s = time.perf_counter() - t0

        pairs = ops = 0
        prev_page, prev = None, ""
        t0 = time.perf_counter()
        with self.tracer.span("probe.diffs.token_diff"):
            for page, text in rows:
                if page != prev_page:
                    prev_page, prev = page, ""
                ops += sum(1 for _ in token_diff(prev, text))
                pairs += 1
                prev = text
        return {
            "wikidump.partitions": len(parts),
            # the reader's pass decodes too: what is left is scan + parse
            "wikidump.scan_s": max(read_s - decode_s, 0.0),
            "wikidump.revisions": len(rows),
            "wikidump.read_amplification": read_bytes / os.path.getsize(self.path),
            "bz2blocks.decode_s": decode_s,
            "bz2blocks.blocks": sum(1 for _, eos in iter_magics(self.path) if not eos),
            "bz2blocks.decode_amplification": decoded / self.truth["raw_bytes"],
            "diffs.token_diff_s": time.perf_counter() - t0,
            "diffs.pairs": pairs,
            "diffs.ops": ops,
            "diffdb.output_mb": sum(
                os.path.getsize(os.path.join(self.out, f)) for f in os.listdir(self.out)
            ) / 1e6,
        }


class Catalog(Workload):
    """Catalog queries in a seed-shuffled order, each built fresh and
    written to a noop sink; one pass is one run."""

    def __init__(self, *args, seed: int, **kwargs):
        super().__init__(*args, **kwargs)
        self.seed = seed
        self.latencies: dict[str, list[float]] = {}
        self._wrap_components()

    def _wrap_components(self) -> None:
        """Span around every connected_components call; the engine
        imports it from the module at call time, so rebinding the module
        attribute reaches every caller."""
        from wikihadoop_spark.operators import components

        inner = getattr(
            components.connected_components, "__wrapped__", components.connected_components
        )

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.call("components.connected_components"):
                return inner(*args, **kwargs)

        components.connected_components = traced

    def input_bytes(self) -> int:
        return self.truth["bytes"]

    def run_once(self, rep: int) -> list[float]:
        from wikihadoop_spark.relational import QUERIES

        order = list(CATALOG_QUERIES)
        random.Random(f"{self.seed}:{rep}").shuffle(order)
        out = []
        for name in order:
            with self.uncounted():
                self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            with self.call("relational.build", query=name):
                df = QUERIES[name](self.spark, self.truth["dir"])
            if self.tracer.enabled:
                # the forced planning step is the benchmark's: the write
                # below plans again through the program's own path
                with self.call("relational.plan", query=name), self.uncounted():
                    df._jdf.queryExecution().executedPlan()
            with self.call("relational.exec", query=name):
                _noop(df)
            dt = time.perf_counter() - t0
            if self._phase == "timed":
                self.latencies.setdefault(name, []).append(dt)
            out.append(dt)
        return out

    def check(self) -> list[str]:
        import duckdb

        from perfbench.oracle import same_rows
        from wikihadoop_spark.catalog import TABLE_NAMES
        from wikihadoop_spark.relational import ORACLE, QUERIES

        con = duckdb.connect()
        errors = []
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.truth["dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in CATALOG_QUERIES:
                df = QUERIES[name](self.spark, self.truth["dir"])
                res = con.execute(ORACLE[name])
                problem = same_rows(
                    df.columns, [tuple(r) for r in df.collect()],
                    [d[0] for d in res.description], res.fetchall(),
                )
                if problem:
                    errors.append(f"{name}: {problem}")
        finally:
            con.close()
        return errors

    def probe(self) -> dict:
        return {}


WORKLOADS = {
    "diffdb_bz2": DiffdbBz2,
    "catalog_sf0.01": Catalog,
}
