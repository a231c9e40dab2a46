"""Connected components over a candidate-pair edge list.

The missing last step of a near-dup pipeline: LSH/SimHash emit *pairs*,
but deduplication needs *clusters* (a templated page family at 100 TB
is one component spanning thousands of pairwise edges, and exactly one
keeper must survive per component).  The reference leaves this step to
"external sort/uniq" post-processing (README.rst:236-247); here it is a
first-class operator.  Every vertex ends labeled with the minimum node
id reachable from it.

The edge pipeline is read once: its raw ``(src, dst)`` projection is
checkpointed, and an ``Observation`` counts its rows in that same job.
The count picks one of two finishes.

Driver finish (at most ``driver_edge_bound`` edges, integral ids): the
checkpoint is collected through Arrow and a min-root union-find labels
every edge-touched node on the driver.  A near-dup graph at catalog
scale is a few dozen edges, and as distributed rounds it costs barrier
jobs, not data (``dedup_clusters`` at sf0.01, 4 cores: 13 jobs and
1.58 s as rounds, 5 jobs and 0.67 s finished here).  The bound comes
from confs the session already has: the labels (at most two rows per
edge) must fit both what ``spark.driver.maxResultSize`` lets the driver
hold and what ``spark.sql.autoBroadcastJoinThreshold`` lets the join
back broadcast, at Spark's own size estimate of a two-bigint row.  At
the defaults (1 GiB, 10 MiB) that is 218,453 edges: 0.22 s of
union-find on a random graph of that size, and 1.0 s to build the
labels against 18 s of rounds (4 cores).  A disabled broadcast (-1)
admits no edges, so every graph runs distributed; a ``maxResultSize``
of 0 (unlimited) leaves the broadcast limit alone.  The labels come
back as a ``LocalRelation`` built from an Arrow table in the id
column's own type: the optimizer sizes it exactly and broadcasts it
into the join back, where a Python-list frame would be a
``LogicalRDD`` scanned by a Python task in every query over it.

Distributed rounds (over the bound): iterative min-label propagation
to a fixpoint over the symmetric edge set built from the checkpoint.
- Each iteration is one equi-join (edges ⨝ labels on the edge source)
  plus one min-aggregate — both shuffle on node id, map-side combine
  applies, and the iteration count is the graph DIAMETER, not |V|.
  Near-dup graphs are unions of quasi-cliques (LSH buckets emit all
  in-bucket pairs), so the diameter is small (2-4) — min-propagation
  converges in a handful of rounds.
- Lineage is truncated every iteration with an eager localCheckpoint —
  without it the plan doubles per round and Catalyst analysis time
  dominates by iteration ~10.
- Convergence is detected exactly and for free: the per-round
  min-aggregate also computes each node's previous label (the union
  leg it came from is flagged), and a ``DataFrame.observe`` metric
  counts rows whose label decreased — zero extra jobs, zero extra
  passes.  The round's one materialization (the lineage-truncating
  localCheckpoint) pins the count; ``changed == 0`` is the fixpoint by
  monotonicity.
- Skew: a mega-component concentrates its min-aggregate on one label
  value, but min is combiner-friendly (partial aggregation bounds the
  shuffle at one row per (node, map partition)); the join side is keyed
  on node id which stays uniform regardless of component sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from .local import local_frame

# Spark's size estimate of one (node, component) label row of two
# bigints: an 8-byte row header plus 8 bytes per column
# (EstimationUtils.getSizePerRow)
_LABEL_ROW_BYTES = 24

# id types whose Python ints order exactly as Spark orders the column
_DRIVER_ID_TYPES = (ByteType, ShortType, IntegerType, LongType)


def driver_edge_bound(spark: SparkSession) -> int:
    """The largest edge count finished on the driver: what the smaller
    of ``spark.driver.maxResultSize`` (0 = unlimited) and
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 = never broadcast,
    which admits no edges) allow for two label rows per edge."""
    broadcast = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if broadcast < 0:
        return 0
    result = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    limit = broadcast if result <= 0 else min(broadcast, result)
    return limit // (2 * _LABEL_ROW_BYTES)


def _min_root_labels(src: list, dst: list) -> tuple[list, list]:
    """Union-find whose every root is its set's minimum id: returns the
    edge-touched nodes (an edge with a NULL end touches none) and their
    labels, the minimum id of each one's component."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src, dst):
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    nodes = list(parent)
    return nodes, [find(x) for x in nodes]


def _label_rounds(raw: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation to a fixpoint over the symmetric edge set
    of the checkpointed ``(s, d)`` projection."""
    sym = (
        raw.union(raw.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # iterate ONLY over edge-touched nodes: at corpus scale the dup
    # graph touches a small fraction of the vertex set (a few million
    # pairs against billions of docs), so the per-round join/aggregate
    # must not be sized by |V| — singletons attach in one final join
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        msgs = (
            sym.join(labels, sym.s == labels.node)
            .select(F.col("d").alias("node"), "component")
        )
        # one union + one min-aggregate, but the labels leg is flagged
        # so the SAME aggregate also yields each node's previous label
        # (every node occurs in the labels leg exactly once, so min
        # over the flagged rows IS the old label).  The observe above
        # the aggregate counts decreased labels — convergence costs
        # zero extra jobs and is exact, not a hash-signature screen.
        unioned = labels.withColumn("__old", F.lit(True)).unionByName(
            msgs.withColumn("__old", F.lit(False))
        )
        obs = Observation()
        new_labels = (
            unioned.groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("__old"), F.col("component"))).alias("__prev"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("__prev")).cast("long")
                ).alias("changed"),
            )
            .select("node", "component")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        # sum over an empty label frame (edge-free graph) is NULL —
        # nothing can ever change there, so treat it as converged
        if not obs.get["changed"]:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations (graph diameter too large)"
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Label every vertex with the minimum vertex id in its connected
    component.  Returns ``(id_col, component)``; isolated vertices are
    their own component.  Deterministic (pure min-fixpoint).

    ``vertices`` must contain each node exactly once; ``edges`` is an
    undirected pair list (any orientation, duplicates tolerated).
    ``max_iterations`` bounds the distributed rounds; the driver finish
    runs none.
    """
    spark = edges.sparkSession
    obs = Observation()
    raw = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    id_type = raw.schema["s"].dataType
    if (
        isinstance(id_type, _DRIVER_ID_TYPES)
        and raw.schema["d"].dataType == id_type
        and obs.get["n"] <= driver_edge_bound(spark)
    ):
        table = raw.toArrow()
        nodes, comps = _min_root_labels(
            table.column("s").to_pylist(), table.column("d").to_pylist()
        )
        labels = local_frame(
            spark,
            [nodes, comps],
            StructType(
                [StructField("node", id_type), StructField("component", id_type)]
            ),
        )
    else:
        labels = _label_rounds(raw, max_iterations)
    return (
        vertices.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
        )
    )


def component_summary(
    cc: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Per-member cluster view: component, member count, and the keeper
    flag (the minimum id IS the component label, so the keeper test is
    a plain column comparison).

    Member counts come from a hash-aggregate joined back on the
    component key — NOT an unbounded count window, which would buffer a
    mega-component (a million-member boilerplate family) in a single
    window task.  The aggregate is combiner-friendly and the join-back
    is an equi-join AQE can skew-split."""
    counts = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return cc.join(counts, "component").select(
        F.col(id_col),
        "component",
        "n_members",
        (F.col(id_col) == F.col("component")).alias("is_keeper"),
    )
