"""Connected components over a candidate-pair edge list.

The missing last step of a near-dup pipeline: LSH/SimHash emit *pairs*,
but deduplication needs *clusters* (a templated page family at 100 TB
is one component spanning thousands of pairwise edges, and exactly one
keeper must survive per component).  The reference leaves this step to
"external sort/uniq" post-processing (README.rst:236-247); here it is a
first-class distributed operator.

Algorithm: iterative min-label propagation to a fixpoint — every node
ends labeled with the minimum node id reachable from it.

Design for 100 TB:
- Each iteration is one equi-join (edges ⨝ labels on the edge source)
  plus one min-aggregate — both shuffle on node id, map-side combine
  applies, and the iteration count is the graph DIAMETER, not |V|.
  Near-dup graphs are unions of quasi-cliques (LSH buckets emit all
  in-bucket pairs), so the diameter is small (2-4) — min-propagation
  converges in a handful of rounds.
- Lineage is truncated every iteration with an eager localCheckpoint —
  without it the plan doubles per round and Catalyst analysis time
  dominates by iteration ~10.
- Convergence is detected EXACTLY and for free (round-17 optimization):
  the per-round min-aggregate also computes each node's previous label
  (the union leg it came from is flagged), and a ``DataFrame.observe``
  metric counts rows whose label decreased — zero extra jobs, zero
  extra passes, no hash-collision screen.  The round's one
  materialization (the lineage-truncating localCheckpoint) pins the
  count; ``changed == 0`` is the fixpoint by monotonicity.  (The
  previous design collected a (count, hash-sum) signature plus an
  ``exceptAll`` confirmation — two extra driver jobs per round.)
- Skew: a mega-component concentrates its min-aggregate on one label
  value, but min is combiner-friendly (partial aggregation bounds the
  shuffle at one row per (node, map partition)); the join side is keyed
  on node id which stays uniform regardless of component sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    """
    sym = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
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

    from pyspark.sql import Observation

    for _ in range(max_iterations):
        msgs = (
            sym.join(labels, sym.s == labels.node)
            .select(F.col("d").alias("node"), "component")
        )
        # one union + one min-aggregate, exactly as before, but the
        # labels leg is flagged so the SAME aggregate also yields each
        # node's previous label (every node occurs in the labels leg
        # exactly once, so min over the flagged rows IS the old label).
        # The observe above the aggregate counts decreased labels —
        # convergence costs zero extra jobs and is exact, not a
        # hash-signature screen.
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
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter too large)"
        )
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
