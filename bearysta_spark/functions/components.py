"""Connected components over a pair/edge DataFrame — the step that
turns near-duplicate PAIRS into duplicate CLUSTERS so a dedup pipeline
can pick one canonical document per cluster (component id = min doc_id
in the cluster, which IS the canonical choice).

Algorithm: iterative min-label propagation (each node repeatedly takes
the minimum label among itself and its neighbors) with a driver-side
convergence loop. Iteration count is bounded by the component diameter;
near-dup clusters are shallow (the registered queries need at most 8
rounds at sf0.01 and sf0.1, under the default cap of 20).

Scale shape (100 TB): lineage is truncated through scratch parquet
(`scratch.materialize_distributed`), so nothing is pinned. The
symmetric edge frame is written once, so the (expensive) pair-generation
lineage is never replayed per iteration, and deleted after the loop.
Each round is one shuffle join on the node key whose labels are written
over the previous round's; the round also writes a `moved` flag, so the
convergence check is a scan of one boolean column, not a join.

Reference parity: the reference has no graph step — dedup clustering is
a beyond-reference training-pipeline extension (BASELINE.json north
star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.scratch import cleanup, materialize_distributed, path_of


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node appearing in `edges` with the minimum node id
    reachable from it. Returns (node, component); rows are nodes, not
    edges. Deterministic — min-label is order-independent."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be at least 1, got {max_iter}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Truncate lineage NOW: the caller's edge pipeline (LSH + verify) is
    # expensive and must not be replayed once per iteration.
    sym = materialize_distributed(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        "cc_edges",
    )

    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("__mb"))
        .select("a", F.least("a", "__mb").alias("label"))
    )
    prev = None
    try:
        for _ in range(max_iter):
            nbr = (
                sym.join(
                    labels.select(F.col("a").alias("b"), F.col("label")), "b"
                )
                .groupBy("a")
                .agg(F.min("label").alias("nbr_label"))
            )
            # labels only decrease, so a node moved iff a neighbor's
            # label is below its own
            labels = materialize_distributed(
                labels.join(nbr, "a", "left").select(
                    "a",
                    F.least("label", F.coalesce("nbr_label", "label")).alias(
                        "label"
                    ),
                    F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False))
                    .alias("moved"),
                ),
                "cc_labels",
                replaces=prev,
            )
            prev = path_of(labels)
            changed = labels.filter("moved").count()
            if changed == 0:
                break
        else:
            # loop fell through max_iter with changed > 0: labels are NOT
            # a fixpoint — a dedup caller would silently split deep
            # duplicate chains into multiple clusters. Fail loudly.
            cleanup(labels)
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"iterations ({changed} labels still changing); raise "
                "max_iter for components this deep"
            )
    finally:
        cleanup(sym)
    return labels.select(
        F.col("a").alias("node"), F.col("label").alias("component")
    )


def cluster_sizes(labels: DataFrame) -> DataFrame:
    """(component, n_docs) per duplicate cluster — the report a dedup
    pass emits before dropping the non-canonical members."""
    return labels.groupBy("component").agg(
        F.count("*").cast("long").alias("n_docs")
    )
