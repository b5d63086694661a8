"""Connected components over an edge list — the clustering step of
near-duplicate deduplication (MinHash/SimHash/cosine candidate pairs →
duplicate *clusters*, keep one representative per cluster).

Not in the reference (its dedup is key-based only — spark_cleaner.py:108-114);
this is the standard scale path for corpus dedup: candidate pairs from LSH,
then components, then keep min-id per component.

Algorithm: iterative min-label propagation. Each vertex starts labeled with
its own id; every round each vertex takes the min of its label and its
neighbors' labels; converges to the component-min id in O(diameter) rounds.
Near-dup graphs are short-diameter (clusters of mutual near-dups), so this
terminates in a handful of rounds. Scale notes:

- the per-round shuffle is `groupBy(u).min(comp)` on the edge list — the
  same cost profile as the large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond") that production systems
  use; for 100 TB graphs swap the loop body for star-contraction, the
  surrounding contract is unchanged.
- `localCheckpoint` truncates the lineage each round so the plan does not
  grow exponentially with iterations (a well-known iterative-algorithm
  pitfall on Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.operators.joins import at_most

#: Round budget of the label propagation; a graph whose diameter needs
#: more rounds raises instead of returning unconverged component ids.
MAX_ITER = 30


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Return ``(id, component_id)`` where ``component_id`` is the minimum
    vertex id in the vertex's connected component. Isolated vertices are
    not represented (no edges → no row); callers union them in if needed.
    Raises ``RuntimeError`` when ``MAX_ITER`` rounds end before the label
    fixpoint."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    e = e.localCheckpoint(eager=True)

    labels = (
        e.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(MAX_ITER):
        nbr_min = (
            e.join(labels, e["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["comp"], F.coalesce("nbr_comp", labels["comp"])
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
        )
        labels = new_labels
        if at_most(changed, 0):
            return labels.select(F.col("id"), F.col("comp").alias("component_id"))
    raise RuntimeError(
        f"connected_components: {MAX_ITER} rounds ended before the label "
        "fixpoint; the graph's diameter exceeds the round budget"
    )
