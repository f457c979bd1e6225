"""Dedup graph operators: connected components and canonicalization.

After candidate-pair generation (minhash LSH) and verification (exact
Jaccard), corpus dedup needs the *transitive closure*: near-dup pairs
form clusters, and one canonical document survives per cluster.

Spark-first: randomised contraction (Bögeholz, Brand & Todor, "In-Database
Connected Component Analysis", ICDE 2020) over adjacency rows. Each round
maps every super-node to the minimum of a fresh hash over its closed
neighbourhood and merges the nodes that picked the same one, so the
graph shrinks geometrically: O(log n) expected rounds whatever the
cluster diameter, where min-label propagation (Hash-Min, Rastogi et al.,
ICDE 2013) pays one round per hop and large-star/small-star (Kiveris et
al., SoCC 2014) about four exchanges per round. Ties break on the node
id, so the labels are exact for any hash; only the round count depends
on it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """(node, label) with label = min node id reachable (cluster id).

    Node ids must be non-null (every caller passes LSH doc ids); duplicate,
    reversed and self-loop edges are allowed."""
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    # One row per live super-node: (node, nbrs, members, label). The
    # adjacency set travels with the node, so picking a representative
    # needs no shuffle. collect_set ignores duplicate edges, so callers
    # need not dedup; isolated and self-loop-only nodes start with no
    # neighbours and leave as finished components after round 1.
    state = sym.groupBy("src").agg(
        F.array_remove(F.collect_set("dst"), F.col("src")).alias("nbrs")
    ).select(
        F.col("src").alias("node"),
        "nbrs",
        F.array("src").alias("members"),
        F.col("src").alias("label"),
    )
    finished = []
    rnd, live = 0, 1
    while live:
        rnd += 1

        def key(x):  # transform() counts the lambda's parameters: keep one
            return F.struct(F.xxhash64(x, F.lit(rnd)).alias("h"), x.alias("id"))

        state = state.withColumn(
            "rep", F.least(key(F.col("node")), F.array_min(F.transform("nbrs", key)))["id"]
        )
        # The node's own row carries its members and label; each
        # neighbour gets one message with the node's rep. The own row
        # also counts its rep among the neighbours' reps, which the
        # contraction removes again.
        null = {c: F.lit(None).cast(state.schema[c].dataType) for c in ("members", "label", "rep")}
        msgs = state.select(
            F.explode(
                F.concat(
                    F.array(F.struct("node", "members", "label", "rep", F.col("rep").alias("nrep"))),
                    F.transform(
                        "nbrs",
                        lambda n: F.struct(
                            n.alias("node"),
                            *(v.alias(c) for c, v in null.items()),
                            F.col("rep").alias("nrep"),
                        ),
                    ),
                )
            ).alias("m")
        ).select("m.*")
        per_node = msgs.groupBy("node").agg(
            F.first("rep", ignorenulls=True).alias("rep"),
            F.first("members", ignorenulls=True).alias("members"),
            F.min("label").alias("label"),
            F.collect_set("nrep").alias("nreps"),
        )
        # Contract: one row per rep. The label is carried, not recomputed
        # as array_min(members) at the explode below, where Spark would
        # evaluate it once per exploded row (quadratic in component size).
        merged = per_node.groupBy("rep").agg(
            F.array_distinct(F.flatten(F.collect_list("nreps"))).alias("nreps"),
            F.flatten(F.collect_list("members")).alias("members"),
            F.min("label").alias("label"),
        ).select(
            F.col("rep").alias("node"),
            F.array_remove("nreps", F.col("rep")).alias("nbrs"),
            "members",
            "label",
        )
        # Eager checkpoint: it truncates the round's lineage, and the
        # live count observed on its job (exact, no overflow) ends the
        # loop when no super-node has a neighbour left.
        obs = Observation()
        merged = merged.observe(
            obs, F.count_if(F.size("nbrs") > 0).alias("live")
        ).localCheckpoint(eager=True)
        live = obs.get["live"]
        # A super-node without neighbours is a whole component.
        finished.append(merged.filter(F.size("nbrs") == 0))
        state = merged.filter(F.size("nbrs") > 0)
    return reduce(DataFrame.unionByName, finished).select(
        F.explode("members").alias("node"), "label"
    )


def canonicalize(labels: DataFrame) -> DataFrame:
    """One surviving doc per cluster: the cluster label itself (min id),
    plus cluster size — the keep/drop decision table."""
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keep_id"),
    )
