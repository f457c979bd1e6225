"""Dedup graph operators: connected components and canonicalization.

After candidate-pair generation (minhash LSH) and verification (exact
Jaccard), corpus dedup needs the *transitive closure*: near-dup pairs
form clusters, and one canonical document survives per cluster.

Spark-first: iterative min-label propagation in the vertex-centric
shape of Pregel (Malewicz et al., SIGMOD 2010) and Hash-Min (Rastogi et
al., ICDE 2013). Each node's adjacency set travels with its label, so
one round is one explode (the node's own row plus one message per
neighbour) and one groupBy on node: a single exchange, with no join
against a separately partitioned edge list. Rounds = cluster diameter,
which for near-dup graphs is tiny; each round's checkpoint job also
observes the label sum that detects the fixed point. Chain-shaped
graphs whose diameter grows with cluster size take the large-star/
small-star loop below instead (O(log n) rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _observed_checkpoint(state: DataFrame) -> tuple[DataFrame, dict]:
    """Eagerly checkpoint ``state`` (truncating the round's lineage) and
    return it with the sums of its labels and nodes, observed on that
    same job. Summed as decimal(38,0): bigint F.sum wraps silently at
    int64 overflow in non-ANSI mode, and with 64-bit hash node ids a
    wrap collision could fake a fixed point."""
    sums = Observation()
    state = state.observe(
        sums,
        F.sum(F.col("label").cast("decimal(38,0)")).alias("label"),
        F.sum(F.col("node").cast("decimal(38,0)")).alias("node"),
    ).localCheckpoint(eager=True)
    return state, sums.get


def connected_components(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """(node, label) with label = min node id reachable (cluster id).

    Node ids must be non-null (every caller passes LSH doc ids); duplicate,
    reversed and self-loop edges are allowed."""
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    # (node, label, nbrs): the adjacency set is built once, and starting
    # from label = node, its min over the neighbours is already round 1.
    # collect_set ignores duplicate edges, so callers need not dedup.
    state = (
        sym.groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .select(
            F.col("src").alias("node"),
            F.least("src", F.array_min("nbrs")).alias("label"),
            "nbrs",
        )
    )
    no_nbrs = F.lit(None).cast(state.schema["nbrs"].dataType)
    # Labels only ever DECREASE (min-propagation), so the label sum is a
    # strictly-decreasing potential over the integers until the fixed
    # point: equal sums == converged, and the loop runs to that point
    # with no round cap (diameter + 1 rounds). The node set never
    # changes, so the node sum is the label sum before round 1.
    state, sums = _observed_checkpoint(state)
    prev_sum, cur_sum = sums["node"], sums["label"]
    while cur_sum != prev_sum:
        # The node's own row keeps its adjacency; each neighbour gets
        # one message with the node's label and no adjacency.
        msgs = state.select(
            F.explode(
                F.concat(
                    F.array(F.struct("node", "label", "nbrs")),
                    F.transform(
                        "nbrs",
                        lambda n: F.struct(
                            n.alias("node"), F.col("label"), no_nbrs.alias("nbrs")
                        ),
                    ),
                )
            ).alias("m")
        ).select("m.*")
        state, sums = _observed_checkpoint(
            msgs.groupBy("node").agg(
                F.min("label").alias("label"),
                F.first("nbrs", ignorenulls=True).alias("nbrs"),
            )
        )
        prev_sum, cur_sum = cur_sum, sums["label"]
    return state.select("node", "label")


def canonicalize(labels: DataFrame) -> DataFrame:
    """One surviving doc per cluster: the cluster label itself (min id),
    plus cluster size — the keep/drop decision table."""
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keep_id"),
    )


def connected_components_star(
    edges: DataFrame, a: str = "a", b: str = "b", return_rounds: bool = False,
):
    """(node, label) via alternating large-star/small-star contractions
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the documented upgrade path from min-label propagation: O(log n)
    rounds regardless of cluster DIAMETER, where propagation pays one
    round per hop. Near-dup clusters are usually shallow, so the
    propagation loop wins on constants there; this variant is for
    chain-shaped graphs (e.g. content-drift chains where doc_i only
    matches doc_{i+1}) whose diameter grows with cluster size.

    Each round is two grouped contractions (one shuffle each) plus a
    fixed-point check; the edge set is checkpointed per round to keep
    lineage flat, same as the propagation loop.
    """

    # Exchange-reuse contraction shape (r13): each star contraction
    # repartitions its edge set by u ONCE; the min-neighbor groupBy and
    # the join back both require clustering on u, so they reuse that
    # single exchange (ReuseExchange dedupes the two consumers of the
    # repartition inside one plan), and the closing dedup rides a
    # repartition("u") whose hash(u) partitioning satisfies the
    # clustered-by-(u,v) requirement — 6 exchanges per round down to 4
    # (paired best-of-3 at sf0.1: 6.79 -> 5.41s, identical labels).
    # large_star carries NO closing dedup (r13): its only consumer is
    # small_star, whose min-aggregate is duplicate-insensitive and whose
    # own closing dedup restores distinctness — so the per-round edge
    # SET (what the fixed-point signature sees) is bit-identical while
    # one exchange+dedup per round disappears (paired best-of-4 at
    # sf0.1: 4.51 -> 4.02s, labels identical by exceptAll both ways).

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        symp = sym.repartition("u")
        mins = symp.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            symp.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        dp = d.repartition("u")
        mins = dp.groupBy("u").agg(F.min("v").alias("m"))
        moved = dp.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        own = mins.select("u", F.col("m").alias("v"))
        return (
            moved.unionByName(own)
            .filter(F.col("u") != F.col("v"))
            .repartition("u")
            .dropDuplicates(["u", "v"])
        )

    # Materialize the RAW pair list exactly once: `nodes` and the working
    # edge set both derive from it, and without this single checkpoint the
    # (possibly expensive) upstream pair-generation lineage — minhash ->
    # band -> bucket join -> jaccard filter for LSH callers — executed
    # twice, once per derived frame. Deriving both from the checkpointed
    # base costs two cheap distincts over an edge-list-sized frame instead.
    # eager=False (r13): materialization rides the first _sig(e) job
    # below (which computes through base and persists it en route)
    # instead of two standalone checkpoint jobs — same
    # materialize-the-pair-pipeline-once guarantee, fewer jobs.
    base = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(eager=False)
    # No checkpoint on nodes: it is consumed exactly once (the final left
    # join) and recomputes from the materialized base with one cheap
    # distinct — checkpointing it would add an eager job for nothing.
    nodes = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .distinct()
    )
    e = base.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)

    def _is_star_forest(edges_df) -> bool:
        # INTRINSIC convergence test (r14, replacing the edge-set
        # signature + confirmation round): small_star's output is a
        # fixed point of large∘small iff it is a rooted star forest —
        # every u has exactly ONE out-edge and no node is both a source
        # and a target. Proof both ways for the exit's safety: (⇐) on a
        # star forest with the u>v orientation small_star guarantees,
        # each root r's neighborhood is its leaves (all >r) so
        # large_star re-emits (leaf, r) and small_star is the identity —
        # the set never changes again, so breaking here yields labels
        # IDENTICAL to running the loop further. (⇒) is Kiveris et
        # al.'s convergence theorem: the alternation converges to star
        # forests, so the exit always fires. Versus the r13 signature
        # this is EXACT (pure set arithmetic — no 2^-64 hash-collision
        # caveat, no exceptAll confirmation job) and it fires one round
        # EARLIER: the signature could only observe convergence by
        # computing round k+1 and comparing, paying a full contraction
        # round (at 100 TB: ~3 edge-table shuffles + 2 joins) just to
        # see nothing changed. Cost: one groupBy(node) agg over 2|e|
        # flag rows per round, map-side-combined to ~|nodes|.
        bad = (
            edges_df.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("node"),
                            F.lit(1).alias("iu"), F.lit(0).alias("iv"),
                        ),
                        F.struct(
                            F.col("v").alias("node"),
                            F.lit(0).alias("iu"), F.lit(1).alias("iv"),
                        ),
                    )
                ).alias("x")
            )
            .select("x.*")
            .groupBy("node")
            .agg(F.sum("iu").alias("nu"), F.max("iv").alias("mv"))
            .filter((F.col("nu") > 1) | ((F.col("nu") >= 1) & (F.col("mv") == 1)))
        )
        return bad.isEmpty()

    # No round cap: the exit below is exact and Kiveris et al. prove the
    # alternation reaches a star forest, so the loop ends at the fixed point.
    rounds = 0
    while True:
        new_e = small_star(large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        e = new_e
        # One job per round: the star-forest check also materializes the
        # round's checkpoint (it is the frame's first consumer).
        if _is_star_forest(new_e):
            break
    star = e.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("node"), "label"
    )
    labels = (
        nodes.join(star, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )
    return (labels, rounds) if return_rounds else labels
