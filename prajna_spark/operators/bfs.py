"""Multi-source BFS: hop distances from a seed set over an edge list.

Reference analog: Prajna expresses iterative graph passes as repeated
DSet self-mixes driven from the driver (paper §3's iterative-map pattern;
/root/reference/src/CoreLib/DSetGenerics.fs:1127 ``mapByCollection`` +
fold loops). Spark-first spelling: a driver loop of frontier⋈edges hash
joins on :func:`~prajna_spark.operators.lifecycle.iterate`, with
SHUFFLE_HASH hints so no per-round broadcast build competes for the
shared local heap.

Scale notes (100 TB contract):
- per round the only edge-cardinality shuffle is frontier⋈edges keyed on
  the node id; the visited set and frontier are node-cardinality;
- the state is ONE frame, the visited set with its hop counts, whose
  ``fresh`` rows (last round's arrivals) are the frontier — one
  checkpoint job per round; the early exit reads the visited count
  from the observe() that rides that job;
- distances are correct-by-construction minima: a node enters the
  visited set the first round it is reached, and later arrivals are
  anti-joined away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.operators.lifecycle import (
    iterate,
    persist_scope,
    scoped_local_checkpoint,
)


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "nid",
) -> DataFrame:
    """Hop distance (0..max_hops) from ANY seed to every reachable node.

    ``edges`` is directed (symmetrize upstream for undirected semantics);
    ``seeds`` is one id column (``id_col``). Returns (node_id, hops) with
    hops = length of the shortest edge path from the nearest seed —
    exactly what a DuckDB ``WITH RECURSIVE`` replay computes, which is the
    catalog oracle for this operator.
    """
    with persist_scope():
        e = scoped_local_checkpoint(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        )
        visited = seeds.select(F.col(id_col).alias("nid")).distinct().select(
            "nid", F.lit(0).cast("long").alias("hops"), F.lit(True).alias("fresh")
        )

        def step(visited: DataFrame) -> DataFrame:
            frontier = visited.where("fresh")
            reached = (
                e.join(frontier.hint("SHUFFLE_HASH"), e.src == frontier.nid)
                .select(F.col("dst").alias("nid"), (F.col("hops") + 1).alias("hops"))
                .distinct()
            )
            new = reached.join(
                visited.select("nid").hint("SHUFFLE_HASH"), "nid", "left_anti"
            )
            return visited.select(
                "nid", "hops", F.lit(False).alias("fresh")
            ).unionAll(new.withColumn("fresh", F.lit(True)))

        # the hop bound defines the result, so hitting it is not an error
        visited = iterate(
            visited, step, max_hops, counter=F.count(F.lit(1)), must_converge=False
        )
    return visited.select(F.col("nid").alias("node_id"), "hops")


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    id_col: str = "nid",
    decimals: int = 6,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, bounded at
    ``max_hops`` edges — Bellman-Ford rounds (the weighted upgrade of
    :func:`multi_source_bfs`): after round k every node holds the exact
    min-weight path using <= k edges. ``(node_id, dist)``; unreachable
    nodes absent.

    Each round is one edge-cardinality hash join (dist side SHUFFLE_HASH
    — no per-round broadcast build) + a node-keyed min aggregation, on
    :func:`~prajna_spark.operators.lifecycle.iterate`. Distances
    accumulate left-associatively per hop (d + w at each relaxation), the
    exact op sequence the oracle's unrolled ladder replays — min over
    IEEE doubles is engine-portable, so bounded-SSSP is hash-checkable,
    no rounding slack needed beyond the final display rounding."""
    with persist_scope():
        e = scoped_local_checkpoint(
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
        )
        dist = seeds.select(F.col(id_col).alias("nid")).distinct().withColumn(
            "dist", F.lit(0.0)
        )

        def step(dist: DataFrame) -> DataFrame:
            cand = e.join(dist.hint("SHUFFLE_HASH"), e.src == dist.nid).select(
                F.col("dst").alias("nid"), (F.col("dist") + F.col("w")).alias("dist")
            )
            return dist.unionAll(cand).groupBy("nid").agg(F.min("dist").alias("dist"))

        dist = iterate(dist, step, max_hops)
    return dist.select(
        F.col("nid").alias("node_id"), F.round("dist", decimals).alias("dist")
    )
