"""Synchronous label propagation — community detection.

Completes the graph tier's community ladder: connected components give
the coarsest partition (reachability), k-core ranks density, label
propagation finds COMMUNITIES — regions denser inside than out — with
no parameter beyond an iteration budget (Raghavan, Albert, Kumara 2007;
the synchronous variant with a deterministic tie-break, so results are
reproducible and SQL-replayable, unlike the randomized asynchronous
original).

Per iteration every node adopts the label that is most frequent among
its neighbors (ties -> smallest label). All arithmetic is integer
counting — no floats anywhere — so a fixed-depth SQL ladder replays the
schedule EXACTLY.

Scale shape per iteration: one neighbor-label join (edge-cardinality,
narrow (node, label) rows, SHUFFLE_HASH pinned so the build side never
broadcasts a corpus-sized frame) + one (node, label) count + one
per-node argmax aggregate. The rounds run on
:func:`~prajna_spark.operators.lifecycle.iterate`. Synchronous updates
can oscillate on bipartite-ish structures — the iteration count is a
fixed round count, not a convergence promise, and identical on both
engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prajna_spark.operators.lifecycle import (
    iterate,
    persist_scope,
    scoped_local_checkpoint,
)
from prajna_spark.operators.symmetry import symmetrize


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Run ``n_iter`` synchronous LP rounds; returns (node_id, community)
    where community is the surviving label (node ids seed labels)."""
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).where(F.col("u") != F.col("v"))
    und = e.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    with persist_scope():
        # one-pass symmetrization: the union spelling ran the caller's edge
        # derivation + distinct twice inside this checkpoint job (r11)
        sym = scoped_local_checkpoint(symmetrize(und, "a", "b"))
        labels = (
            sym.select(F.col("a").alias("nid"))
            .distinct()
            .select("nid", F.col("nid").alias("lbl"))
        )

        def step(labels: DataFrame) -> DataFrame:
            nbr = sym.join(
                labels.hint("SHUFFLE_HASH"), sym.b == labels.nid
            ).select(F.col("a").alias("node"), "lbl")
            counts = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
            # per-node argmax as a hash AGGREGATE, not a window: min_by over
            # the (-count, label) composite realizes the same
            # (count desc, label asc) tie-break, partial-aggregates map-side,
            # and skips the window's per-partition sort (r11)
            return counts.groupBy(F.col("node").alias("nid")).agg(
                F.min_by(
                    "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("lbl")
            )

        # checkpoint every SECOND generation: each label frame has exactly
        # ONE consumer (the next round's join), so an odd generation can
        # stay lazy — its join+aggregates execute once, inside the next
        # checkpoint's job — halving the blocking materializations and job
        # dispatches per run (r12, guide §2.4). Lineage depth stays <= 2
        # rounds, far under Catalyst's ~15-round stack limit, and
        # checkpoint placement cannot change values (integer label
        # counting, no nondeterminism to pin).
        labels = iterate(labels, step, n_iter, checkpoint_every=2)
    return labels.select(F.col("nid").alias("node_id"), F.col("lbl").alias("community"))
