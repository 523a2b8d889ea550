"""Blocked candidate pairs and distributed connected components — the
block -> score -> cluster chain every corpus-level resolver
(operators/crossdoc.py, operators/dedup.py) runs.

- :func:`capped_blocks` drops blocks above a size cap (the skew guard,
  SparkER-style block purging); the drop is not counted yet;
- :func:`block_pairs` joins block tables into distinct candidate pairs;
- :func:`connected_components` clusters the scored edges.

Connected components: the reference finds components with per-chunk BFS
(/root/reference/ontocast/tool/validate.py:125-155) and greedy O(n^2)
entity grouping (/root/reference/ontocast/tool/aggregate.py:505-559) —
both single-process. This is the corpus-scale replacement the north
rule names: iterative min-label propagation implemented as self-joins
(the join-based form of the large-star/small-star family — converges in
O(log n) rounds on the star-shaped merge graphs entity resolution
produces, and each round is one shuffle).

Scale notes:
- the symmetric edge set is persisted for the whole loop, so the
  caller's edge plan (blocking joins, scoring UDFs) runs once, not once
  per round and per changed-count;
- ``localCheckpoint`` after every round truncates the join lineage
  (otherwise plan depth grows linearly and re-optimizes each round);
- convergence is detected with a changed-label count (an AQE-coalesced
  aggregate over the label table, not a collect);
- labels are the lexicographic MIN member IRI, so component ids are
  deterministic and rerun-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MAX_ROUNDS = 25  # pointer jumping converges in O(log n) rounds


def capped_blocks(keyed: DataFrame, max_size: int) -> DataFrame:
    """Rows of ``keyed`` whose ``bkey`` block holds at most ``max_size``
    rows. Larger blocks are dropped uncounted: one ``groupBy`` count,
    then a broadcast join of the surviving keys. Callers deduplicate
    ``keyed`` first when a row may repeat within a block."""
    sizes = keyed.groupBy("bkey").agg(F.count(F.lit(1)).alias("_n"))
    kept = sizes.filter(F.col("_n") <= max_size).select("bkey")
    return keyed.join(F.broadcast(kept), "bkey")


def block_pairs(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """Block tables ``(bkey, id, c...)`` -> candidate pairs ``(a, b,
    c_a..., c_b...)``, one row per pair however many keys it shares.

    Self form (``right`` is None): pairs within ``left`` with ``a < b``.
    Two-sided form: ``left`` x ``right`` pairs; ``right`` is first
    semi-joined to ``left``'s broadcast key set, so only its rows that
    share a key with ``left`` reach the exchange (``right`` may be
    corpus-sized while ``left`` is one batch)."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            "bkey",
            F.col("id").alias(s),
            *[F.col(c).alias(f"{c}_{s}")
              for c in df.columns if c not in ("bkey", "id")],
        )

    if right is None:
        pairs = side(left, "a").join(side(left, "b"), "bkey").filter(
            F.col("a") < F.col("b")
        )
    else:
        keys = F.broadcast(left.select("bkey").distinct())
        b = side(right.join(keys, "bkey", "semi"), "b")
        pairs = side(left, "a").join(b, "bkey")
    return pairs.drop("bkey").dropDuplicates(["a", "b"])


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src, dst) -> labels(node, comp) with comp = min IRI of the
    component. Nodes appearing only as isolated vertices should be
    unioned in by the caller as self-loops (src == dst)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(MAX_ROUNDS):
        # (1) neighbor-min: pull the smallest label from direct neighbors
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), "comp")
        )
        new_labels = (
            nbr_min.union(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # (2) pointer jumping: comp <- comp's own comp (path halving) —
        # turns O(diameter) rounds into O(log n)
        jump = new_labels.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        new_labels = (
            new_labels.join(jump, new_labels.comp == jump.jnode, "left")
            .select(
                "node", F.coalesce("jcomp", "comp").alias("comp")
            )
        )
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels
