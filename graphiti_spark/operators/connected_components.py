"""D13/D14 — distributed union-find as iterative DataFrame connected
components.

The reference collapses duplicate-pair chains with an in-memory union-find
(/root/reference/graphiti_core/utils/bulk_utils.py:72-101 directed,
:513-550 undirected with lexicographically-smallest canonical). At cluster
scale the pair list doesn't fit one process, so we run min-label
propagation to a fixpoint: every vertex repeatedly adopts the minimum label
over its closed neighborhood. At the fixpoint, for every edge (u,v) both
label(u) <= label(v) and label(v) <= label(u) hold, so all labels in a
component are equal — necessarily the component's minimum vertex id.

Converges in O(diameter) rounds; dedup components are name-variant clusters
with tiny diameters, so 3-5 rounds is typical. Each round localCheckpoints
to truncate lineage (SURVEY.md §4.2).

Output contract matches `compress_uuid_map`: every vertex that appears in
any pair maps to the lexicographically smallest vertex of its component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 25


# Probe cost is bounded by this: the single limit(N+1).collect() pulls at
# most N+1 rows even when the distributed path is taken, so keep it small
# enough that a discarded probe is cheap (~16 MB of uuid pairs) while still
# covering every realistic dedup-pair batch in one driver pass.
# The driver path pays at perfbench sizes (4 cores, seed 501, traced):
# forcing the distributed path (this and node_dedup.DRIVER_FUZZY_MAX_KEYS
# at 0) takes stage edges_canon_map, where CC is the only gate, from 19 to 50
# jobs and 4.1 to 7.3 s over ingest_search's 2 calls, and from 19 to 57
# jobs and 5.6 to 8.1 s over bulk_build's 3.
DRIVER_CC_MAX_PAIRS = 200_000


def connected_components(pairs: DataFrame, max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """pairs(a string, b string) -> (id string, canonical string).

    Undirected; canonical = min member (ref UnionFind ordering rule).
    Only ids that occur in `pairs` appear in the output, matching
    `compress_uuid_map` (bulk_utils.py:541-550).

    Scale-adaptive (analogous to Catalyst's broadcast-join selection): one
    probe job fetches at most DRIVER_CC_MAX_PAIRS + 1 pairs; when they all
    fit, the probe already holds the pair list and the exact reference
    union-find runs in-process (no iterative shuffles). Above it, the
    distributed min-label propagation with pointer jumping runs. Both
    produce the identical min-member canonical map.
    """
    # module constant read at CALL time, so tests can force the distributed
    # branch by monkeypatching DRIVER_CC_MAX_PAIRS to 0
    if DRIVER_CC_MAX_PAIRS > 0:
        sample = pairs.limit(DRIVER_CC_MAX_PAIRS + 1).collect()
        if len(sample) <= DRIVER_CC_MAX_PAIRS:
            return _driver_cc_df(pairs.sparkSession, [(r["a"], r["b"]) for r in sample])
    return _distributed_cc(pairs, max_rounds)


def _driver_cc_df(spark, pair_list: list[tuple[str, str]]) -> DataFrame:
    """Exact in-process union-find, shipped back through Arrow (a pandas
    frame serializes ~10x faster than a row list at 10^5 mappings)."""
    import pandas as pd

    from graphiti_spark.kernels import min_uuid_map

    mapping = min_uuid_map(pair_list)
    pdf = pd.DataFrame(
        {"id": list(mapping.keys()), "canonical": list(mapping.values())}
    ).astype({"id": "string", "canonical": "string"})
    if len(pdf) == 0:
        return spark.createDataFrame([], schema="id string, canonical string")
    return spark.createDataFrame(pdf)


def _distributed_cc(pairs: DataFrame, max_rounds: int = MAX_ROUNDS) -> DataFrame:
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seed: min over closed neighborhood
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select(F.col("u").alias("id"), F.least(F.col("u"), F.col("nbr_min")).alias("label"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_rounds):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "v"), on="v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("u").alias("id"), "nbr_label")
        )
        # pointer jumping: label(label(u)) — makes convergence O(log n)
        # instead of O(diameter) on long chains
        jump = labels.select(F.col("id").alias("label"), F.col("label").alias("jump_label"))
        new_labels = (
            labels.join(nbr, on="id", how="left")
            .join(jump, on="label", how="left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("jump_label"), F.col("label")),
                ).alias("label"),
            )
            # lazy: the convergence count below materializes the checkpoint,
            # so each round costs exactly one job
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("label").alias("canonical"))

    raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")
