"""Banded candidate pairs: the one LSH band join behind every
"band keys -> candidate pairs -> verify" operator.

Band keys are non-unique join keys: a bucket of n rows costs n(n-1)/2
candidate pairs, and a pair that collides in several bands comes out once
per shared band. Both costs live here, once — the hot-bucket cap and the
dedup pass — so the callers (node_dedup.fuzzy_duplicate_pairs,
dataops.minhash_neardup_pairs, dataops.simhash_neardup_pairs) differ only
in their keys and their verify step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_pairs(
    rows: DataFrame,
    id_col: str,
    keys: str,
    payload: str,
    cap: int | None,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Every distinct pair (a < b) of rows sharing a band bucket.

    `keys` names an array column of band keys; bucket = (block_cols,
    band_pos, band_key), so rows in different block groups never pair.
    Buckets with more than `cap` members are dropped (hub skew guard —
    blocking is deliberately approximate; a pair still comes out through
    any other band it shares); `cap=None` keeps every bucket.

    Output: a, b (ids), a_<payload>, b_<payload>.
    """
    bucket = [*block_cols, "band_pos", "band_key"]
    banded = rows.select(
        *block_cols,
        F.col(id_col).alias("_id"),
        F.col(payload).alias("_p"),
        F.posexplode(keys).alias("band_pos", "band_key"),
    )
    if cap is not None:
        sizes = banded.groupBy(*bucket).count()
        banded = banded.join(
            sizes.filter(F.col("count") <= cap).drop("count"), on=bucket
        )

    def side(s: str) -> DataFrame:
        return banded.select(
            *bucket, F.col("_id").alias(s), F.col("_p").alias(f"{s}_{payload}")
        )

    return (
        side("a")
        .join(side("b"), on=bucket)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", f"a_{payload}", f"b_{payload}")
        .dropDuplicates(["a", "b"])
    )
