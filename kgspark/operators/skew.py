"""Skew-defusal helpers (north_rule: salted repartitioning for head keys).

Algebraic aggregates (count/min/max/sum — everything in rdf_build) are
already skew-immune via map-side partial aggregation. The dangerous
case is *holistic* aggregates (collect_set/collect_list/percentiles)
over Zipf keys: one reducer receives a hub entity's entire payload.

``salted_collect_set`` runs the classic two-phase plan:

    phase 1: groupBy(key, salt = pmod(xxhash64(value), k)) — each hub
             key's values split across k reducers, partial sets built;
    phase 2: groupBy(key) merges the k partial sets.

Output is identical to the direct single-phase aggregate (asserted in
tests); the final merge handles at most k small sets per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_collect_set(
    df: DataFrame,
    key: str,
    value: str,
    salt_buckets: int = 16,
    out_col: str = "values",
) -> DataFrame:
    """(key, sorted distinct values) via two-phase salted aggregation."""
    salt = F.pmod(F.xxhash64(F.col(value)), F.lit(salt_buckets))
    partial = (
        df.select(F.col(key), F.col(value), salt.alias("_salt"))
        .groupBy(key, "_salt")
        .agg(F.collect_set(value).alias("_part"))
    )
    return (
        partial.groupBy(key)
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("_part")))
            ).alias(out_col)
        )
    )
