"""Two-phase salted aggregation: identical output under heavy key skew."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kgspark.operators.skew import salted_collect_set


def test_salted_collect_matches_direct_under_skew(spark):
    rng = random.Random(4)
    rows = []
    # Zipf-ish: one hub key owns 80% of rows (the head-entity shape)
    for i in range(5000):
        key = "hub" if rng.random() < 0.8 else f"k{rng.randrange(50)}"
        rows.append((key, f"v{rng.randrange(200)}"))
    df = spark.createDataFrame(rows, "k string, v string")

    salted = {
        r.k: tuple(r.values) for r in salted_collect_set(df, "k", "v").collect()
    }
    direct = {
        r.k: tuple(r.values)
        for r in df.groupBy("k")
        .agg(F.array_sort(F.collect_set("v")).alias("values"))
        .collect()
    }
    assert salted == direct
    assert len(salted["hub"]) > 150  # the hub really is heavy
