"""Storage accounting for the materialize()/release_materialized() pair
(kgspark/runtime.py): reuse-boundary caching must be releasable — the
round-4 localCheckpoint version pinned executor storage for the session
(unpersist on a checkpointed frame is a no-op; see operators/bfs.py:67
for the same finding on BFS loop state)."""

from __future__ import annotations

import pyspark.sql.functions as F

from kgspark import runtime


def _cached_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_materialize_registers_and_release_frees(spark):
    before = _cached_rdd_ids(spark)
    df = runtime.materialize(
        spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("y"))
    )
    assert df.count() == 1000  # consuming action populates the cache
    during = _cached_rdd_ids(spark) - before
    assert during, "materialize() should persist a releasable RDD"
    n = runtime.release_materialized()
    assert n >= 1
    # unpersist(blocking=False) is async on the block manager but the
    # catalog entry is removed synchronously
    after = _cached_rdd_ids(spark)
    assert not (during & after), "released blocks still registered"
    # released registry is drained: a second release is a no-op
    assert runtime.release_materialized() == 0


def test_materialized_result_correct_under_self_join(spark):
    # the lsh/simhash/ngram operators self-join their materialized
    # signature tables via alias qualifiers; persist (lineage intact,
    # unlike localCheckpoint) must resolve those correctly
    base = runtime.materialize(
        spark.range(100).select(
            (F.col("id") % 10).alias("k"), F.col("id").alias("v")
        )
    )
    out = (
        base.alias("l")
        .join(base.alias("r"), (F.col("l.k") == F.col("r.k")) & (F.col("l.v") < F.col("r.v")))
        .count()
    )
    try:
        assert out == 10 * (10 * 9 // 2)
    finally:
        runtime.release_materialized()
