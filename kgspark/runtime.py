"""Execution-boundary helpers shared by the operator modules.

``materialize`` is the one helper for the caching operators place at
reuse boundaries (a subtree with 2+ consumers, or a self-join over an
expensive signature table). Evaluating the subtree once instead of per
consumer is the right default for batch jobs, so the helper persists at
``MEMORY_AND_DISK``; unlike the ``localCheckpoint`` it used through
round 4, persisted blocks are (a) releasable — ``release_materialized``
/ ``DataFrame.unpersist`` actually frees executor storage, so a
long-lived session running many operator invocations does not
accumulate dead blocks — and (b) recomputable on executor loss
(checkpoint blocks are neither; ``operators/bfs.k_hop_nodes`` made
the same change for its adjacency in round 4).

Every persisted frame is also tracked in a session-scoped registry:
callers that consume an operator's output and are done with it call
``release_materialized()`` to unpersist everything materialized since
the last release (bench.py does this between queries). Production
pipelines write a real table at these boundaries (plans/pipeline.py),
which needs no cache.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Frames persisted by materialize() that have not been released yet.
# Strong refs are fine: the registry exists precisely so the blocks'
# lifetime is explicit, and release_materialized() drops them.
_LIVE: list[DataFrame] = []


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` at ``MEMORY_AND_DISK`` at a reuse boundary (see
    module docstring) and register it for ``release_materialized``.
    Lazy: the first consuming action computes and caches the subtree,
    later consumers read the cache."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def spread(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session's shuffle-partition count,
    hashed on ``cols`` (deterministic high-cardinality keys — guide
    §2.5 warns off rand-derived ones; keyless round-robin pays a
    sort-before-repartition of the input).

    Use on the PROBE side of a fan-out join (band-bucket self-joins,
    prefix-filter joins): those sides are typically a persisted
    aggregate or a single small parquet file, so they arrive in one
    (AQE-coalesced) partition — and since a broadcast join adds no
    exchange, the entire multi-10⁷-row join output would then be
    produced and consumed by a SINGLE task (measured: the round-6
    ann/ngram rewrites ran one core at 100% for 19+ min before this).
    The repartition costs one tiny shuffle of the pre-fan-out rows and
    buys full-cluster parallelism for the explosion. ``n`` is
    scale-adaptive by default: ``spark.sql.shuffle.partitions`` (the
    local core count here, the configured cluster value in
    production), never a hard-coded constant.
    """
    from pyspark.sql import functions as F

    if n is None:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in cols])


def materialized_mark() -> int:
    """A position in the registry: pass it to ``release_materialized``
    to release only the frames registered after this call."""
    return len(_LIVE)


def release_materialized(since: int = 0) -> int:
    """Unpersist every frame ``materialize`` registered since the last
    release — or, given a ``materialized_mark()``, only those registered
    after the mark, so a callee's release keeps its caller's frames.
    Returns how many were released. Call after the consuming action
    (collect/write) of an operator whose output you are done with —
    blocking=False, so this only marks blocks for removal."""
    n = 0
    while len(_LIVE) > since:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            # session already stopped — nothing to free
            pass
    return n
