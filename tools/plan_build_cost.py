"""Driver-side plan-build cost per registered query.

For every query in the registry (``kgspark.entrypoints.QUERIES``) this
times two things separately and prints one JSON line per query:

- build: calling the query function, which only constructs the
  DataFrame — ``build_s`` seconds and ``py4j_calls``, the number of
  commands the Python driver sent to the JVM meanwhile;
- action: ``collect()`` of the built frame — ``action_s`` seconds and
  ``rows``.

``jobs`` is the number of Spark jobs the query ran: the action's, plus
any a builder ran eagerly (a bounded collect deciding an adaptive arm,
an eager checkpoint). Build and action run under one job group, and
the count comes from ``statusTracker()``. ``exchanges`` is the number
of shuffle Exchanges in the plan the action ran (``shuffle_exchanges``).

``--lsh DIM`` adds ``cosine_neardup_pairs_lsh`` at t = 0.95 over a
seeded table of random DIM-dimensional vectors (the registry's
``ann_neardup_pairs`` runs t = 0.35 at dim 64), so the build cost's
growth with the vector width can be read off directly.

Usage:
    python tools/plan_build_cost.py --sf-dir DIR [--lsh DIM ...] [query ...]

DIR holds the generated tables (``documents.parquet``, …) at one scale
factor, e.g. sf0.01; it defaults to ``$SPARK_GRAFT_SF_DIR``.

Each query is built once untimed first, so the numbers exclude py4j's
first-use class and method lookups.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import threading
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j commands the driver sends inside the block; the
    yielded one-element list holds the running count.

    Only commands from the thread that entered the block count. py4j's
    finalizer thread sends the JVM a release command for every Python
    reference garbage-collected earlier, whenever it gets to it; those
    are not the block's work, and counting them added 0-700 commands
    at random to the same build."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs started inside the block, through a job
    group and ``statusTracker()`` (works with the UI disabled); the
    yielded one-element list holds the count once the block exits."""
    sc = spark.sparkContext
    group = f"plan-build-cost-{uuid.uuid4().hex}"
    n = [0]
    sc.setJobGroup(group, group)
    try:
        yield n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def shuffle_exchanges(df) -> int:
    """Shuffle (non-broadcast) Exchanges in ``df``'s executed plan: the
    AQE final plan once an action has run. A cached scan is a leaf: the
    plan that filled the cache ran earlier and is not this frame's work,
    unless ``df`` is nothing but that scan, whose count is that plan's.
    A reused exchange is not counted again, and subquery plans are not
    walked."""

    def unwrap(node):
        while True:
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                node = node.executedPlan()
            elif name.endswith("QueryStageExec"):
                node = node.plan()
            else:
                return node

    def count(node) -> int:
        node = unwrap(node)
        kids = node.children()
        own = int(node.getClass().getSimpleName() == "ShuffleExchangeExec")
        return own + sum(count(kids.apply(i)) for i in range(kids.size()))

    root = unwrap(df._jdf.queryExecution().executedPlan())
    if root.getClass().getSimpleName() == "InMemoryTableScanExec":
        root = root.relation().cachedPlan()
    return count(root)


def lsh_query(dim: int, n: int = 500, seed: int = 0):
    """A query function: hyperplane-LSH near-dup pairs at t = 0.95 over
    ``n`` seeded random ``dim``-dimensional vectors."""
    import numpy as np
    import pandas as pd

    from kgspark.operators.similarity import cosine_neardup_pairs_lsh

    vecs = np.random.default_rng(seed).normal(size=(n, dim)).astype("float32")
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(vecs)})

    tables = {}  # created by the warm-up build, so not measured

    def build(spark, _sf_dir):
        if "vecs" not in tables:
            tables["vecs"] = spark.createDataFrame(
                pdf, "vec_id long, embedding array<float>"
            )
        return cosine_neardup_pairs_lsh(tables["vecs"], threshold=0.95, dim=dim)

    return build


def measure(spark, name: str, fn, sf_dir: str) -> dict:
    from kgspark.runtime import release_materialized

    fn(spark, sf_dir)  # warm-up build, not collected
    release_materialized()
    try:
        with spark_jobs(spark) as jobs:
            with py4j_calls(spark) as build_calls:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            rows = len(df.collect())
            action_s = time.perf_counter() - t0
        exchanges = shuffle_exchanges(df)
    finally:
        release_materialized()
    return {
        "query": name,
        "build_s": round(build_s, 4),
        "py4j_calls": build_calls[0],
        "action_s": round(action_s, 4),
        "rows": rows,
        "jobs": jobs[0],
        "exchanges": exchanges,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--master", default="local[4]")
    ap.add_argument(
        "--lsh", type=int, action="append", default=[], metavar="DIM",
        help="also measure LSH near-dup pairs at t=0.95 over DIM-dim vectors",
    )
    ap.add_argument("queries", nargs="*", help="registry names (default: all)")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")

    from kgspark.entrypoints import QUERIES
    from kgspark.session import get_spark

    todo = {q: QUERIES[q] for q in (args.queries or sorted(QUERIES))}
    for dim in args.lsh:
        todo[f"lsh_t095_d{dim}"] = lsh_query(dim)
    spark = get_spark("plan-build-cost", master=args.master)
    try:
        for name, fn in todo.items():
            print(json.dumps(measure(spark, name, fn, args.sf_dir)), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
