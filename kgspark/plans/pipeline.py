"""End-to-end KG-construction pipeline with manifest-gated resume.

The north_rule flow: web pages → text extraction → fact/triple
extraction → entity linking → CC canonicalization → deduplicated
triples + node/edge tables, every stage checkpointed to Parquet with a
lineage manifest (input snapshot id, buckets done, row counts) so a
killed run resumes from the last completed bucket set idempotently.

Scale layout decisions (10^12-doc target):
- stage-1 work is bucketed by ``pmod(xxhash64(url), n_buckets)`` —
  url-hash is uniform, so buckets are balanced even though url-HOSTS
  are Zipf-skewed; the bucket column doubles as the resume unit and
  the write partition.
- triples are written repartitioned by (pred, salted subj) — predicate
  alone would put every TREATS triple in few partitions; the salt
  spreads head entities (hub providers) across ``salt_buckets``
  partitions per predicate.
- linking/canonicalization dimension tables (aliases, canonical
  entities) broadcast; CC runs on the (tiny) distinct-mention graph,
  not the fact stream.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgspark.extract.ner import EXTRACT_SCHEMA, extract_facts
from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
from kgspark.operators.linking import link_facts
from kgspark.operators.rdf_build import build_triples
from kgspark.runtime import materialized_mark, release_materialized
from kgspark.sources.table_format import DEFAULT_FORMAT, TableFormat


_FACTS_SCHEMA = EXTRACT_SCHEMA + ", bucket int"


def bucket_col(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count attached; after the write that consumes
    it, ``obs.get["rows"]`` is the number of rows written (0 for an
    empty input). The count rides the write's own tasks: no re-read of
    the written table and no extra Spark job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def run_pipeline(
    spark: SparkSession,
    webpages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    snapshot: str,
    canonicals: DataFrame | None = None,
    n_buckets: int = 16,
    salt_buckets: int = 8,
    shuffle_partitions: int | None = None,
    fmt: TableFormat | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns stage metrics.

    ``fmt`` is the snapshot/lineage seam (sources/table_format.py):
    the parquet+manifest implementation by default, an Iceberg catalog
    in a real deployment."""
    # Every stage output is on disk and re-read from parquet, so any
    # reuse-boundary cache the stages register (linking internals) is
    # dead weight once the call returns — or raises. Free it, or a
    # session running the pipeline repeatedly (bench.py's median-of-N
    # loop) accumulates a pinned copy per run; frames a caller
    # registered before the call are not ours to free.
    mark = materialized_mark()
    try:
        return _run_stages(
            spark, webpages, aliases, out_dir, snapshot, canonicals,
            n_buckets, salt_buckets, fmt or DEFAULT_FORMAT,
        )
    finally:
        release_materialized(since=mark)


def _run_stages(
    spark: SparkSession,
    webpages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    snapshot: str,
    canonicals: DataFrame | None,
    n_buckets: int,
    salt_buckets: int,
    fmt: TableFormat,
) -> dict:
    metrics: dict = {"snapshot": snapshot}

    # ---- stage 1: extraction (bucketed, resumable) ----------------------
    t0 = time.time()
    all_buckets = list(range(n_buckets))
    # Snapshot (or bucket-layout) change = full truncate-and-reload of
    # the facts table. Dynamic partition overwrite only replaces
    # partitions PRESENT in the new data, so without this wipe a bucket
    # that is empty under the new snapshot — or any bucket ≥ a reduced
    # n_buckets — would silently keep the previous snapshot's rows and
    # feed them to every downstream stage. (On Iceberg this is the
    # snapshot-replace commit; on plain parquet it has to be explicit.)
    prev = fmt.read_snapshot(out_dir, "extract")
    if prev is not None and (
        prev.get("snapshot") != snapshot
        or prev.get("conf", {}).get("n_buckets", n_buckets) != n_buckets
    ):
        import shutil

        shutil.rmtree(f"{out_dir}/facts", ignore_errors=True)
    todo = fmt.pending_buckets(out_dir, "extract", snapshot, all_buckets)
    if todo:
        src = webpages.withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        if len(todo) < n_buckets:
            src = src.filter(F.col("bucket").isin(todo))
        facts = extract_facts(src.select("url", "warc_ts", "html", "text", "lang"))
        facts = facts.withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        # Dynamic partition overwrite: re-processing a bucket REPLACES its
        # partition instead of appending, so a crash between the parquet
        # job commit and the manifest record cannot duplicate facts on
        # resume (the bucket is simply rewritten with identical content).
        # (Round-6 A/B, kept so it is not re-tried: hoisting this bucket
        # repartition ABOVE extract_facts to widen the extraction stage
        # was measured SLOWER at sf1.0 — the kernel is cheap per page
        # and the hoist shuffles the raw ~100 MB html payload instead
        # of the extracted facts; guide §8's "move heavy bytes once"
        # cuts the other way here.)
        # Per-bucket row counts ride the write's own tasks, as in
        # ``counted`` (one SQL expression for the whole family). An empty
        # bucket sums to 0 and every bucket of an empty input to NULL;
        # both still count as done.
        obs = Observation()
        by_bucket = ", ".join(f"sum(CASE WHEN bucket = {b} THEN 1 ELSE 0 END)" for b in todo)
        (
            facts.repartition(len(todo), "bucket")
            .observe(obs, F.expr(f"array({by_bucket}) AS rows"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/facts")
        )
        done_counts = {b: n or 0 for b, n in zip(todo, obs.get["rows"])}
        fmt.commit_snapshot(
            out_dir, "extract", snapshot, bucket_rows=done_counts,
            summary={"conf": {"n_buckets": n_buckets}},
        )
    metrics["extract"] = {
        "skipped_buckets": n_buckets - len(todo),
        "processed_buckets": len(todo),
        "sec": round(time.time() - t0, 3),
    }

    # explicit schema: a corpus yielding zero fact rows writes no part
    # files, and schema inference over an empty dir would throw instead
    # of flowing an empty table through the remaining stages
    facts = spark.read.schema(_FACTS_SCHEMA).parquet(f"{out_dir}/facts")

    # ---- stage 2: entity linking + CC canonicalization ------------------
    t0 = time.time()
    m = fmt.read_snapshot(out_dir, "link")
    if m is None or m.get("snapshot") != snapshot:
        linked, obs = counted(link_facts(facts, aliases, canonicals, "Provider"))
        linked.write.mode("overwrite").parquet(f"{out_dir}/linked")
        n = obs.get["rows"]
        fmt.commit_snapshot(out_dir, "link", snapshot, summary={"rows": n})
        metrics["link"] = {"rows": n, "sec": round(time.time() - t0, 3)}
    else:
        metrics["link"] = {"rows": m.get("rows"), "sec": 0.0, "resumed": True}

    linked = spark.read.parquet(f"{out_dir}/linked")

    # ---- stage 3: triple build (set-dedup, salted write) -----------------
    t0 = time.time()
    m = fmt.read_snapshot(out_dir, "triples")
    if m is None or m.get("snapshot") != snapshot:
        # provenance travels as an 8-byte url hash (joinable back to the
        # facts table's url column) — shipping the url string itself per
        # triple candidate inflated the dedup shuffle by ~80% at low
        # parallelism
        ordered = linked.withColumn(
            "row_idx", F.struct("warc_ts", "url", "sent_idx")
        ).withColumn("src_ref", F.xxhash64("url"))
        triples = build_triples(ordered, order_col="row_idx", provenance_col="src_ref")
        # Salted write WITHOUT an explicit partition count: passing
        # salt_buckets as the count would cap the whole write at
        # salt_buckets tasks regardless of cluster size — the salt's job
        # is only to split a hot predicate across salt_buckets distinct
        # shuffle keys; the partition count stays
        # spark.sql.shuffle.partitions (AQE-coalesced).
        triples, obs = counted(triples.repartition(
            F.col("pred"), F.pmod(F.xxhash64("subj"), F.lit(salt_buckets))
        ))
        triples.write.mode("overwrite").parquet(f"{out_dir}/triples")
        n = obs.get["rows"]
        fmt.commit_snapshot(
            out_dir, "triples", snapshot,
            summary={"rows": n, "conf": {"salt_buckets": salt_buckets}},
        )
        metrics["triples"] = {"rows": n, "sec": round(time.time() - t0, 3)}
    else:
        metrics["triples"] = {"rows": m.get("rows"), "sec": 0.0, "resumed": True}

    triples = spark.read.parquet(f"{out_dir}/triples")

    # ---- stage 4: property-graph materialize -----------------------------
    t0 = time.time()
    m = fmt.read_snapshot(out_dir, "graph")
    if m is None or m.get("snapshot") != snapshot:
        nodes, nodes_obs = counted(nodes_from_triples(triples))
        edges, edges_obs = counted(edges_from_triples(triples))
        nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
        # edges partitioned by relation: the query layer always filters
        # on rel, so Catalyst prunes whole directories (the Spark analog
        # of the reference's per-relationship Neo4j indexes, A7)
        edges.write.mode("overwrite").partitionBy("rel").parquet(f"{out_dir}/edges")
        nn, ne = nodes_obs.get["rows"], edges_obs.get["rows"]
        fmt.commit_snapshot(
            out_dir, "graph", snapshot, summary={"nodes": nn, "edges": ne}
        )
        metrics["graph"] = {"nodes": nn, "edges": ne, "sec": round(time.time() - t0, 3)}
    else:
        metrics["graph"] = {
            "nodes": m.get("nodes"), "edges": m.get("edges"), "sec": 0.0, "resumed": True,
        }
    return metrics
