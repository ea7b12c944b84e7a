"""End-to-end KG-construction pipeline with manifest-gated resume.

The north_rule flow: web pages → text extraction → fact/triple
extraction → entity linking → CC canonicalization → deduplicated
triples + node/edge tables, every stage checkpointed to Parquet with a
lineage manifest (input snapshot id, buckets done, row counts) so a
killed run resumes from the last completed bucket set idempotently.

Snapshots: a re-run under the manifests' snapshot id resumes (pending
buckets, then the stages whose manifests are stale). A new snapshot
whose source files strictly contain the previous complete snapshot's
(the extract manifest records them per segment) is an **append**:
extract reads only the added files' pages into a new ``seg`` partition
beside ``bucket`` and keeps the earlier facts; link, triples and graph
rerun over all facts, so every table equals a cold run's over the
whole file set. Any other snapshot change truncates and rebuilds.

Scale layout decisions (10^12-doc target):
- stage-1 work is bucketed by ``pmod(xxhash64(url), n_buckets)`` —
  url-hash is uniform, so buckets are balanced even though url-HOSTS
  are Zipf-skewed; the bucket column doubles as the resume unit and
  the write partition.
- triples are written repartitioned by (pred, salted subj) — predicate
  alone would put every TREATS triple in few partitions; the salt
  spreads head entities (hub providers) across ``SALT_BUCKETS`` (8)
  partitions per predicate, stamped as ``conf.salt_buckets`` in the
  triples manifest.
- linking/canonicalization dimension tables (aliases, canonical
  entities) broadcast; CC runs on the (tiny) distinct-mention graph,
  not the fact stream.
"""

from __future__ import annotations

import glob
import re
import shutil
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgspark.extract.ner import EXTRACT_SCHEMA, extract_facts
from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
from kgspark.operators.linking import link_facts
from kgspark.operators.rdf_build import build_triples
from kgspark.runtime import materialized_mark, release_materialized
from kgspark.sources import manifests


_FACTS_SCHEMA = EXTRACT_SCHEMA + ", bucket int"
SALT_BUCKETS = 8


def bucket_col(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _source_files(webpages: DataFrame) -> list[str]:
    """The snapshot's source files, sorted, in the form
    ``_metadata.file_path`` reads them. ``inputFiles()`` lists them from
    the scan's file index without a Spark job, but spells a local file
    ``file:///…`` where ``_metadata.file_path`` spells ``file:/…``; a
    filter across the two forms matches nothing. Empty for a frame with
    no file scan (in-memory data)."""
    return sorted(re.sub(r"^file:/+", "file:/", f) for f in webpages.inputFiles())


def _appended_files(prev: dict, files: list[str], n_buckets: int) -> list[str]:
    """The files ``files`` adds to the snapshot of the extract manifest
    ``prev`` when the new snapshot is an append to it, else ``[]``.

    An append needs the previous extract complete under the same bucket
    layout (its buckets done are exactly ``range(n_buckets)``), and its
    file set non-empty and a strict subset of the new one. Extraction
    is per page, so the facts then equal a cold run's; link, triples and
    graph rerun over all of them, so every table does."""
    seen = {f for seg in prev.get("files", []) for f in seg}
    if (
        set(prev.get("buckets_done", [])) != set(range(n_buckets))
        or not seen
        or not seen < set(files)
    ):
        return []
    return sorted(set(files) - seen)


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
    canonicals: DataFrame,
    n_buckets: int = 16,
) -> dict:
    """Run (or resume) the full pipeline; returns stage metrics.

    ``canonicals(canonical)`` is the entity inventory linking resolves
    against (see ``link_facts``). When ``webpages`` reads the previous
    snapshot's files plus new ones, only the new files' pages are
    extracted (module docstring); ``metrics["extract"]["rows"]`` is the
    fact rows this call extracted."""
    # Every stage output is on disk and re-read from parquet, so any
    # reuse-boundary cache the stages register (linking internals) is
    # dead weight once the call returns — or raises. Free it, or a
    # session running the pipeline repeatedly (bench.py's median-of-N
    # loop) accumulates a pinned copy per run; frames a caller
    # registered before the call are not ours to free.
    mark = materialized_mark()
    try:
        return _run_stages(
            spark, webpages, aliases, out_dir, snapshot, canonicals, n_buckets
        )
    finally:
        release_materialized(since=mark)


def _run_stages(
    spark: SparkSession,
    webpages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    snapshot: str,
    canonicals: DataFrame,
    n_buckets: int,
) -> dict:
    metrics: dict = {"snapshot": snapshot}

    # ---- stage 1: extraction (bucketed, resumable) ----------------------
    t0 = time.time()
    all_buckets = list(range(n_buckets))
    files = _source_files(webpages)
    prev = manifests.read_manifest(out_dir, "extract")
    segments, seg, base_rows, src = [files], 0, {}, None
    if prev is not None and (
        prev.get("snapshot") != snapshot
        or prev.get("conf", {}).get("n_buckets", n_buckets) != n_buckets
    ):
        added = _appended_files(prev, files, n_buckets)
        if added:
            try:
                src = webpages.filter(F.col("_metadata.file_path").isin(added))
            except AnalysisException:
                pass  # no file scan exposes its paths (a union of reads)
        if src is not None:
            # Append snapshot: extract only the added files' pages into a
            # new segment; earlier segments stay as they are. A replay of
            # an interrupted append rewrites the same segment: drop what
            # an earlier attempt left of it first, since dynamic overwrite
            # keeps the partitions the new data does not touch.
            segments, seg = prev["files"] + [added], len(prev["files"])
            base_rows = prev.get("rows", {})
            for d in glob.glob(f"{out_dir}/facts/bucket=*/seg={seg}"):
                shutil.rmtree(d)
        else:
            # Any other snapshot (or bucket-layout) change = full
            # truncate-and-reload of the facts table. Dynamic partition
            # overwrite only replaces partitions PRESENT in the new
            # data, so without this wipe a bucket that is empty under
            # the new snapshot — or any bucket ≥ a reduced n_buckets —
            # would silently keep the previous snapshot's rows and feed
            # them to every downstream stage. (On Iceberg this is the
            # snapshot-replace commit; on plain parquet it has to be
            # explicit.)
            shutil.rmtree(f"{out_dir}/facts", ignore_errors=True)
    elif prev is not None:
        segments = prev.get("files", segments)
    todo = manifests.pending_buckets(out_dir, "extract", snapshot, all_buckets)
    new_rows = 0
    if todo:
        if src is None:
            src = webpages
            if len(todo) < n_buckets:
                src = src.filter(bucket_col(F.col("url"), n_buckets).isin(todo))
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
            .withColumn("seg", F.lit(seg))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "seg")
            .parquet(f"{out_dir}/facts")
        )
        counts = {b: n or 0 for b, n in zip(todo, obs.get["rows"])}
        new_rows = sum(counts.values())
        manifests.record_buckets(
            out_dir, "extract", snapshot,
            {b: base_rows.get(str(b), 0) + n for b, n in counts.items()},
            conf={"n_buckets": n_buckets}, extra={"files": segments},
        )
    metrics["extract"] = {
        "skipped_buckets": n_buckets - len(todo),
        "processed_buckets": len(todo),
        "rows": new_rows,
        "sec": round(time.time() - t0, 3),
    }

    # explicit schema: a corpus yielding zero fact rows writes no part
    # files, and schema inference over an empty dir would throw instead
    # of flowing an empty table through the remaining stages. The
    # segment is where a fact row was appended, not what it says: it
    # stays out of the linked table, which then equals a cold run's.
    facts = spark.read.schema(_FACTS_SCHEMA).parquet(f"{out_dir}/facts").drop("seg")

    # ---- stage 2: entity linking + CC canonicalization ------------------
    t0 = time.time()
    m = manifests.read_manifest(out_dir, "link")
    if m is None or m.get("snapshot") != snapshot:
        linked, obs = counted(link_facts(facts, aliases, canonicals, "Provider"))
        linked.write.mode("overwrite").parquet(f"{out_dir}/linked")
        n = obs.get["rows"]
        manifests.commit_stage(out_dir, "link", snapshot, {"rows": n})
        metrics["link"] = {"rows": n, "sec": round(time.time() - t0, 3)}
    else:
        metrics["link"] = {"rows": m.get("rows"), "sec": 0.0, "resumed": True}

    linked = spark.read.parquet(f"{out_dir}/linked")

    # ---- stage 3: triple build (set-dedup, salted write) -----------------
    t0 = time.time()
    m = manifests.read_manifest(out_dir, "triples")
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
        # SALT_BUCKETS as the count would cap the whole write at
        # SALT_BUCKETS tasks regardless of cluster size — the salt's job
        # is only to split a hot predicate across SALT_BUCKETS distinct
        # shuffle keys; the partition count stays
        # spark.sql.shuffle.partitions (AQE-coalesced).
        triples, obs = counted(triples.repartition(
            F.col("pred"), F.pmod(F.xxhash64("subj"), F.lit(SALT_BUCKETS))
        ))
        triples.write.mode("overwrite").parquet(f"{out_dir}/triples")
        n = obs.get["rows"]
        manifests.commit_stage(
            out_dir, "triples", snapshot,
            {"rows": n, "conf": {"salt_buckets": SALT_BUCKETS}},
        )
        metrics["triples"] = {"rows": n, "sec": round(time.time() - t0, 3)}
    else:
        metrics["triples"] = {"rows": m.get("rows"), "sec": 0.0, "resumed": True}

    triples = spark.read.parquet(f"{out_dir}/triples")

    # ---- stage 4: property-graph materialize -----------------------------
    t0 = time.time()
    m = manifests.read_manifest(out_dir, "graph")
    if m is None or m.get("snapshot") != snapshot:
        nodes, nodes_obs = counted(nodes_from_triples(triples))
        edges, edges_obs = counted(edges_from_triples(triples))
        nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
        # edges partitioned by relation: the query layer always filters
        # on rel, so Catalyst prunes whole directories (the Spark analog
        # of the reference's per-relationship Neo4j indexes, A7)
        edges.write.mode("overwrite").partitionBy("rel").parquet(f"{out_dir}/edges")
        nn, ne = nodes_obs.get["rows"], edges_obs.get["rows"]
        manifests.commit_stage(out_dir, "graph", snapshot, {"nodes": nn, "edges": ne})
        metrics["graph"] = {"nodes": nn, "edges": ne, "sec": round(time.time() - t0, 3)}
    else:
        metrics["graph"] = {
            "nodes": m.get("nodes"), "edges": m.get("edges"), "sec": 0.0, "resumed": True,
        }
    return metrics
