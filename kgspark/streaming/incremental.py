"""Incremental (streaming) ingestion of the web-page table.

The reference has NO streaming surface (SURVEY.md §2: verified — no
watermarks/windows/state anywhere in /root/reference). What the
north_rule *does* require is idempotent resumability; this module is
the Structured-Streaming expression of the same contract:

    readStream(parquet dir) → Trigger.AvailableNow → foreachBatch:
        extract facts → append to the facts table, recording the batch
        in the same manifest layer the batch pipeline reads.

``availableNow`` drains whatever files exist and stops, so repeated
invocations pick up only NEW files (checkpointed source offsets) —
the streaming twin of the batch pipeline's bucket-level resume. The
downstream stages (link → triples → graph) are then run by the batch
pipeline on the refreshed facts table; they are snapshot-keyed, so a
new snapshot id triggers their rebuild.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.datagen import WEBPAGE_SCHEMA
from kgspark.extract.ner import extract_facts
from kgspark.plans.pipeline import bucket_col
from kgspark.sources.table_format import DEFAULT_FORMAT


def incremental_extract(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain all currently-available page files into the facts table.

    Returns the number of micro-batches processed. Safe to call
    repeatedly; source offsets live in ``{out_dir}/_checkpoints``.
    """
    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 64)
        .parquet(webpages_dir)
    )

    batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        facts = extract_facts(
            batch_df.select("url", "warc_ts", "html", "text", "lang")
        ).withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        # batch-keyed dynamic overwrite, NOT append: offsets commit only
        # after this function returns, so a crash in between replays the
        # batch — an append would duplicate its rows, a rewrite of the
        # same batch=<id> partitions is a no-op
        (
            facts.withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "bucket")
            .parquet(f"{out_dir}/facts")
        )
        DEFAULT_FORMAT.commit_snapshot(
            out_dir,
            "stream_extract",
            "streaming",
            # batch ledger; bucket-granular counts live in batch mode
            bucket_rows={-1: batch_id},
            summary={"conf": {"n_buckets": n_buckets, "last_batch_id": batch_id}},
        )
        batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoints/extract")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def streaming_exact_dedup(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    html_col: str | None = "html",
) -> DataFrame:
    """Stateful cross-batch exact dedup for a streaming page source.

    ``applyInPandasWithState`` keyed by the content fingerprint: the
    first arrival of each fingerprint passes through, every later
    arrival (same batch or any later batch — state is checkpointed)
    is dropped. This is the streaming twin of ``dedup.exact_dedup``:
    the keep-row choice is arrival order (streaming has no global
    min-id), which is the semantics an ingest pipeline wants.

    State per key is one boolean — at 10^12 docs the state store holds
    one entry per DISTINCT content, uniformly hash-partitioned by the
    fingerprint, and never rescans history.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # content key: pre-extracted text when present, else the raw html
    # bytes (only if the frame has that column), else the id itself —
    # never a shared null/'' bucket. Emptiness is checked on the
    # NORMALIZED value: a whitespace-only text (or empty-string html)
    # normalizes to '' and must fall through to the next candidate, not
    # collapse every such page into one md5('') bucket.
    from kgspark.operators.dedup import normalize_text_col

    def norm_fp(col):
        return F.md5(
            F.nullif(normalize_text_col(col), F.lit("")).cast("binary")
        )

    parts = [norm_fp(F.col(text_col))]
    if html_col and html_col in pages.columns:
        parts.append(norm_fp(F.col(html_col).cast("string")))
    parts.append(F.concat(F.lit("doc#"), F.col(id_col).cast("string")))
    src = pages.select(
        F.coalesce(*parts).alias("fingerprint"),
        F.col(id_col).alias("doc_ref"),
    )

    def keep_first(key, batches, state: "GroupState"):
        import pandas as pd

        if state.exists:
            # fingerprint already seen in an earlier batch: drop all
            for _ in batches:
                pass
            return
        first = None
        for pdf in batches:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        state.update((True,))
        if first is not None:
            yield pd.DataFrame(
                {"fingerprint": [key[0]], "doc_ref": [first["doc_ref"].iloc[0]]}
            )

    return src.groupBy("fingerprint").applyInPandasWithState(
        keep_first,
        outputStructType="fingerprint string, doc_ref string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    window_dur: str = "1 hour",
    watermark: str = "1 hour",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Event-time tumbling-window counts per key, watermark-bounded.

    The one brief-required streaming shape the module lacked:
    ``withWatermark`` + ``F.window`` grouped aggregation. Late rows
    (event time older than ``max(event time) - watermark``) are
    dropped before aggregation; in append mode a window is emitted
    exactly once, when the watermark passes its end — so downstream
    sinks see each finalized window a single time.

    Works identically on a batch frame (watermark is a no-op there,
    every window is "final"), which is what lets the DuckDB
    ``time_bucket`` oracle check the aggregation semantics while the
    streaming test checks the watermark semantics.

    State at 10^12 docs: one row per (open window × key), hash-
    partitioned by the group key; the watermark bounds open windows to
    ``watermark/window_dur + 1`` per key, so state size is O(keys),
    never O(events).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_dur).alias("win"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"), *(extra_aggs or []))
        .withColumn("win_start", F.col("win.start"))
        .drop("win")
    )


def url_host_col(url: Column) -> Column:
    """scheme://HOST/... → host (the north_rule's skew/partition key)."""
    return F.parse_url(url, F.lit("HOST"))


def incremental_host_counts(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
    window_dur: str = "1 hour",
    watermark: str = "1 hour",
) -> int:
    """Drain available page files into per-(hour, url-host) ingest
    counts. Append mode: each finalized window lands in the parquet
    sink exactly once; rows later than the checkpointed watermark are
    dropped. Returns micro-batches processed this invocation."""
    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(webpages_dir)
    )
    counts = windowed_counts(
        stream.select(
            F.col("warc_ts"), url_host_col(F.col("url")).alias("host")
        ),
        "warc_ts",
        "host",
        window_dur,
        watermark,
    )
    batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch-keyed dynamic overwrite: replaying a crashed batch
        # rewrites its own partition instead of appending a duplicate
        # copy of its finalized windows
        (
            batch_df.withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(f"{out_dir}/host_counts")
        )
        batches["n"] += 1

    q = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{out_dir}/_checkpoints/host_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def incremental_dedup(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
) -> int:
    """Drain available page files through the stateful dedup into a
    keep-list table; state (and source offsets) live in the checkpoint,
    so re-invocations dedup against everything already seen."""
    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(webpages_dir)
    )
    deduped = streaming_exact_dedup(stream)
    batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch-keyed dynamic overwrite — replay-idempotent (see
        # incremental_extract's sink)
        (
            batch_df.withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(f"{out_dir}/keep")
        )
        batches["n"] += 1

    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoints/dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


# --------------------------------------------------------------------------
# Incremental link + canonicalize + triple-merge (stages 2-3 of the
# batch pipeline, maintained across micro-batches)
# --------------------------------------------------------------------------

def _overwrite_parquet(df: DataFrame, path: str) -> None:
    """Crash-safe state-table swap for local FS.

    Order: materialize to ``path__tmp`` (current state stays readable
    during the write) → rename current aside to ``path__old`` → rename
    tmp in → delete old. A kill at ANY point leaves either the new
    state at ``path`` or the previous state recoverable from
    ``path__old`` (``_read_or_none`` restores it), never nothing —
    and since streaming offsets only commit after the batch function
    returns, a lost in-flight merge is simply replayed, which the
    set-union / min-reduce / anti-join merges absorb idempotently.
    On cloud storage these state tables are Iceberg/Delta MERGE
    targets and the table format provides the snapshot swap instead.
    """
    import os
    import shutil

    tmp = path.rstrip("/") + "__tmp"
    old = path.rstrip("/") + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    import os

    if not os.path.isdir(path):
        # recover from a swap interrupted between rename-aside and
        # rename-in: the previous state is intact under __old
        old = path.rstrip("/") + "__old"
        if os.path.isdir(old):
            os.rename(old, path)
        else:
            return None
    return spark.read.parquet(path)


def merge_mention_map(
    spark: SparkSession,
    new_mentions: DataFrame,
    map_path: str,
    aliases: DataFrame,
    canonicals: DataFrame,
) -> DataFrame:
    """Fold never-before-seen mentions into the persisted
    ``(name, canonical_id)`` map; returns the merged map.

    Only NEW distinct mentions are resolved (anti-join against the
    existing map) — the incremental same-as merge. Correct because
    resolution is per-mention independent given (aliases, canonicals)
    (see linking.resolve_mapping): the union of incrementally-resolved
    maps is bit-identical to resolving everything at once.
    """
    from kgspark.operators.linking import resolve_mapping

    existing = _read_or_none(spark, map_path)
    if existing is None:
        merged = resolve_mapping(new_mentions.distinct(), aliases, canonicals)
    else:
        todo = new_mentions.distinct().join(
            existing.select("name"), "name", "left_anti"
        )
        # a drain with no new surface forms costs one anti-join only
        if todo.isEmpty():
            return existing
        merged = existing.unionByName(
            resolve_mapping(todo, aliases, canonicals)
        )
    _overwrite_parquet(merged, map_path)
    return spark.read.parquet(map_path)


def incremental_link_triples(
    spark: SparkSession,
    new_facts: DataFrame,
    state_dir: str,
    aliases: DataFrame,
    canonicals: DataFrame,
    name_col: str = "Provider",
    order_col: str = "row_idx",
) -> dict:
    """Fold a micro-batch of fact rows into the persisted KG state.

    State tables under ``state_dir`` (all bit-identical at every drain
    to a one-shot batch run over all facts seen so far — asserted by
    tests/test_streaming.py):

    - ``mention_map``  (name, canonical_id) — grows by new mentions only
    - ``set_triples``  set-semantics triples, merged by set union
    - ``attr_state``   first-wins candidates min-reduced per (uri, attr)
                       WITH their order keys, so re-reducing the union
                       of old state and new candidates is exact global
                       first-wins (associativity of min(struct))
    - ``triples``      the materialized final triple table

    Scale shape: each merge shuffles on the state key it is already
    reduced by (triple columns / (uri, attr)); new-batch data is the
    small side. At 10^12 docs the state tables are Iceberg MERGE
    targets and this function is the MERGE statement per state table.
    """
    from kgspark.operators.linking import apply_mention_map
    from kgspark.operators.rdf_build import (
        TRIPLE_COLUMNS,
        attr_state_to_triples,
        reduce_attr_state,
        triple_parts,
    )

    assert order_col in new_facts.columns, f"facts need an {order_col} column"

    mention_map = merge_mention_map(
        spark,
        new_facts.select(F.col(name_col).alias("name")),
        f"{state_dir}/mention_map",
        aliases,
        canonicals,
    )
    linked = apply_mention_map(new_facts, mention_map, name_col)

    set_stream, attr_cands = triple_parts(linked, order_col)
    new_sets = set_stream.drop("src_doc").dropDuplicates(TRIPLE_COLUMNS)
    old_sets = _read_or_none(spark, f"{state_dir}/set_triples")
    merged_sets = (
        new_sets if old_sets is None
        else old_sets.unionByName(new_sets).dropDuplicates(TRIPLE_COLUMNS)
    )
    _overwrite_parquet(merged_sets, f"{state_dir}/set_triples")

    # flatten the winner struct so old state unions cleanly with new
    # candidate rows before the (associative) re-reduce; single helper
    # so the column set can never diverge between the two merge sites
    def _flatten_attr_state(reduced: DataFrame) -> DataFrame:
        return reduced.select(
            "uri", "attr",
            F.col("w.o1").alias("o1"), F.col("w.o2").alias("o2"),
            F.col("w.v").alias("v"), F.col("w.p").alias("p"),
        )

    new_attr = _flatten_attr_state(reduce_attr_state(attr_cands))
    old_attr = _read_or_none(spark, f"{state_dir}/attr_state")
    merged_attr = (
        new_attr if old_attr is None
        else _flatten_attr_state(
            reduce_attr_state(old_attr.unionByName(new_attr))
        )
    )
    _overwrite_parquet(merged_attr, f"{state_dir}/attr_state")

    sets = spark.read.parquet(f"{state_dir}/set_triples")
    attrs = attr_state_to_triples(
        spark.read.parquet(f"{state_dir}/attr_state").select(
            "uri", "attr", F.struct("o1", "o2", "v", "p").alias("w")
        )
    ).drop("src_doc")
    triples = sets.unionByName(attrs).dropDuplicates(TRIPLE_COLUMNS)
    _overwrite_parquet(triples, f"{state_dir}/triples")

    n_triples = spark.read.parquet(f"{state_dir}/triples").count()
    DEFAULT_FORMAT.commit_snapshot(
        state_dir,
        "stream_link_triples",
        "streaming",
        bucket_rows={-1: n_triples},
        summary={"conf": {"n_triples": n_triples}},
    )
    return {"n_triples": n_triples}


def incremental_kg(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
    aliases: DataFrame,
    canonicals: DataFrame,
) -> int:
    """Full incremental pipeline: drain available page files through
    extract → incremental link/canonicalize → incremental triple merge.
    After every drain, ``{out_dir}/kg/triples`` equals the one-shot
    batch pipeline's triples over all pages seen so far, bit-identical.
    Returns micro-batches processed this invocation."""
    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(webpages_dir)
    )
    batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        facts = extract_facts(
            batch_df.select("url", "warc_ts", "html", "text", "lang")
        ).withColumn("row_idx", F.struct("warc_ts", "url", "sent_idx"))
        incremental_link_triples(
            spark, facts, f"{out_dir}/kg", aliases, canonicals
        )
        batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoints/kg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]
