"""Incremental (streaming) ingestion of the web-page table.

The reference has NO streaming surface (SURVEY.md §2: verified — no
watermarks/windows/state anywhere in /root/reference). What the
north_rule *does* require is idempotent resumability; this module is
the Structured-Streaming expression of the same contract. Each driver
is one ``_drain``: readStream(parquet dir) → Trigger.AvailableNow →
foreachBatch(sink). ``availableNow`` drains whatever files exist and
stops, so repeated invocations pick up only NEW files (checkpointed
source offsets) — the streaming twin of the batch pipeline's
bucket-level resume.

``incremental_kg`` runs extract → link → triples per micro-batch and
folds them into persisted state (``incremental_link_triples``), so
after every drain its triples table equals the batch pipeline's over
all pages seen so far. It stops at triples: nodes and edges are built
by the batch pipeline only.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.datagen import WEBPAGE_SCHEMA
from kgspark.extract.ner import extract_facts
from kgspark.operators.linking import apply_mention_map, resolve_mapping
from kgspark.operators.rdf_build import finalize_triples, merge_triple_state, triple_state
from kgspark.plans.pipeline import bucket_col, counted
from kgspark.sources.table_format import DEFAULT_FORMAT


def _drain(spark: SparkSession, webpages_dir: str, checkpoint: str,
           sink: Callable[[DataFrame, int], None],
           plan: Callable[[DataFrame], DataFrame] = lambda stream: stream) -> int:
    """Drain the page files under ``webpages_dir`` that ``checkpoint``
    has not seen: stream them through ``plan`` and call ``sink(batch_df,
    batch_id)`` per micro-batch. Returns the number of micro-batches."""
    stream = (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(webpages_dir)
    )
    n = [0]

    def counted_sink(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)
        n[0] += 1

    (
        plan(stream).writeStream.foreachBatch(counted_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return n[0]


def _write_batch(df: DataFrame, batch_id: int, path: str, *partition_cols: str) -> None:
    """Write one micro-batch's rows under ``path/batch=<batch_id>``.

    Batch-keyed dynamic overwrite, NOT append: offsets commit only
    after the foreachBatch function returns, so a crash in between
    replays the batch — an append would duplicate its rows, a rewrite
    of the same ``batch=<id>`` partitions is a no-op.
    """
    (
        df.withColumn("batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", *partition_cols)
        .parquet(path)
    )


def incremental_extract(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
    n_buckets: int = 16,
) -> int:
    """Drain all currently-available page files into the facts table.

    Returns the number of micro-batches processed. Safe to call
    repeatedly; source offsets live in ``{out_dir}/_checkpoints``.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        facts = extract_facts(batch_df).withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        _write_batch(facts, batch_id, f"{out_dir}/facts", "bucket")
        DEFAULT_FORMAT.commit_snapshot(
            out_dir,
            "stream_extract",
            "streaming",
            # batch ledger; bucket-granular counts live in batch mode
            bucket_rows={-1: batch_id},
            summary={"conf": {"n_buckets": n_buckets, "last_batch_id": batch_id}},
        )

    return _drain(spark, webpages_dir, f"{out_dir}/_checkpoints/extract", sink)


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
    return _drain(
        spark, webpages_dir, f"{out_dir}/_checkpoints/host_counts",
        lambda df, batch_id: _write_batch(df, batch_id, f"{out_dir}/host_counts"),
        lambda stream: windowed_counts(
            stream.select("warc_ts", url_host_col(F.col("url")).alias("host")),
            "warc_ts", "host", window_dur, watermark,
        ),
    )


def incremental_dedup(
    spark: SparkSession,
    webpages_dir: str,
    out_dir: str,
) -> int:
    """Drain available page files through the stateful dedup into a
    keep-list table; state (and source offsets) live in the checkpoint,
    so re-invocations dedup against everything already seen."""
    return _drain(
        spark, webpages_dir, f"{out_dir}/_checkpoints/dedup",
        lambda df, batch_id: _write_batch(df, batch_id, f"{out_dir}/keep"),
        streaming_exact_dedup,
    )


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
    min-reduce / anti-join merges absorb idempotently.
    On cloud storage these state tables are Iceberg/Delta MERGE
    targets and the table format provides the snapshot swap instead.
    """
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


def _refuse_old_layout(state_dir: str) -> None:
    """Raise before anything is written into a state directory of the
    earlier ``set_triples`` + ``attr_state`` layout: its checkpoint marks
    the earlier files done, so a fresh ``triple_state`` beside it would
    drop their triples without an error."""
    old = [t for t in ("set_triples", "attr_state") if os.path.isdir(f"{state_dir}/{t}")]
    if old:
        raise ValueError(
            f"state directory {state_dir} has the old triple-state layout"
            f" ({', '.join(old)}); rebuild it from the page files in a new one"
        )


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

    - ``mention_map``   (name, canonical_id) — grows by new mentions only
    - ``triple_state``  rdf_build's reduced triple state, merged with the
                        new facts' state by ``merge_triple_state``
                        (``min(w)`` per triple key: associative, and a
                        replayed drain changes nothing)
    - ``triples``       ``finalize_triples`` of the merged state; the
                        write's row count goes to the ``_manifests`` ledger

    Scale shape: the merge shuffles on the state key it is already
    reduced by; new-batch data is the small side. At 10^12 docs the
    state table is an Iceberg MERGE target and this function is its
    MERGE statement.
    """
    _refuse_old_layout(state_dir)

    mention_map = merge_mention_map(
        spark,
        new_facts.select(F.col(name_col).alias("name")),
        f"{state_dir}/mention_map",
        aliases,
        canonicals,
    )
    linked = apply_mention_map(new_facts, mention_map, name_col)

    state_path = f"{state_dir}/triple_state"
    new_state = triple_state(linked, order_col)
    old_state = _read_or_none(spark, state_path)
    _overwrite_parquet(
        new_state if old_state is None else merge_triple_state([old_state, new_state]),
        state_path,
    )

    triples, obs = counted(finalize_triples(spark.read.parquet(state_path)))
    _overwrite_parquet(triples, f"{state_dir}/triples")
    n_triples = obs.get["rows"]
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
    _refuse_old_layout(f"{out_dir}/kg")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        facts = extract_facts(batch_df).withColumn(
            "row_idx", F.struct("warc_ts", "url", "sent_idx")
        )
        incremental_link_triples(
            spark, facts, f"{out_dir}/kg", aliases, canonicals
        )

    return _drain(spark, webpages_dir, f"{out_dir}/_checkpoints/kg", sink)
