"""Incremental (AvailableNow) ingestion: drain, resume, no double-count.

The incremental KG stage is checked three ways: two drains equal the
one-shot batch build; a drain stays within a Spark-job budget and leaves
exactly the documented state tables; a replayed drain changes nothing.
"""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from kgspark import datagen
from kgspark.extract.ner import extract_facts
from kgspark.streaming.incremental import (
    incremental_kg,
    incremental_link_triples,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import spark_jobs  # noqa: E402


def test_windowed_counts_watermark_drops_late(spark, tmp_path):
    """withWatermark + window agg in append mode: a window is emitted
    exactly once (when the watermark passes its end), and a row arriving
    after the watermark has passed its window is dropped."""
    import datetime as dt

    from kgspark.streaming.incremental import incremental_host_counts

    src = str(tmp_path / "pages")
    out = str(tmp_path / "win")

    def page(url, hh, mm):
        return (
            url,
            dt.datetime(2024, 3, 1, hh, mm),
            b"<html></html>",
            "text",
            "en",
        )

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    # Drain 1: three pages for host-a and one for host-b in [10:00,11:00),
    # plus a 13:00 sentinel that advances the watermark to 12:00 at
    # batch end. Nothing is emitted yet (watermark was 0 at batch start).
    batch1 = spark.createDataFrame(
        [
            page("https://a.example/p1", 10, 0),
            page("https://a.example/p2", 10, 20),
            page("https://a.example/p3", 10, 40),
            page("https://b.example/p1", 10, 30),
            page("https://a.example/late-anchor", 13, 0),
        ],
        schema=schema,
    )
    batch1.write.mode("append").parquet(src)
    assert incremental_host_counts(spark, src, out) >= 1

    # Drain 2: one LATE row for host-a at 10:30 (behind the 12:00
    # watermark → dropped) plus a 15:00 row. The [10:00,11:00) windows
    # finalize this batch — with the late row excluded.
    batch2 = spark.createDataFrame(
        [page("https://a.example/too-late", 10, 30), page("https://b.example/p2", 15, 0)],
        schema=schema,
    )
    batch2.write.mode("append").parquet(src)
    assert incremental_host_counts(spark, src, out) >= 1

    got = {
        (r["host"], r["win_start"].hour): r["n_events"]
        for r in spark.read.parquet(f"{out}/host_counts").collect()
    }
    assert got[("a.example", 10)] == 3  # late 10:30 row NOT counted
    assert got[("b.example", 10)] == 1
    # each finalized window appears exactly once in the append sink
    rows = spark.read.parquet(f"{out}/host_counts").collect()
    assert len(rows) == len({(r["host"], r["win_start"]) for r in rows})


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState exact dedup: duplicates dropped within a
    drain AND across drains (state survives via the checkpoint)."""
    from kgspark.streaming.incremental import incremental_dedup

    corpus = datagen.generate_corpus(n_pages=40, seed=33)
    pages, _, _ = datagen.corpus_to_spark(spark, corpus)
    src = str(tmp_path / "pages")
    out = str(tmp_path / "dedup")

    # first drain: originals + exact duplicates under different urls
    dups = pages.limit(10).withColumn("url", F.concat(F.col("url"), F.lit("?dup")))
    pages.unionByName(dups).write.mode("append").parquet(src)
    assert incremental_dedup(spark, src, out) >= 1
    keep1 = spark.read.parquet(f"{out}/keep")
    n_distinct = keep1.select("fingerprint").distinct().count()
    assert keep1.count() == n_distinct == 40  # dups collapsed in-batch

    # second drain: re-send 10 more duplicates of already-seen content —
    # cross-batch state drops ALL of them
    dups2 = pages.limit(10).withColumn("url", F.concat(F.col("url"), F.lit("?dup2")))
    dups2.write.mode("append").parquet(src)
    incremental_dedup(spark, src, out)
    keep2 = spark.read.parquet(f"{out}/keep")
    assert keep2.count() == 40
    assert keep2.select("fingerprint").distinct().count() == 40


def test_incremental_kg_two_drains_equals_one_shot_batch(spark, tmp_path):
    """Incremental link/canonicalize/triple-merge: after draining the
    corpus in two halves, the persisted triples table and mention map
    are BIT-IDENTICAL to the one-shot batch pipeline over everything
    (the associative-merge guarantee of rdf_build.merge_triple_state +
    linking.resolve_mapping)."""
    from kgspark.extract.ner import extract_facts
    from kgspark.operators.linking import link_facts
    from kgspark.operators.rdf_build import build_triples
    from kgspark.streaming.incremental import incremental_kg

    corpus = datagen.generate_corpus(n_pages=80, seed=33)
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    src = str(tmp_path / "webpages")
    out = str(tmp_path / "out")

    half1 = pages.filter(F.col("url").rlike("/page/[0-3][0-9]$|/page/[0-9]$"))
    half2 = pages.join(half1.select("url"), "url", "left_anti")
    assert half1.count() > 0 and half2.count() > 0

    half1.write.mode("append").parquet(src)
    assert incremental_kg(spark, src, out, aliases, canonicals) >= 1
    mid_triples = spark.read.parquet(f"{out}/kg/triples").count()
    assert mid_triples > 0

    half2.write.mode("append").parquet(src)
    assert incremental_kg(spark, src, out, aliases, canonicals) >= 1

    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/kg/triples").collect()
    }

    facts = extract_facts(pages)
    linked = link_facts(facts, aliases, canonicals)
    ordered = linked.withColumn("row_idx", F.struct("warc_ts", "url", "sent_idx"))
    want = {tuple(r) for r in build_triples(ordered, order_col="row_idx").collect()}
    assert got == want

    # mention map covers exactly the distinct mentions, maps like batch
    from kgspark.operators.linking import resolve_mapping

    inc_map = {
        (r.name, r.canonical_id)
        for r in spark.read.parquet(f"{out}/kg/mention_map").collect()
    }
    batch_map = {
        (r.name, r.canonical_id)
        for r in resolve_mapping(
            facts.select(F.col("Provider").alias("name")).distinct(),
            aliases,
            canonicals,
        ).collect()
    }
    assert inc_map == batch_map

    # a third drain with no new files must not change the state
    assert incremental_kg(spark, src, out, aliases, canonicals) == 0
    again = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/kg/triples").collect()
    }
    assert again == got


@pytest.fixture(scope="module")
def half_facts(spark, tmp_path_factory):
    """Fact rows of the two halves of the two-drains test's corpus,
    extracted once and read back from parquet, so a drain's job count
    holds only the drain's own work."""
    pages, aliases, canonicals = datagen.corpus_to_spark(
        spark, datagen.generate_corpus(n_pages=80, seed=33)
    )
    half1 = pages.filter(F.col("url").rlike("/page/[0-3][0-9]$|/page/[0-9]$"))
    facts = []
    for i, half in enumerate([half1, pages.join(half1.select("url"), "url", "left_anti")]):
        path = str(tmp_path_factory.mktemp("facts") / str(i))
        extract_facts(half).withColumn(
            "row_idx", F.struct("warc_ts", "url", "sent_idx")
        ).write.parquet(path)
        facts.append(spark.read.parquet(path))
    return facts, aliases, canonicals


# Spark jobs of one incremental_link_triples call on the two halves
# (13 and 19 measured on local[4])
_DRAIN_JOBS = (15, 21)


def test_link_triples_drain_jobs_and_state_layout(spark, tmp_path, half_facts):
    facts, aliases, canonicals = half_facts
    state = str(tmp_path / "kg")
    for drain, budget in zip(facts, _DRAIN_JOBS):
        with spark_jobs(spark) as jobs:
            out = incremental_link_triples(spark, drain, state, aliases, canonicals)
        assert jobs[0] <= budget, (jobs[0], budget)
        assert out["n_triples"] == spark.read.parquet(f"{state}/triples").count()
    assert sorted(os.listdir(state)) == ["_manifests", "mention_map", "triple_state", "triples"]


def test_link_triples_replayed_drain_changes_nothing(spark, tmp_path, half_facts):
    """A drain replayed after a crash (its offsets never committed)
    re-merges facts the state already holds; the state must not move."""
    facts, aliases, canonicals = half_facts
    state = str(tmp_path / "kg")
    for drain in facts:
        incremental_link_triples(spark, drain, state, aliases, canonicals)

    def tables():
        return {
            t: sorted(map(repr, spark.read.parquet(f"{state}/{t}").collect()))
            for t in ("triple_state", "triples", "mention_map")
        }

    before = tables()
    out = incremental_link_triples(spark, facts[1], state, aliases, canonicals)
    assert tables() == before
    assert out["n_triples"] == len(before["triples"])


def test_old_state_layout_is_refused(spark, tmp_path):
    """A state directory in the earlier layout (``set_triples`` and
    ``attr_state``, no ``triple_state``) is refused before anything is
    written: its checkpoint marks the earlier page files as done, so a
    drain from an empty triple state would lose their triples."""
    pages, aliases, canonicals = datagen.corpus_to_spark(
        spark, datagen.generate_corpus(n_pages=4, seed=1)
    )
    src, out = str(tmp_path / "webpages"), tmp_path / "out"
    state = out / "kg"
    pages.write.parquet(src)
    stub = spark.createDataFrame([("s", "p")], "subj string, pred string")
    for table in ("set_triples", "attr_state"):
        stub.write.parquet(str(state / table))
    facts = extract_facts(pages).withColumn("row_idx", F.col("sent_idx"))

    with pytest.raises(ValueError, match=re.escape(str(state))):
        incremental_link_triples(spark, facts, str(state), aliases, canonicals)
    with pytest.raises(ValueError, match=re.escape(str(state))):
        incremental_kg(spark, src, str(out), aliases, canonicals)
    assert sorted(os.listdir(state)) == ["attr_state", "set_triples"]
    assert sorted(os.listdir(out)) == ["kg"]


def test_state_swap_recovers_from_interrupted_overwrite(spark, tmp_path):
    """_overwrite_parquet + _read_or_none: a swap killed between the
    rename-aside and the rename-in must leave the previous state
    recoverable, never nothing."""
    import os

    from kgspark.streaming.incremental import _overwrite_parquet, _read_or_none

    path = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    _overwrite_parquet(df1, path)
    assert {r.id for r in _read_or_none(spark, path).collect()} == {1, 2}

    # simulate the crash window: current state renamed aside, new state
    # never renamed in
    os.rename(path, path + "__old")
    assert not os.path.isdir(path)
    recovered = _read_or_none(spark, path)
    assert recovered is not None
    assert {r.id for r in recovered.collect()} == {1, 2}
    assert os.path.isdir(path)  # restored in place

    # a subsequent normal swap still works
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    _overwrite_parquet(df2, path)
    assert {r.id for r in _read_or_none(spark, path).collect()} == {3}
