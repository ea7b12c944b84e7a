"""End-to-end pipeline: triple P/R vs golden + idempotent resume."""

from __future__ import annotations

import glob
import json
import shutil

from pyspark.sql import functions as F

from kgspark import datagen, golden
from kgspark.plans.pipeline import run_pipeline
from kgspark.sources import manifests
from tests.conftest import triple_set


def _corpus_and_golden():
    corpus = datagen.generate_corpus(n_pages=150, seed=5)
    expected = golden.fact_rows_to_triples(corpus.fact_rows)
    return corpus, expected


def test_pipeline_end_to_end_pr(spark, tmp_path):
    corpus, expected = _corpus_and_golden()
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    out = str(tmp_path / "kg")
    metrics = run_pipeline(
        spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4
    )

    produced = triple_set(spark.read.parquet(f"{out}/triples"))
    p, r = golden.precision_recall(produced, expected)
    assert (p, r) == (1.0, 1.0), (
        f"P={p} R={r}; missing={sorted(expected - produced)[:3]}"
        f" extra={sorted(produced - expected)[:3]}"
    )
    assert metrics["extract"]["processed_buckets"] == 4

    # graph materialize sanity: every edge endpoint exists in nodes
    nodes = spark.read.parquet(f"{out}/nodes")
    edges = spark.read.parquet(f"{out}/edges")
    dangling = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select("dst"))
        .distinct()
        .join(nodes.select("id"), "id", "left_anti")
        .count()
    )
    assert dangling == 0


def test_pipeline_resume_noop_and_partial(spark, tmp_path):
    corpus, expected = _corpus_and_golden()
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4)
    first = triple_set(spark.read.parquet(f"{out}/triples"))

    # full re-run: every stage must short-circuit via its manifest
    metrics = run_pipeline(spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4)
    assert metrics["extract"]["processed_buckets"] == 0
    assert metrics["link"].get("resumed") and metrics["triples"].get("resumed")
    assert triple_set(spark.read.parquet(f"{out}/triples")) == first

    # partial resume: pretend buckets 2,3 never completed — drop their
    # parquet partitions and rewrite the manifest; downstream manifests
    # are invalidated by using a fresh snapshot id
    for b in (2, 3):
        shutil.rmtree(f"{out}/facts/bucket={b}")
    with open(f"{out}/_manifests/extract.json", encoding="utf-8") as f:
        m = json.load(f)
    m["snapshot"] = "snap-2"
    m["buckets_done"] = [0, 1]
    manifests.write_manifest(out, "extract", m)
    for stage in ("link", "triples", "graph"):
        (tmp_path / "kg" / "_manifests" / f"{stage}.json").unlink()

    metrics = run_pipeline(spark, pages, aliases, out, snapshot="snap-2", canonicals=canonicals, n_buckets=4)
    assert metrics["extract"]["processed_buckets"] == 2
    assert metrics["extract"]["skipped_buckets"] == 2
    assert triple_set(spark.read.parquet(f"{out}/triples")) == first == expected


def test_pipeline_crash_between_write_and_manifest_is_idempotent(spark, tmp_path):
    """Crash window: parquet job committed but manifest not recorded.
    The re-run must REPLACE the bucket partitions (dynamic partition
    overwrite), not append duplicates."""
    corpus, expected = _corpus_and_golden()
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4)
    n_facts = spark.read.parquet(f"{out}/facts").count()

    # simulate the crash: facts parquet is on disk, manifest is gone
    (tmp_path / "kg" / "_manifests" / "extract.json").unlink()
    for stage in ("link", "triples", "graph"):
        (tmp_path / "kg" / "_manifests" / f"{stage}.json").unlink()

    metrics = run_pipeline(spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4)
    assert metrics["extract"]["processed_buckets"] == 4  # all re-run
    assert spark.read.parquet(f"{out}/facts").count() == n_facts  # no dupes
    assert triple_set(spark.read.parquet(f"{out}/triples")) == expected


def test_new_snapshot_truncates_stale_buckets(spark, tmp_path):
    """Snapshot change = truncate-and-reload: a bucket that is empty
    under the new snapshot must NOT keep the previous snapshot's facts
    (dynamic partition overwrite alone only replaces partitions present
    in the new data)."""
    from kgspark.extract.ner import extract_facts

    corpus, _ = _corpus_and_golden()
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(
        spark, pages, aliases, out, snapshot="snap-A",
        canonicals=canonicals, n_buckets=4,
    )
    full = spark.read.parquet(f"{out}/facts").count()
    assert full > 0

    # second snapshot: a small page subset that cannot cover all 4
    # buckets — any stale S1 rows would survive in the missing buckets
    subset = pages.limit(3)
    run_pipeline(
        spark, subset, aliases, out, snapshot="snap-B",
        canonicals=canonicals, n_buckets=4,
    )
    got = spark.read.parquet(f"{out}/facts").drop("bucket").count()
    want = extract_facts(subset).count()
    assert got == want, f"stale facts leaked across snapshots: {got} != {want}"


def test_bucket_commit_keeps_summary_keys(tmp_path):
    """A commit carrying BOTH a bucket increment and stage-level summary
    fields must not silently drop the summary (TableFormat contract)."""
    from kgspark.sources.table_format import ManifestTableFormat

    fmt = ManifestTableFormat()
    out = str(tmp_path)
    fmt.commit_snapshot(
        out, "extract", "snapA", bucket_rows={0: 10, 3: 7},
        summary={"conf": {"n_buckets": 4}, "total_rows": 17},
    )
    m = fmt.read_snapshot(out, "extract")
    assert m["conf"] == {"n_buckets": 4}
    assert m["rows"] == {"0": 10, "3": 7}
    assert m["total_rows"] == 17
    # reserved keys can never be clobbered by summary passthrough
    fmt.commit_snapshot(
        out, "extract", "snapA", bucket_rows={1: 5},
        summary={"snapshot": "EVIL", "rows": "EVIL"},
    )
    m = fmt.read_snapshot(out, "extract")
    assert m["snapshot"] == "snapA"
    assert m["rows"] == {"0": 10, "3": 7, "1": 5}


def test_pipeline_release_is_scoped_and_survives_a_failing_stage(
    spark, tmp_path, monkeypatch
):
    """run_pipeline releases what it materialized even when a stage
    raises, and only that: a frame its caller materialized before the
    call stays cached."""
    import pytest

    from kgspark import runtime
    from kgspark.plans import pipeline

    def cached_rdd_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    mark = runtime.materialized_mark()
    outer = runtime.materialize(spark.range(100))
    outer.count()
    baseline = cached_rdd_ids()

    def failing_link(facts, *args, **kwargs):
        inner = runtime.materialize(facts.select("url"))
        inner.count()
        assert cached_rdd_ids() > baseline
        raise RuntimeError("link stage failed")

    monkeypatch.setattr(pipeline, "link_facts", failing_link)
    corpus = datagen.generate_corpus(n_pages=20, seed=5)
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    try:
        with pytest.raises(RuntimeError, match="link stage failed"):
            run_pipeline(
                spark, pages, aliases, str(tmp_path / "kg"), snapshot="snap-1",
                canonicals=canonicals, n_buckets=2,
            )
        assert cached_rdd_ids() == baseline
        assert outer.storageLevel.useMemory
        # the registry holds the outer frame and nothing the call made
        assert runtime.release_materialized(since=mark) == 1
    finally:
        runtime.release_materialized(since=mark)


def _rows_on_disk(spark, path):
    # an empty write partitioned by a column (edges by rel) leaves no
    # part file, so there is no schema to read back: that is 0 rows
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return 0
    return spark.read.parquet(path).count()


def _assert_counts_match_disk(spark, out, metrics):
    from kgspark.sources.table_format import DEFAULT_FORMAT

    on_disk = {
        name: _rows_on_disk(spark, f"{out}/{name}")
        for name in ("linked", "triples", "nodes", "edges")
    }
    link = DEFAULT_FORMAT.read_snapshot(out, "link")
    triples = DEFAULT_FORMAT.read_snapshot(out, "triples")
    graph = DEFAULT_FORMAT.read_snapshot(out, "graph")
    assert link["rows"] == metrics["link"]["rows"] == on_disk["linked"]
    assert triples["rows"] == metrics["triples"]["rows"] == on_disk["triples"]
    assert graph["nodes"] == metrics["graph"]["nodes"] == on_disk["nodes"]
    assert graph["edges"] == metrics["graph"]["edges"] == on_disk["edges"]
    return on_disk


def test_stage_counts_equal_written_rows(spark, tmp_path):
    """The link/triples/nodes/edges counts run_pipeline records (in its
    metrics and in each stage manifest) are the row counts on disk —
    also for a corpus that yields no fact rows, where every count must
    be 0, not missing."""
    from kgspark.extract.ner import EXTRACT_SCHEMA

    corpus, expected = _corpus_and_golden()
    pages, aliases, canonicals = datagen.corpus_to_spark(spark, corpus)
    out = str(tmp_path / "kg")
    metrics = run_pipeline(
        spark, pages, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4
    )
    on_disk = _assert_counts_match_disk(spark, out, metrics)
    assert on_disk["triples"] == len(expected)

    factless = pages.withColumn("html", F.lit(None).cast("string")).withColumn(
        "text", F.lit("No facts on this page.")
    )
    out = str(tmp_path / "kg_empty")
    metrics = run_pipeline(
        spark, factless, aliases, out, snapshot="snap-1", canonicals=canonicals, n_buckets=4
    )
    assert spark.read.schema(EXTRACT_SCHEMA).parquet(f"{out}/facts").count() == 0
    on_disk = _assert_counts_match_disk(spark, out, metrics)
    assert on_disk == {"linked": 0, "triples": 0, "nodes": 0, "edges": 0}
