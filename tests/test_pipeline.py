"""End-to-end pipeline: triple P/R vs golden, idempotent resume, and
append snapshots equal to a cold run over the whole file set."""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kgspark import datagen, golden
from kgspark.extract.ner import extract_facts
from kgspark.plans.pipeline import bucket_col, run_pipeline
from kgspark.sources import manifests
from tests.conftest import triple_set
from tools.plan_build_cost import spark_jobs


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
    fields must not silently drop the summary (manifests contract)."""
    out = str(tmp_path)
    manifests.record_buckets(
        out, "extract", "snapA", {0: 10, 3: 7},
        conf={"n_buckets": 4}, extra={"total_rows": 17},
    )
    m = manifests.read_manifest(out, "extract")
    assert m["conf"] == {"n_buckets": 4}
    assert m["rows"] == {"0": 10, "3": 7}
    assert m["total_rows"] == 17
    # reserved keys can never be clobbered by summary passthrough
    manifests.record_buckets(
        out, "extract", "snapA", {1: 5},
        extra={"snapshot": "EVIL", "rows": "EVIL"},
    )
    m = manifests.read_manifest(out, "extract")
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
    on_disk = {
        name: _rows_on_disk(spark, f"{out}/{name}")
        for name in ("linked", "triples", "nodes", "edges")
    }
    link = manifests.read_manifest(out, "link")
    triples = manifests.read_manifest(out, "triples")
    graph = manifests.read_manifest(out, "graph")
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


# ---- append snapshots --------------------------------------------------

_TABLES = ("triples", "nodes", "edges")


@pytest.fixture(scope="module")
def halves(spark, tmp_path_factory):
    """The two-half datagen corpus as parquet. Pages 0-39 (A) are one
    directory; pages 40-79 (B) another, written as two files: page 40
    alone (B1) and the rest. A snapshot is the frame read over A, or
    over A and B's files."""
    pages, aliases, canonicals = datagen.corpus_to_spark(
        spark, datagen.generate_corpus(n_pages=80, seed=33)
    )
    page_no = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")
    root = tmp_path_factory.mktemp("webpages")
    a, b = str(root / "a"), str(root / "b")
    pages.filter(page_no < 40).repartition(2).write.parquet(a)
    pages.filter(page_no == 40).coalesce(1).write.parquet(b)
    b1 = spark.read.parquet(b).inputFiles()
    pages.filter(page_no > 40).coalesce(1).write.mode("append").parquet(b)
    return {"a": a, "b": b, "b1": b1, "aliases": aliases, "canonicals": canonicals}


def _run(spark, halves, out, snapshot, *paths):
    return run_pipeline(
        spark, spark.read.parquet(*paths), halves["aliases"], out, snapshot,
        canonicals=halves["canonicals"], n_buckets=4,
    )


def _rows(spark, path, drop=()):
    return Counter(map(repr, spark.read.parquet(path).drop(*drop).collect()))


def _manifests(out):
    return {s: manifests.read_manifest(out, s) for s in ("extract", "link", "triples", "graph")}


@pytest.fixture(scope="module")
def appended(spark, halves, tmp_path_factory):
    """A cold run on A then an append run on A∪B, and a cold run on A∪B;
    the append run's metrics and each run's Spark jobs."""
    root = tmp_path_factory.mktemp("append")
    app, cold = str(root / "app"), str(root / "cold")
    metrics, jobs = [], []
    for out, snapshot, paths in (
        (app, "A", [halves["a"]]),
        (app, "AB", [halves["a"], halves["b"]]),
        (cold, "AB", [halves["a"], halves["b"]]),
    ):
        with spark_jobs(spark) as n:
            metrics.append(_run(spark, halves, out, snapshot, *paths))
        jobs.append(n[0])
    return app, cold, metrics[1], jobs


def test_append_run_equals_cold_run(spark, halves, appended):
    app, cold, metrics, _ = appended
    for t in _TABLES:
        assert sorted(map(repr, spark.read.parquet(f"{app}/{t}").collect())) == sorted(
            map(repr, spark.read.parquet(f"{cold}/{t}").collect())
        ), t
    for t in ("facts", "linked"):
        assert _rows(spark, f"{app}/{t}", ["seg"]) == _rows(spark, f"{cold}/{t}", ["seg"]), t
    got, want = _manifests(app), _manifests(cold)
    assert {s: sorted(m) for s, m in got.items()} == {s: sorted(m) for s, m in want.items()}
    assert got["extract"]["rows"] == want["extract"]["rows"]

    # extract read only B's pages: its write observed B's facts alone,
    # into segment 1 beside A's segment 0
    b_pages = spark.read.parquet(halves["b"])
    assert metrics["extract"]["rows"] == extract_facts(b_pages).count() > 0
    segs = spark.read.parquet(f"{app}/facts").groupBy("seg").count()
    assert {r.seg: r["count"] for r in segs.collect()} == {
        0: extract_facts(spark.read.parquet(halves["a"])).count(),
        1: metrics["extract"]["rows"],
    }
    a_files, all_files = (
        sorted(spark.read.parquet(*p).inputFiles())
        for p in ([halves["a"]], [halves["a"], halves["b"]])
    )
    assert [len(s) for s in got["extract"]["files"]] == [len(a_files), len(all_files) - len(a_files)]
    assert want["extract"]["files"] == [sorted(f.replace("file:///", "file:/") for f in all_files)]


# Spark jobs of a run_pipeline call on these halves (20 measured on
# local[4], cold or append; the append extracts fewer pages, not fewer
# stages)
_RUN_JOBS = 20


def test_append_run_job_budget_and_layout(spark, appended):
    """The append run costs no more Spark jobs than a cold run, and its
    facts sit in ``bucket=*/seg=*`` partitions: A's in segment 0, B's in
    segment 1, where the cold run has segment 0 only."""
    app, cold, _, jobs = appended
    assert max(jobs) <= _RUN_JOBS, jobs
    assert jobs[1] <= jobs[2], jobs

    def layout(out):
        return {
            os.path.relpath(d, f"{out}/facts").split(os.sep)[1]
            for d in glob.glob(f"{out}/facts/bucket=*/seg=*")
        }

    assert layout(app) == {"seg=0", "seg=1"}
    assert layout(cold) == {"seg=0"}


def test_replayed_append_changes_nothing(spark, halves, appended):
    app = appended[0]
    before = {t: _rows(spark, f"{app}/{t}") for t in ("facts", "linked") + _TABLES}
    metrics = _run(spark, halves, app, "AB", halves["a"], halves["b"])
    assert metrics["extract"]["processed_buckets"] == 0
    assert all(metrics[s].get("resumed") for s in ("link", "triples", "graph"))
    assert {t: _rows(spark, f"{app}/{t}") for t in before} == before


def test_append_crash_before_manifest_is_idempotent(spark, halves, appended, tmp_path, monkeypatch):
    """A crash between the append's facts write and its manifest: the
    re-run rewrites the same segment, and every table equals a clean
    append's. A re-run that appends fewer files than the crashed one
    keeps none of the crashed attempt's rows."""
    def crash(*args, **kwargs):
        raise RuntimeError("killed before the extract manifest")

    for name, added in (("b", [halves["b"]]), ("b1", halves["b1"])):
        out = str(tmp_path / name)
        _run(spark, halves, out, "A", halves["a"])
        with monkeypatch.context() as m:
            m.setattr(manifests, "record_buckets", crash)
            with pytest.raises(RuntimeError, match="killed"):
                _run(spark, halves, out, "AB", halves["a"], halves["b"])
        assert manifests.read_manifest(out, "extract")["snapshot"] == "A"
        metrics = _run(spark, halves, out, "A+" + name, halves["a"], *added)
        if name == "b":
            for t in ("facts", "linked") + _TABLES:
                assert _rows(spark, f"{out}/{t}") == _rows(spark, f"{appended[0]}/{t}"), t
        else:
            want = extract_facts(spark.read.parquet(halves["a"], *added))
            want = want.withColumn("bucket", bucket_col(F.col("url"), 4))
            assert _rows(spark, f"{out}/facts", ["seg"]) == Counter(map(repr, want.collect()))
            assert metrics["extract"]["rows"] == extract_facts(spark.read.parquet(*added)).count()


def test_non_append_snapshots_rebuild_in_full(spark, halves, appended, tmp_path):
    """Each snapshot change below truncates and rebuilds, starting from
    the state the one before it left: files that do not strictly
    contain the previous ones (A alone after A∪B); a frame that does not
    expose its files' paths (a union of two reads); a previous extract
    that never finished (bucket 3 pending), or that read no files (an
    in-memory frame); a new bucket count."""
    a, b = (spark.read.parquet(halves[k]) for k in ("a", "b"))
    ab = spark.read.parquet(halves["a"], halves["b"])
    out = str(tmp_path / "kg")
    shutil.copytree(appended[1], out)

    a_files = sorted(f.replace("file:///", "file:/") for f in a.inputFiles())

    def as_if(buckets_done, files):
        """Make the last extract look like a run over ``files``."""
        m = manifests.read_manifest(out, "extract")
        m["buckets_done"], m["files"] = buckets_done, [files]
        manifests.write_manifest(out, "extract", m)

    cases = [
        ("A again", a, 4, None),
        ("A union B", a.unionByName(b), 4, None),
        ("AB after an unfinished A", ab, 4, lambda: as_if([0, 1, 2], a_files)),
        ("AB after an in-memory frame", ab, 4, lambda: as_if([0, 1, 2, 3], [])),
        ("AB in 8 buckets", ab, 8, lambda: as_if([0, 1, 2, 3], a_files)),
    ]
    for snapshot, pages, n_buckets, prepare in cases:
        if prepare:
            prepare()
        metrics = run_pipeline(
            spark, pages, halves["aliases"], out, snapshot,
            canonicals=halves["canonicals"], n_buckets=n_buckets,
        )
        want = extract_facts(pages).withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        want = Counter(map(repr, want.collect()))
        assert metrics["extract"]["processed_buckets"] == n_buckets, snapshot
        assert metrics["extract"]["rows"] == sum(want.values()), snapshot
        assert _rows(spark, f"{out}/facts", ["seg"]) == want, snapshot
        facts = spark.read.parquet(f"{out}/facts")
        assert {r.seg for r in facts.select("seg").distinct().collect()} == {0}, snapshot
        files = sorted(f.replace("file:///", "file:/") for f in pages.inputFiles())
        assert manifests.read_manifest(out, "extract")["files"] == [files], snapshot
