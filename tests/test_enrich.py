"""Enrichment ops: truncation, summaries, id suffixing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.extract.enrich import (
    extractive_summary_col,
    suffix_ids,
    truncate_content_col,
)


def test_truncation_1500_plus_ellipsis(spark):
    rows = [(1, "x" * 1501), (2, "y" * 1500), (3, "short")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.t for r in df.select("id", truncate_content_col(F.col("text")).alias("t")).collect()}
    assert got[1] == "x" * 1500 + "..." and len(got[1]) == 1503
    assert got[2] == "y" * 1500
    assert got[3] == "short"


def test_extractive_summary_first_two_sentences(spark):
    rows = [
        (1, "First sentence. Second one! Third is dropped."),
        (2, "no sentence boundary at all"),
        (3, "One only."),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.s for r in df.select("id", extractive_summary_col(F.col("text")).alias("s")).collect()}
    assert got[1] == "First sentence. Second one!"
    assert got[2] == "no sentence boundary at all"
    assert got[3] == "One only."


def test_suffix_ids_and_summary_join(spark):
    nodes = spark.createDataFrame(
        [("e1", "doc-a"), ("e2", "doc-b")], "id string, source_document string"
    )
    docs = spark.createDataFrame(
        [("doc-a", "Alpha. Beta. Gamma."), ("doc-b", "Only text")],
        "doc_id string, text string",
    )
    summaries = docs.select(
        F.col("doc_id").alias("source_document"),
        extractive_summary_col(F.col("text")).alias("document_summary"),
    )
    out = suffix_ids(nodes).join(summaries, "source_document", "left")
    got = {r.id: (r.original_id, r.document_summary) for r in out.collect()}
    assert got == {
        "e1_doc-a": ("e1", "Alpha. Beta."),
        "e2_doc-b": ("e2", "Only text"),
    }
