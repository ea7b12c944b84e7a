"""windowed_counts on a stream: the watermark drops late rows, and each
finalized window is emitted once."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgspark.streaming.incremental import windowed_counts


def test_windowed_counts_watermark_drops_late(spark, tmp_path):
    """withWatermark + window agg in append mode: a window is emitted
    exactly once (when the watermark passes its end), and a row arriving
    after the watermark has passed its window is dropped."""
    src, out = str(tmp_path / "pages"), str(tmp_path / "host_counts")
    schema = "url string, warc_ts timestamp"

    def drain() -> None:
        """Drain the page files the checkpoint has not seen: per-(hour,
        url-host) counts, each micro-batch appended to ``out``."""
        pages = spark.readStream.schema(schema).parquet(src)
        counts = windowed_counts(
            pages.select("warc_ts", F.parse_url("url", F.lit("HOST")).alias("host")),
            "warc_ts", "host",
        )
        (
            counts.writeStream.foreachBatch(
                lambda df, batch_id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "checkpoint"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def page(url, hh, mm):
        return (url, dt.datetime(2024, 3, 1, hh, mm))

    # Drain 1: three pages for host-a and one for host-b in [10:00,11:00),
    # plus a 13:00 sentinel that advances the watermark to 12:00 at
    # batch end. Nothing is emitted yet (watermark was 0 at batch start).
    spark.createDataFrame(
        [
            page("https://a.example/p1", 10, 0),
            page("https://a.example/p2", 10, 20),
            page("https://a.example/p3", 10, 40),
            page("https://b.example/p1", 10, 30),
            page("https://a.example/late-anchor", 13, 0),
        ],
        schema=schema,
    ).write.mode("append").parquet(src)
    drain()

    # Drain 2: one LATE row for host-a at 10:30 (behind the 12:00
    # watermark → dropped) plus a 15:00 row. The [10:00,11:00) windows
    # finalize this batch — with the late row excluded.
    spark.createDataFrame(
        [page("https://a.example/too-late", 10, 30), page("https://b.example/p2", 15, 0)],
        schema=schema,
    ).write.mode("append").parquet(src)
    drain()

    rows = spark.read.parquet(out).collect()
    got = {(r["host"], r["win_start"].hour): r["n_events"] for r in rows}
    assert got[("a.example", 10)] == 3  # late 10:30 row NOT counted
    assert got[("b.example", 10)] == 1
    # each finalized window appears exactly once in the append sink
    assert len(rows) == len({(r["host"], r["win_start"]) for r in rows})
