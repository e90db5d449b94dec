"""Streaming ingestion: pages arrive as files, tiles update incrementally.

The reference's ``Next()`` pull loop (reference gosmonaut.go:219-236) is a
bounded in-process stream; the cluster-scale recast is Structured
Streaming: a file source discovers new page batches, the batch decode loop
(``mapInArrow`` works identically in streaming plans) extracts nodes with
their page's event time, and a watermarked window + cell groupBy maintains
the tile layer with late-data tolerance. Checkpointing gives exactly-once
sink semantics — the streaming twin of the batch pass snapshots (B11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import cell_expr
from ..sources.pages import REQUIRED_COLUMNS, _extract

PAGES_SCHEMA = ", ".join(f"{k} {v}" for k, v in REQUIRED_COLUMNS.items())


def read_pages_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def extract_nodes_with_ts(pages: DataFrame) -> DataFrame:
    """Nodes carrying their page's event time: the 1:1 url->warc_ts mapping
    rides along through the decode batch, so no join is needed."""
    return _extract(pages, ("nodes",), carry=("url", "warc_ts")).select(
        "url", "warc_ts", "id", "lat", "lon"
    )


def streaming_tile_counts(
    spark: SparkSession,
    pages_dir: str,
    res: int = 8,
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed tile counts per 1-hour event-time window. Late pages beyond
    the watermark are dropped, so state stays bounded.

    Watermarks require TIMESTAMP (an instant), but ``warc_ts`` is
    TIMESTAMP_NTZ and the plain NTZ->TIMESTAMP cast reads the session
    timezone at execution time. The r2 version pinned
    spark.sql.session.timeZone=UTC session-wide to make that cast safe —
    silently changing unrelated user queries. Instead we build the instant
    zone-free: ``timestamp_micros(ntz_epoch_micros(ts))`` interprets the
    naive value as UTC purely from its fields, so the plan never touches
    session conf and the window boundaries are deterministic in any
    session. Emitted ``window_start`` epochs equal the naive-as-UTC
    reading; display conversion at collect time is the session's concern."""
    from ..functions.timeops import ntz_epoch_micros

    stream = read_pages_stream(spark, pages_dir)
    nodes = extract_nodes_with_ts(stream)
    nodes = nodes.withColumn(
        "warc_ts", F.timestamp_micros(ntz_epoch_micros(F.col("warc_ts")))
    )
    return (
        nodes.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", "1 hour").alias("w"),
            cell_expr("lat", "lon", res).alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(F.col("w.start").alias("window_start"), "cell", "n_points")
    )


def run_stream_to_memory(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream_tiles",
    res: int = 8,
) -> None:
    """Drain the source with availableNow (batch-parity semantics), writing
    to an in-memory sink — the test/demo harness. Swap format('parquet')
    for the production sink."""
    q = (
        streaming_tile_counts(spark, pages_dir, res)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
