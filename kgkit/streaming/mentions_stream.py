"""Structured Streaming ingestion path for the KG pipeline.

The reference is batch-only (SURVEY §2.13) and the north rule's
checkpoint-resume maps to stage materialization, not streaming state —
but a web-scale crawl is naturally a stream of WARC pages, so the
engine also exposes the mention detector as a streaming transform:

    pages stream (file source over the Iceberg/parquet landing zone)
      -> detect_mentions_stream        (same Arrow UDF, same ner_core)
      -> windowed_tag_counts           (event-time window on warc_ts,
                                        watermark bounds state)

mapInArrow and time-window aggregations are fully supported on
streaming DataFrames; the watermark makes the windowed aggregation's
state finite under unbounded input (late pages beyond the watermark are
dropped, the standard trade).  Sinks: writeStream to parquet/Iceberg
with checkpointLocation — giving exactly-once per micro-batch on top of
the same stage layout the batch path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.functions.records import explode_records
from kgkit.operators.mentions import mention_records
from kgkit.sources.pages import PAGE_SCHEMA

STREAM_MENTIONS_SCHEMA = (
    "url string, warc_ts timestamp, mention_id int, "
    "char_start int, char_end int, surface string, tag string"
)


def read_pages_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over a pages landing directory (new parquet
    files appear as the crawler lands them)."""
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(landing_dir)
    )


def detect_mentions_stream(pages: DataFrame) -> DataFrame:
    """Streaming variant of kgkit.operators.mentions.detect_mentions —
    the same row-to-records loop and ner_core lifecycle, with the
    event-time column carried through for downstream windowing."""
    return explode_records(
        pages, ["url", "warc_ts"], "text", STREAM_MENTIONS_SCHEMA,
        mention_records(),
    )


def windowed_tag_counts(
    mentions: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed mention counts per tag; the watermark bounds
    aggregation state for unbounded streams and defines lateness."""
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "tag")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tag", "n",
        )
    )
