"""The pages input table (BASELINE.json input_hint shape) and loaders.

input table: (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING) — Common-Crawl-style web pages.  At production scale this
is an Iceberg table; in this sandbox we map the driver-generated
``documents.parquet`` onto the page shape (FIXTURES.md §1) and provide a
deterministic synthetic generator for skew experiments.

Scale notes (100 TB / 10^12 docs):
  * stage 1 reads ONLY (url, text, lang) — ``html`` (the bulk of the
    bytes) must be pruned at the scan; ``pages_for_mentions`` selects
    the narrow columns so Parquet/Iceberg column pruning kicks in.
  * the generator builds rows with distributed SQL expressions over
    ``spark.range`` — no driver-side materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# word pool for the synthetic generator; indices into this list are
# chosen by deterministic arithmetic so the same (seed, n) is identical
# across runs and engines.
_WORDS = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "join", "batch", "window", "spark", "order", "data", "column",
    "small", "line", "customer", "query", "merge", "sort", "group", "big",
    "stream", "vector", "filter", "the", "a",
]


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """Map the driver's documents table onto the input_hint page shape."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_as_pages(load_documents(spark, sf_dir))


def pages_for_mentions(pages: DataFrame) -> DataFrame:
    """Narrow projection for stage 1 — never reads the html bytes."""
    return pages.select("url", "text", "lang")


def latest_pages(pages: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    """One row per url — the LATEST crawl version by ``ts_col``.

    A crawl corpus carries recrawls; the batch pipeline wants each
    url's newest version (the streaming twin is kg_stream's
    supersession, where "latest" is batch order).  One
    map-side-combined ``max_by`` aggregation over a (ts, row) struct —
    never a window over full rows by url (the hot-host version of the
    clean_corpus stage-1 pathology).  Ties on ``ts_col`` break by the
    largest remaining-struct tuple, deterministically."""
    others = [c for c in pages.columns if c != "url"]
    row = F.struct(F.col(ts_col), *[F.col(c) for c in others if c != ts_col])
    picked = pages.groupBy("url").agg(F.max_by(row, row).alias("_r"))
    return picked.select(
        "url", *[F.col(f"_r.{c}") for c in others]
    )


def widen_for_udf(df: DataFrame, waves: int = 2) -> DataFrame:
    """Repartition a NARROW input up to cluster width before a
    CPU-bound python UDF stage — gated on the actual scan width, so at
    production scale it is a no-op.

    Why: an unsplittable small source (the driver's sf parquet is ONE
    row group) yields one scan task no matter the partition-bytes
    config, silently serializing the whole Arrow-UDF stage on one core
    (measured: the sf0.1 mention queries ran at exactly single-process
    python speed).  At 100 TB the source has thousands of row groups
    and ``current >= target`` short-circuits; locally the round-robin
    exchange ships only the narrow (url, text) projection — pennies
    against the python compute it unblocks."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * waves
    current = df.rdd.getNumPartitions()
    return df.repartition(target) if current < target else df


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    words_per_page: int = 40,
    zipf_hub_every: int = 3,
    pct_empty: int = 5,
    n_filler: int = 0,
) -> DataFrame:
    """Deterministic synthetic pages with a planted Zipf-head hub entity.

    Every ``zipf_hub_every``-th page gets extra 'join' mentions (the hub,
    kgkit/sources/alias_dict.py) so skew handling is observable;
    ``pct_empty`` percent of pages carry no entity at all.  Pure SQL
    expressions over ``spark.range`` — fully distributed, no UDFs.

    ``n_filler`` appends that many non-entity filler tokens to the word
    pool, diluting mention density toward the few-percent rate real web
    text has (the base 30-word pool is ~30% alias hits — unrealistically
    entity-dense for throughput work).
    """
    pool = _WORDS + [f"w{i:03d}" for i in range(n_filler)]
    vocab = F.array(*[F.lit(w) for w in pool])
    n_words = len(pool)
    # word index for (page id, position j): multiplicative mix, no RNG
    mix = f"(id * 2654435761 + pos * 40503 + {seed}) % {n_words}"
    body = (
        f"array_join(transform(sequence(1, {words_per_page}), "
        f"pos -> element_at(v, int(abs({mix})) + 1)), ' ')"
    )
    df = (
        spark.range(n_pages)
        .withColumn("v", vocab)
        .withColumn("body", F.expr(body))
        .withColumn(
            "body",
            F.when(F.col("id") % 100 < pct_empty, F.lit("the big data value"))
            .when(
                F.col("id") % zipf_hub_every == 0,
                F.concat(F.col("body"), F.lit(" join join spark join")),
            )
            .otherwise(F.col("body")),
        )
    )
    return df.select(
        F.concat(F.lit("synth://"), F.col("id").cast("string")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
        F.col("body").cast("binary").alias("html"),
        F.col("body").alias("text"),
        F.lit("en").alias("lang"),
    )
