"""Streaming per-host boilerplate detection — line-level template
statistics maintained incrementally over a crawl stream.

The batch stage (kgkit/operators/boilerplate.py) strips every line that
occurs on >= ``min_docs`` distinct pages of the same host.  Its
sufficient statistic is the (host, line-digest, n_docs) count table —
and that statistic streams EXACTLY: the file-source contract delivers
each document in exactly one micro-batch, so per-batch
``host_line_counts`` partials are disjoint in doc_id and their
n_docs sums equal the whole-corpus counts (the same commutativity
argument as the KG stream's relation partials).  Each trigger therefore
costs O(batch) — one per-batch line explosion + two map-side-combined
groupBys — never a re-scan of the accumulated corpus.

Cleaning is RETROSPECTIVE by construction: a page processed early
cannot know templates that later pages will reveal, so the stream keeps
the raw pages durable (``batch=<id>`` parquet parts) and
``clean_pages`` applies the LIVE template set to the whole store on
demand.  Because the merged
partials equal the batch statistics exactly, ``clean_pages()`` after
the stream drains equals ``remove_boilerplate_lines`` over the one-shot
corpus row-for-row (tests/test_boilerplate_stream.py).  This is the
production shape for crawl hygiene: detection state is tiny and live,
the expensive rewrite runs once per training-data export, not once per
trigger.

A doc_id re-delivered by a later batch supersedes its stored version:
its old lines are retracted from the statistics (a banner that
disappeared from a host's recrawl stops counting toward the template
threshold) and the reads serve each document's latest version.  The
durable parts, the committed-batch rule, the retractions, the replay
guard, compaction and ``resume`` are the part-store protocol of
``kgkit.streaming.store``, with ``host_line_counts`` as the one live
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.boilerplate import (
    host_line_counts,
    remove_boilerplate_lines,
)
from kgkit.streaming import store


class IncrementalBoilerplateStream:
    """Crawl stream -> durable page store + live per-host line stats
    over each document's latest version."""

    attach = store.attach

    def __init__(self, pages_dir: str):
        self.store = store.PartStore(pages_dir, "doc_id", {
            "lines": store.Aggregate("batch=", host_line_counts, "n_docs"),
        })

    @classmethod
    def resume(
        cls, spark: SparkSession, pages_dir: str
    ) -> "IncrementalBoilerplateStream":
        """Rebuild from the committed page parts without replaying the
        source: the line statistics are re-aggregated from the latest
        versions in one scan (exact — the store IS the corpus the
        partials summarized)."""
        stm = cls(pages_dir)
        stm.store.resume(spark)
        return stm

    def process_batch(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """One micro-batch of docs(doc_id, host, text): durably write
        the raw pages and fold the batch's line statistics into the
        live counts, superseding earlier versions of its doc_ids.
        Returns the batch's own (host, lh, n_docs) partial (already
        materialized)."""
        return self.store.commit(batch_id, docs, {"batch=": docs})["lines"]

    def line_counts(self) -> DataFrame:
        """Live (host, lh, n_docs) — a merge of the partials, never a
        re-scan of the page store."""
        counts = self.store.live("lines")
        if counts is None:
            raise ValueError("no batches processed yet")
        return counts

    def template_lines(self, min_docs: int = 5) -> DataFrame:
        """The live per-host template set: (host, lh) of every line on
        >= min_docs distinct pages of the host so far."""
        return (
            self.line_counts()
            .filter(F.col("n_docs") >= min_docs)
            .select("host", "lh")
        )

    def pages(self, spark: SparkSession) -> DataFrame:
        """The committed raw pages, each document's latest version."""
        docs = self.store.latest(spark, "batch=")
        if docs is None:
            return spark.createDataFrame(
                [], "doc_id long, host string, text string"
            )
        return docs

    def clean_pages(
        self, spark: SparkSession, min_docs: int = 5, quality: bool = False
    ) -> DataFrame:
        """The boilerplate-stripped corpus under the LIVE statistics:
        the batch operator over the durable store with the merged
        counts injected.  After the stream drains this equals the
        one-shot ``remove_boilerplate_lines`` row-for-row.

        ``quality=True`` appends the Gopher rule battery's columns
        (incl. the ``keep`` flag) computed over the STRIPPED text —
        quality is judged on content, not on chrome the strip already
        removed.  The battery is one stateless codegen'd projection, so
        it composes with the retrospective read at scan cost."""
        cleaned = remove_boilerplate_lines(
            self.pages(spark), min_docs, counts=self.line_counts()
        )
        if not quality:
            return cleaned
        from kgkit.operators.text_quality import gopher_quality

        q = gopher_quality(
            cleaned.select("doc_id", F.col("clean_text").alias("text"))
        ).drop("text")
        return cleaned.join(q, "doc_id")
