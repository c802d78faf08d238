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
the raw pages durable (``batch=<id>`` parquet parts, the kg_stream
discipline: overwrite-mode writes make foreachBatch replays idempotent,
``_SUCCESS`` marks complete parts) and ``clean_pages`` applies the
LIVE template set to the whole store on demand.  Because the merged
partials equal the batch statistics exactly, ``clean_pages()`` after
the stream drains equals ``remove_boilerplate_lines`` over the one-shot
corpus row-for-row (tests/test_boilerplate_stream.py).  This is the
production shape for crawl hygiene: detection state is tiny and live,
the expensive rewrite runs once per training-data export, not once per
trigger.

State discipline (shared with kg_stream): partial-count parts are
eagerly ``localCheckpoint``-ed so they outlive the batch's scratch
frames, folded every ``compact_every`` batches (materialize-then-
release, bounding union-plan depth), guarded against at-least-once
replays by ``_counted_ids``, and rebuilt by ``resume`` from the durable
page store in one scan without source replay.
"""

from __future__ import annotations

import os
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.boilerplate import (
    host_line_counts,
    remove_boilerplate_lines,
)
from kgkit.streaming.dedup_stream import _union_all
from kgkit.streaming.kg_stream import _part_dirs, _parts_with_batch


class IncrementalBoilerplateStream:
    """Crawl stream -> durable page store + live per-host line stats.

    ``recrawl=True`` adds the kg_stream supersession discipline: a
    re-delivered doc_id's old version is retracted from the line
    statistics (negative partials from its stored rows — a banner that
    disappeared from a host's recrawl stops counting toward the
    template threshold) and ``pages``/``clean_pages`` serve only each
    document's latest version."""

    def __init__(
        self,
        pages_dir: Optional[str] = None,
        compact_every: int = 8,
        recrawl: bool = False,
    ):
        self.pages_dir = pages_dir
        self.compact_every = compact_every
        self.recrawl = recrawl
        self.line_parts: List[DataFrame] = []  # (host, lh, n_docs) partials
        self.id_parts: List[DataFrame] = []    # (doc_id, _batch) partials
        self._parts_since_compact = 0
        self._counted_ids: set = set()  # replay guard
        if recrawl and pages_dir is None:
            raise ValueError(
                "recrawl supersession needs the durable store: the "
                "retraction of a superseded version's line counts is "
                "computed from its stored rows"
            )

    def doc_index(self, spark: SparkSession) -> DataFrame:
        """(doc_id, _batch): latest batch that delivered each doc."""
        if not self.id_parts:
            return spark.createDataFrame([], "doc_id long, _batch long")
        return (
            _union_all(self.id_parts)
            .groupBy("doc_id")
            .agg(F.max("_batch").alias("_batch"))
        )

    @classmethod
    def resume(
        cls, spark: SparkSession, pages_dir: str, **kw
    ) -> "IncrementalBoilerplateStream":
        """Rebuild from the durable page store without replaying the
        source: complete parts name the processed batches; the line
        statistics are re-aggregated from the store in one scan (exact
        — the store IS the corpus the partials summarized; in recrawl
        mode only each document's latest version is aggregated)."""
        stm = cls(pages_dir=pages_dir, **kw)
        names = _part_dirs(pages_dir)
        if not names:
            raise FileNotFoundError(f"no complete page parts in {pages_dir}")
        if stm.recrawl:
            stored_b = _parts_with_batch(spark, pages_dir)
            stm.id_parts = [
                stored_b.groupBy("doc_id")
                .agg(F.max("_batch").alias("_batch"))
                .localCheckpoint()
            ]
            stored = stored_b.join(
                F.broadcast(stm.doc_index(spark)), ["doc_id", "_batch"]
            )
        else:
            stored = spark.read.parquet(
                *[os.path.join(pages_dir, n) for n in names]
            )
        stm.line_parts = [host_line_counts(stored).localCheckpoint()]
        stm._counted_ids = {int(n.split("=")[1]) for n in names}
        return stm

    def process_batch(
        self, docs: DataFrame, batch_id: Optional[int] = None
    ) -> DataFrame:
        """One micro-batch of docs(doc_id, host, text): durably append
        the raw pages and fold the batch's line statistics into the
        live counts.  Returns the batch's own (host, lh, n_docs)
        partial (already materialized).  In recrawl mode a re-delivered
        doc_id supersedes its stored version (retraction first, then
        the new partial)."""
        spark = docs.sparkSession
        part = host_line_counts(docs).localCheckpoint()  # eager: O(batch)
        if self.recrawl and batch_id is None:
            raise ValueError("recrawl supersession needs batch ids")
        if self.pages_dir is not None and batch_id is not None:
            # overwrite mode: a replay of the same batch_id rewrites the
            # same dir with the same rows — idempotent
            (docs.withColumn("_batch", F.lit(batch_id).cast("long"))
             if self.recrawl else docs).write.mode("overwrite").parquet(
                os.path.join(self.pages_dir, f"batch={batch_id}")
            )
        if batch_id is None or batch_id not in self._counted_ids:
            if self.recrawl:
                replaced = self.doc_index(spark).join(
                    docs.select("doc_id").distinct(), "doc_id"
                ).localCheckpoint()
                if not replaced.isEmpty():
                    stale = _parts_with_batch(spark, self.pages_dir).join(
                        F.broadcast(replaced), ["doc_id", "_batch"]
                    )
                    self.line_parts.append(
                        host_line_counts(stale)
                        .withColumn("n_docs", -F.col("n_docs"))
                        .localCheckpoint()
                    )
                self.id_parts.append(
                    docs.select("doc_id")
                    .distinct()
                    .withColumn("_batch", F.lit(batch_id).cast("long"))
                    .localCheckpoint()
                )
            self.line_parts.append(part)
            if batch_id is not None:
                self._counted_ids.add(batch_id)
            self._parts_since_compact += 1
            if self._parts_since_compact >= self.compact_every:
                self._compact()
        return part

    def _compact(self) -> None:
        """Fold the partial-count parts into one frame (eager
        localCheckpoint: materialize before dropping the old parts,
        whose blocks GC frees)."""
        folded = (
            _union_all(self.line_parts)
            .groupBy("host", "lh")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"))
            .localCheckpoint()
        )
        id_folded = (
            [
                _union_all(self.id_parts)
                .groupBy("doc_id")
                .agg(F.max("_batch").alias("_batch"))
                .localCheckpoint()
            ]
            if self.id_parts else []
        )
        self.line_parts = [folded]
        self.id_parts = id_folded
        self._parts_since_compact = 0

    def line_counts(self) -> DataFrame:
        """Live (host, lh, n_docs) over everything processed so far —
        merge of the partials, never a re-scan of the page store.
        Recrawl retractions can zero a line out entirely — an exact
        cancellation, filtered like kg_stream's counts."""
        if not self.line_parts:
            raise ValueError("no batches processed yet")
        return (
            _union_all(self.line_parts)
            .groupBy("host", "lh")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"))
            .filter(F.col("n_docs") > 0)
        )

    def template_lines(self, min_docs: int = 5) -> DataFrame:
        """The live per-host template set: (host, lh) of every line on
        >= min_docs distinct pages of the host so far."""
        return (
            self.line_counts()
            .filter(F.col("n_docs") >= min_docs)
            .select("host", "lh")
        )

    def pages(self, spark: SparkSession) -> DataFrame:
        """The durable raw-page store (complete parts only); in recrawl
        mode only each document's latest version."""
        if self.pages_dir is None:
            raise ValueError("stream has no pages_dir")
        names = _part_dirs(self.pages_dir)
        if not names:
            return spark.createDataFrame(
                [], "doc_id long, host string, text string"
            )
        if self.recrawl:
            return (
                _parts_with_batch(spark, self.pages_dir)
                .join(F.broadcast(self.doc_index(spark)),
                      ["doc_id", "_batch"])
                .drop("_batch")
            )
        return spark.read.parquet(
            *[os.path.join(self.pages_dir, n) for n in names]
        )

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

    def attach(
        self,
        docs_stream: DataFrame,
        sink: Optional[Callable[[DataFrame, int], None]] = None,
        checkpoint_dir: Optional[str] = None,
        trigger_once: bool = False,
    ):
        """Wire to a streaming docs(doc_id, host, text) DataFrame via
        foreachBatch; ``sink(line_part_df, batch_id)``, when given,
        receives each batch's materialized statistics partial."""

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            part = self.process_batch(batch_df, batch_id=batch_id)
            if sink is not None:
                sink(part, batch_id)

        writer = docs_stream.writeStream.foreachBatch(_process)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
