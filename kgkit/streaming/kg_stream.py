"""Incremental KG construction — the full batch pipeline as a stream.

The batch path (kgkit/queries.py::_triples_df) is

    pages -> detect_mentions -> link_mentions -> assemble_triples

and every stage is PER-PAGE: a page's mentions, links, and triples
(both ``mentions`` edges and the per-url co-occurrence window) derive
only from its own text plus static dimension tables (the alias
dictionary, the embeddings table, the canonical map).  So foreachBatch
runs the UNCHANGED batch operators on each micro-batch, and the triples
need no cross-batch state.

What DOES need cross-batch state is the downstream aggregates a live
KG keeps hot: entity mention counts (the batch ``kg_entity_counts``
query) and relation-edge counts (the batch ``kg_relations`` query —
its (subj, pred, obj) occurrence stream is per-page too, so per-batch
partial counts merge exactly, and the NPMI annotation is deferred to
read time as a pure function of the merged integers).  Re-aggregating
the whole triples store per trigger is O(store); instead each batch
contributes bounded, map-side-combined partials (``groupBy(obj)`` over
its triples, ``groupBy(subj, pred, obj)`` over its relation
occurrences), and the reads merge them by summing — hub entities cost
one bounded row per part instead of a skewed re-shuffle of raw triples.

A live crawl REVISITS urls: a url re-delivered by a later batch
supersedes its earlier version, whose contribution is retracted from
every live aggregate.  The durable ``keys=<id>`` (delivered urls),
``batch=<id>`` (triples) and ``relbatch=<id>`` (per-url relation
counts) parts, the committed-batch rule, the url index, the
retractions, the replay guard, compaction and ``resume`` are the
part-store protocol of ``kgkit.streaming.store``.  After any prefix of
the stream, every read accessor equals the one-shot batch pipeline over
each url's LATEST version, where "latest" is the highest batch id
(tests/test_kg_stream.py).

foreachBatch (not a stateful operator) is the right tool: the
per-batch work is a composition of whole DataFrame stages against
broadcast dimension tables, not per-key state that fits the
``applyInPandasWithState`` model, and checkpointLocation gives
exactly-once offset tracking on top.
"""

from __future__ import annotations

from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.canonicalize import canonical_map
from kgkit.operators.linking import link_mentions
from kgkit.operators.mentions import detect_mentions
from kgkit.operators.relations import relation_stream, relations_from_counts
from kgkit.operators.triples import assemble_triples
from kgkit.streaming import store


def _entity_counts(triples: DataFrame) -> DataFrame:
    return triples.groupBy("obj").agg(F.count("*").alias("n"))


def _relation_counts(rel: DataFrame) -> DataFrame:
    return rel.groupBy("subj", "pred", "obj").agg(
        F.sum("n").cast("long").alias("n")
    )


class IncrementalKGStream:
    """Crawl stream -> durable triples store + live entity and relation
    counts over each url's latest version.  ``recrawl`` is accepted for
    compatibility; supersession is the only mode, so it must be True."""

    def __init__(
        self, embeddings: DataFrame, triples_dir: str, recrawl: bool = True
    ):
        if not recrawl:
            raise ValueError(
                "recrawl supersession is the only mode: a batch with no "
                "revisited urls retracts nothing"
            )
        self.embeddings = embeddings
        self.triples_dir = triples_dir
        self.store = store.PartStore(triples_dir, {
            "entity_counts": store.Aggregate("batch=", _entity_counts),
            "relations": store.Aggregate("relbatch=", _relation_counts),
        })

    @classmethod
    def resume(
        cls, spark: SparkSession, embeddings: DataFrame, triples_dir: str, **kw
    ) -> "IncrementalKGStream":
        """Rebuild from the committed parts without replaying the
        source.  Pair with the same streaming ``checkpoint_dir`` so the
        restarted query continues from the recorded source offsets."""
        stm = cls(embeddings, triples_dir=triples_dir, **kw)
        stm.store.resume(spark)
        return stm

    def attach(
        self,
        source: DataFrame,
        checkpoint_dir: Optional[str] = None,
        trigger_once: bool = False,
    ):
        """Wire ``process_batch`` to a streaming DataFrame via
        foreachBatch; returns the started query."""
        writer = source.writeStream.foreachBatch(self.process_batch)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def process_batch(self, pages: DataFrame, batch_id: int) -> DataFrame:
        """One micro-batch of pages(url, text, ...) -> that batch's
        triples (same schema as the batch pipeline's), durably written
        and folded into the live counts; the earlier versions of its
        urls are superseded."""
        canon = canonical_map(pages.sparkSession)
        mentions = detect_mentions(pages).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # populate eagerly: the triples fan-out and the relation
            # stream otherwise race the unpopulated cache on the batch's
            # first action and re-run the per-batch UDF
            mentions.count()
            linked = link_mentions(mentions, self.embeddings)
            # an eager checkpoint: the part write and the counts partial
            # read it without re-running the batch's stages, and nothing
            # reads ``mentions`` after this method returns
            triples = assemble_triples(linked, canon)
            # url stays in the durable part: retraction filters by it
            relations = (
                relation_stream(pages, linked, canon)
                .groupBy("url", "subj", "pred", "obj")
                .agg(F.count("*").alias("n"))
            )
            self.store.commit(
                batch_id, pages, {"batch=": triples, "relbatch=": relations}
            )
        finally:
            mentions.unpersist()
        return triples

    def entity_counts(self) -> DataFrame:
        """Live (obj, n_triples) — a merge of the partials, never a
        re-aggregation of raw triples."""
        counts = self.store.live("entity_counts")
        if counts is None:
            return self.embeddings.sparkSession.createDataFrame(
                [], "obj string, n_triples long"
            )
        return counts.withColumnRenamed("n", "n_triples")

    def relations(self) -> DataFrame:
        """Live NPMI-annotated relation edges — the merged (subj, pred,
        obj) partial counts fed to the batch annotator
        (relations_from_counts); integer sums commute, so this equals
        extract_relations over the latest versions row-for-row."""
        counts = self.store.live("relations")
        if counts is None:
            return self.embeddings.sparkSession.createDataFrame(
                [],
                "subj string, pred string, obj string, rel_type string, "
                "n long, pair_n long, npmi double",
            )
        return relations_from_counts(counts)

    def triples(self, spark: SparkSession) -> DataFrame:
        """The committed triples of each url's latest version."""
        triples = self.store.latest(spark, "batch=")
        if triples is None:
            return spark.createDataFrame(
                [],
                "subj string, pred string, obj string, url string, "
                "char_start int, char_end int, bucket int",
            )
        return triples
