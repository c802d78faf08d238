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
counts merge exactly).  Re-aggregating the whole triples store per
trigger is O(store); instead each batch's bounded, map-side-combined
counts (by ``obj`` over its triples, by (subj, pred, obj) over its
relation occurrences) are merged into the views when the batch
commits, every aggregate in one groupBy and one checkpoint — hub
entities cost one bounded row per view instead of a skewed re-shuffle
of raw triples.  The NPMI annotation is a pure function of the merged
integers, so the batch annotator (relations_from_counts) runs on the
relation-count view (already lineage-cut) once per commit, and every
read serves a materialized frame.

A live crawl REVISITS urls: a url re-delivered by a later batch
supersedes its earlier version, whose contribution is retracted from
every live aggregate.  The durable ``keys/_batch=<id>`` (delivered
urls), ``triples/_batch=<id>`` and ``relation_counts/_batch=<id>``
(per-url relation counts) parts, the committed-batch rule,
supersession, the retractions, the replay guard, the views and
``resume`` are the part-store protocol of ``kgkit.streaming.store``.
After any prefix of the stream, every read accessor equals the one-shot
batch pipeline over each url's LATEST version, where "latest" is the
highest batch id (tests/test_kg_stream.py).

A micro-batch runs the same plans whatever its id: the batch id lives
in the part paths and never enters a plan, so every batch runs the
same generated classes.  A session that keeps them (the codegen cache
of ``kgkit.SESSION_CONF``, which every session kgkit builds applies)
compiles no class for a warm batch or read.  The cache size is a
static conf, which the stream cannot set: a caller who attaches the
stream to a session of their own must build it with the same settings,
``SparkSession.builder.config(map=kgkit.SESSION_CONF)``, or each warm
batch recompiles some 80-100 classes.

foreachBatch (not a stateful operator) is the right tool: the
per-batch work is a composition of whole DataFrame stages against
broadcast dimension tables, not per-key state that fits the
``applyInPandasWithState`` model, and checkpointLocation gives
exactly-once offset tracking on top.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.canonicalize import canonical_map
from kgkit.operators.linking import link_mentions
from kgkit.operators.mentions import detect_mentions
from kgkit.operators.relations import relation_stream, relations_from_counts
from kgkit.operators.triples import assemble_triples
from kgkit.streaming import store

# the part families' row schemas, declared once
TRIPLES = (
    "subj string, pred string, obj string, url string, "
    "char_start int, char_end int, bucket int"
)
RELATION_COUNTS = "url string, subj string, pred string, obj string, n long"


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
        self.store = store.PartStore(
            triples_dir,
            {"triples": TRIPLES, "relation_counts": RELATION_COUNTS},
            {
                "entity_counts": store.Aggregate("triples", ("obj",)),
                "relations": store.Aggregate(
                    "relation_counts", ("subj", "pred", "obj"), "n"
                ),
            },
        )
        self._relations: Optional[DataFrame] = None  # the annotated view

    @classmethod
    def resume(
        cls, spark: SparkSession, embeddings: DataFrame, triples_dir: str, **kw
    ) -> "IncrementalKGStream":
        """Rebuild from the committed parts without replaying the
        source.  Pair with the same streaming ``checkpoint_dir`` so the
        restarted query continues from the recorded source offsets."""
        stm = cls(embeddings, triples_dir=triples_dir, **kw)
        stm.store.resume(spark)
        stm._annotate()
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

    def _annotate(self) -> None:
        self._relations = relations_from_counts(
            self.store.live("relations")
        ).localCheckpoint()

    def process_batch(self, pages: DataFrame, batch_id: int) -> DataFrame:
        """One micro-batch of pages(url, text, ...) -> that batch's
        triples (same schema as the batch pipeline's), durably written
        and merged into the live views; the earlier versions of its
        urls are superseded."""
        canon = canonical_map(pages.sparkSession)
        # eager checkpoints: the triples and the relation stream read
        # the linked mentions, and the part write and the view merge
        # read the relation counts, without re-running the batch's
        # stages
        linked = link_mentions(
            detect_mentions(pages), self.embeddings
        ).localCheckpoint()
        triples = assemble_triples(linked, canon)
        # url stays in the durable part: retraction filters by it
        relations = (
            relation_stream(pages, linked, canon)
            .groupBy("url", "subj", "pred", "obj")
            .agg(F.count("*").alias("n"))
            .localCheckpoint()
        )
        if self.store.commit(
            batch_id, pages, {"triples": triples, "relation_counts": relations}
        ):
            self._annotate()
        return triples

    def entity_counts(self) -> DataFrame:
        """Live (obj, n_triples) — the materialized view, never a
        re-aggregation of raw triples."""
        counts = self.store.live("entity_counts")
        if counts is None:
            return self.embeddings.sparkSession.createDataFrame(
                [], "obj string, n_triples long"
            )
        return counts.withColumnRenamed("n", "n_triples")

    def relations(self) -> DataFrame:
        """Live NPMI-annotated relation edges — the batch annotator
        (relations_from_counts) over the merged (subj, pred, obj) counts,
        materialized at commit; integer sums commute, so this equals
        extract_relations over the latest versions row-for-row."""
        if self._relations is None:
            return self.embeddings.sparkSession.createDataFrame(
                [],
                "subj string, pred string, obj string, rel_type string, "
                "n long, pair_n long, npmi double",
            )
        return self._relations

    def triples(self, spark: SparkSession) -> DataFrame:
        """The committed triples of each url's latest version."""
        triples = self.store.latest(spark, "triples")
        if triples is None:
            return spark.createDataFrame([], TRIPLES)
        return triples
