"""Incremental KG construction — the full batch pipeline as a stream.

The batch path (kgkit/queries.py::_triples_df) is

    pages -> detect_mentions -> link_mentions -> assemble_triples

and every stage is PER-PAGE: a page's mentions, links, and triples
(both ``mentions`` edges and the per-url co-occurrence window) derive
only from its own text plus static dimension tables (the alias
dictionary, the embeddings table, the canonical map).  So a crawl
stream where each landed page appears in exactly one micro-batch — the
file-source contract — needs NO cross-batch state for the triples
themselves: foreachBatch runs the UNCHANGED batch operators on each
micro-batch and the union of per-batch outputs equals the one-shot
batch result row-for-row (pinned by tests/test_kg_stream.py).

What DOES need cross-batch state is the downstream aggregates a live
KG keeps hot: entity mention counts (the batch ``kg_entity_counts``
query) and relation-edge counts (the batch ``kg_relations`` query —
its (subj, pred, obj) occurrence stream is per-page too, so per-batch
partial counts merge exactly, and the NPMI annotation is deferred to
read time as a pure function of the merged integers).  Re-aggregating the whole triples store per trigger is O(store)
— at crawl scale that melts.  Instead each batch contributes a PARTIAL
aggregate part (``groupBy(obj).count()`` over the batch's triples —
bounded by the batch, map-side combined), and ``entity_counts()``
merges partials by summing — commutative, so hub entities cost one
bounded row per part instead of a skewed re-shuffle of raw triples.
Every ``compact_every`` batches the parts fold into one frame via an
EAGER localCheckpoint (the dedup_stream discipline: materialize the
new frame BEFORE releasing the old parts, truncate the union lineage).

Durability / exactly-once: with ``triples_dir`` set, each batch's
triples are written to ``batch=<id>`` parquet in overwrite mode —
foreachBatch is at-least-once, and a replayed batch rewrites the SAME
dir with the SAME rows (the pipeline is deterministic), so the store
is idempotent under replay; ``_SUCCESS`` marks a complete part (the
kgkit.plans.stages discipline).  The in-memory counts parts carry a
replay guard (``_counted_ids``) so a replayed batch never double
counts.  ``resume`` rebuilds the stream state from the durable store
without replaying the source: complete parts name the processed batch
ids, and the counts are re-aggregated from the store in one job (one
scan; a production deployment that cannot afford the scan persists the
compacted counts frame with the manifest protocol of
streaming/dedup_stream.py — same code shape, omitted here because the
store re-aggregate is exact and simpler).

Recrawl supersession (``recrawl=True``): a live crawl REVISITS urls,
and an append-only store would serve both versions' triples and count
them twice.  Supersession keeps one extra tiny state — (url, latest
batch) partials merged by max — and, when a batch re-delivers known
urls, appends NEGATIVE count partials computed from the superseded
versions' stored rows (each (url, prev-latest-batch) pair retracts
exactly once, so k recrawls retract k-1 versions exactly; sums with
mixed signs still commute).  Durable parts embed a ``_batch`` column
so both the retraction probe and the read path (``triples()`` joins
the broadcast-sized url index) filter distributed-side; the relation
parts additionally keep url so their retraction can filter by it (the
in-memory partials stay url-free).  After any prefix of the stream,
every read accessor equals the one-shot batch pipeline over each
url's LATEST version (tests/test_kg_stream.py::TestRecrawl).  The
retraction probe joins the store against a broadcast of the replaced
set — at production scale the store is url-bucketed, so the probe
prunes to the touched buckets rather than scanning.

Like dedup_stream, foreachBatch (not a stateful operator) is the right
tool: the per-batch work is a composition of whole DataFrame stages
against broadcast dimension tables, not per-key state that fits the
``applyInPandasWithState`` model, and checkpointLocation gives
exactly-once offset tracking on top.
"""

from __future__ import annotations

import os
from typing import Callable, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.canonicalize import canonical_map
from kgkit.operators.linking import link_mentions
from kgkit.operators.mentions import detect_mentions
from kgkit.operators.relations import relation_stream, relations_from_counts
from kgkit.operators.triples import assemble_triples
from kgkit.streaming.dedup_stream import _complete, _union_all


def _part_dirs(triples_dir: str, prefix: str = "batch=") -> List[str]:
    """Complete ``<prefix><id>`` part dirs, sorted by batch id."""
    if not os.path.isdir(triples_dir):
        return []
    names = [
        d
        for d in os.listdir(triples_dir)
        if d.startswith(prefix) and _complete(os.path.join(triples_dir, d))
    ]
    return sorted(names, key=lambda n: int(n.split("=")[1]))


def _parts_with_batch(
    spark: SparkSession,
    base_dir: str,
    prefix: str = "batch=",
    only_ids: Optional[set] = None,
) -> Optional[DataFrame]:
    """Durable parts with their batch id as a ``_batch`` column
    (embedded at write time in recrawl mode; the dir name is the
    fallback for pre-recrawl parts, read per-dir).  ``only_ids``
    restricts to the given batch ids."""
    names = _part_dirs(base_dir, prefix=prefix)
    if only_ids is not None:
        names = [n for n in names if int(n.split("=")[1]) in only_ids]
    frames = []
    for n in names:
        df = spark.read.parquet(os.path.join(base_dir, n))
        if "_batch" not in df.columns:
            df = df.withColumn(
                "_batch", F.lit(int(n.split("=")[1])).cast("long")
            )
        frames.append(df)
    return _union_all(frames) if frames else None


class IncrementalKGStream:
    """Crawl stream -> incremental triples store + live entity counts."""

    def __init__(
        self,
        embeddings: DataFrame,
        canon: Optional[DataFrame] = None,
        triples_dir: Optional[str] = None,
        compact_every: int = 8,
        model: str = "gazetteer",
        recrawl: bool = False,
    ):
        self.embeddings = embeddings
        self.canon = canon
        self.triples_dir = triples_dir
        self.compact_every = compact_every
        self.model = model
        self.recrawl = recrawl
        self.count_parts: List[DataFrame] = []
        self.rel_parts: List[DataFrame] = []  # (subj,pred,obj,n) partials
        self.url_parts: List[DataFrame] = []  # (url, _batch) partials
        self._parts_since_compact = 0
        self._counted_ids: set = set()  # replay guard for counts parts
        self._spill: List[DataFrame] = []  # previous batch's scratch frames
        if recrawl and triples_dir is None:
            raise ValueError(
                "recrawl supersession needs the durable store: the "
                "retraction of a superseded version's counts is computed "
                "from its stored rows"
            )

    @classmethod
    def resume(
        cls, spark: SparkSession, embeddings: DataFrame, triples_dir: str, **kw
    ) -> "IncrementalKGStream":
        """Rebuild from the durable store without replaying the source:
        complete parts name the processed batches; the live counts are
        re-aggregated from the store (one scan, exact).  Pair with the
        same streaming ``checkpoint_dir`` so the restarted query
        continues from the recorded source offsets."""
        stm = cls(embeddings, triples_dir=triples_dir, **kw)
        names = _part_dirs(triples_dir)
        if not names:
            raise FileNotFoundError(f"no complete triples parts in {triples_dir}")
        if stm.recrawl:
            # rebuild the url index first, then aggregate ONLY each
            # url's latest version — the store may hold superseded rows
            stored_b = stm._store_with_batch(spark, "batch=")
            stm.url_parts = [
                stored_b.groupBy("url")
                .agg(F.max("_batch").alias("_batch"))
                .localCheckpoint()
            ]
            stored = stored_b.join(
                F.broadcast(stm.url_index()), ["url", "_batch"]
            )
        else:
            stored = spark.read.parquet(
                *[os.path.join(triples_dir, n) for n in names]
            )
        stm.count_parts = [
            stored.groupBy("obj").agg(F.count("*").alias("n")).localCheckpoint()
        ]
        rel_names = [
            n for n in _part_dirs(triples_dir, prefix="relbatch=")
            if int(n.split("=")[1]) in {int(m.split("=")[1]) for m in names}
        ]
        if rel_names:
            rel_stored = (
                stm._store_with_batch(
                    spark, "relbatch=",
                    only_ids={int(m.split("=")[1]) for m in names},
                )
                if stm.recrawl
                else spark.read.parquet(
                    *[os.path.join(triples_dir, n) for n in rel_names]
                )
            )
            if stm.recrawl and "url" in rel_stored.columns:
                rel_stored = rel_stored.join(
                    F.broadcast(stm.url_index()), ["url", "_batch"]
                )
            stm.rel_parts = [
                rel_stored
                .groupBy("subj", "pred", "obj")
                .agg(F.sum("n").cast("long").alias("n"))
                .localCheckpoint()
            ]
        stm._counted_ids = {int(n.split("=")[1]) for n in names}
        return stm

    def _canon(self, spark: SparkSession) -> DataFrame:
        if self.canon is None:
            self.canon = canonical_map(spark)  # memoized static map
        return self.canon

    def _release_spill(self) -> None:
        for df in self._spill:
            df.unpersist()
        self._spill = []

    def url_index(self) -> DataFrame:
        """(url, _batch): the LATEST batch that delivered each url —
        merge of the per-batch partials (max commutes like the count
        sums).  Empty frame before the first recrawl-mode batch."""
        if not self.url_parts:
            return self.embeddings.sparkSession.createDataFrame(
                [], "url string, _batch long"
            )
        return (
            _union_all(self.url_parts)
            .groupBy("url")
            .agg(F.max("_batch").alias("_batch"))
        )

    def _store_with_batch(
        self, spark: SparkSession, prefix: str, only_ids: Optional[set] = None
    ) -> DataFrame:
        """See ``_parts_with_batch``; resume passes ``only_ids`` (the
        triples parts' ids) so an orphan relbatch part (crash between
        the two writes) cannot desynchronize the rebuilt counts."""
        return _parts_with_batch(spark, self.triples_dir, prefix, only_ids)

    def _retractions(
        self, spark: SparkSession, replaced: DataFrame
    ) -> None:
        """Append NEGATIVE count partials for the superseded versions'
        stored rows: ``replaced`` is (url, _batch) naming, per recrawled
        url, exactly the version being superseded — so a url recrawled
        k times retracts each version exactly once.  Fully distributed:
        the stores join the broadcast-sized replaced set; at production
        scale the stores are url-bucketed so the probe prunes."""
        stale_t = self._store_with_batch(spark, "batch=").join(
            F.broadcast(replaced), ["url", "_batch"]
        )
        self.count_parts.append(
            stale_t.groupBy("obj")
            .agg((-F.count("*")).alias("n"))
            .localCheckpoint()
        )
        stale_r = self._store_with_batch(spark, "relbatch=")
        if stale_r is not None and "url" in stale_r.columns:
            self.rel_parts.append(
                stale_r.join(F.broadcast(replaced), ["url", "_batch"])
                .groupBy("subj", "pred", "obj")
                .agg((-F.sum("n")).cast("long").alias("n"))
                .localCheckpoint()
            )

    def process_batch(
        self, pages: DataFrame, batch_id: Optional[int] = None
    ) -> DataFrame:
        """One micro-batch of pages(url, text, ...) -> that batch's
        triples (same schema as the batch pipeline's), durably appended
        and folded into the live counts.  In recrawl mode a url seen in
        an earlier batch is SUPERSEDED: the old version's contribution
        is retracted from every live aggregate and the read paths serve
        only the latest version."""
        # the previous batch's triples have been consumed by the sink
        # (foreachBatch contract), so its scratch frames can go now
        self._release_spill()
        spark = pages.sparkSession
        mentions = detect_mentions(pages, model=self.model).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        mentions.count()  # populate eagerly: the triples fan-out and
        # the relation stream otherwise race the unpopulated cache on
        # the batch's first action and re-run the per-batch UDF (the
        # assemble_triples discipline); batch-sized, one extra job
        linked = link_mentions(mentions, self.embeddings)
        # an eager checkpoint: the sink write and the counts part below
        # read it without re-running the batch's stages
        triples = assemble_triples(linked, self._canon(spark))

        # relation partial counts: relation_stream is per-page (the
        # same property that makes the triples stateless), so each
        # batch's groupBy(subj, pred, obj).count() is a commutative
        # partial whose merged sum equals the batch aggregation; the
        # NPMI annotation is deferred to read time (relations()) —
        # it is a pure function of the merged integers.  Recrawl mode
        # keeps url in the DURABLE part (retraction filters by it);
        # the in-memory partial always drops it.
        rel_occ = relation_stream(pages, linked, self._canon(spark))
        rel_part = (
            rel_occ.groupBy("url", "subj", "pred", "obj")
            .agg(F.count("*").alias("n"))
            if self.recrawl
            else rel_occ.groupBy("subj", "pred", "obj")
            .agg(F.count("*").alias("n"))
        )

        if self.recrawl and batch_id is None:
            raise ValueError("recrawl supersession needs batch ids")
        if self.triples_dir is not None and batch_id is not None:
            # overwrite mode: a foreachBatch replay of the same batch_id
            # rewrites the same dir with the same rows — idempotent
            bcol = F.lit(batch_id).cast("long")
            (triples.withColumn("_batch", bcol) if self.recrawl
             else triples).write.mode("overwrite").parquet(
                os.path.join(self.triples_dir, f"batch={batch_id}")
            )
            (rel_part.withColumn("_batch", bcol) if self.recrawl
             else rel_part).write.mode("overwrite").parquet(
                os.path.join(self.triples_dir, f"relbatch={batch_id}")
            )
        if batch_id is None or batch_id not in self._counted_ids:
            if self.recrawl:
                # versions superseded by THIS batch: the index rows
                # (url -> previous latest batch) of this batch's urls.
                # Must be resolved against the index BEFORE this
                # batch's own url partial joins it.
                replaced = self.url_index().join(
                    pages.select("url").distinct(), "url"
                ).localCheckpoint()
                if not replaced.isEmpty():
                    self._retractions(spark, replaced)
                self.url_parts.append(
                    pages.select("url")
                    .distinct()
                    .withColumn("_batch", F.lit(batch_id).cast("long"))
                    .localCheckpoint()
                )
            # partial aggregate parts: bounded by the batch, map-side
            # combined, eagerly materialized so they outlive the spill
            self.count_parts.append(
                triples.groupBy("obj")
                .agg(F.count("*").alias("n"))
                .localCheckpoint()
            )
            self.rel_parts.append(
                rel_part.groupBy("subj", "pred", "obj")
                .agg(F.sum("n").cast("long").alias("n"))
                .localCheckpoint()
                if self.recrawl
                else rel_part.localCheckpoint()
            )
            if batch_id is not None:
                self._counted_ids.add(batch_id)
            self._parts_since_compact += 1
            if self._parts_since_compact >= self.compact_every:
                self._compact()
        self._spill = [mentions]
        return triples

    def _compact(self) -> None:
        """Fold the partial-count parts into one frame each.
        localCheckpoint is eager: the folded frame is materialized
        before the old parts are dropped (their blocks are freed by GC),
        and the union lineage is truncated."""
        folded = (
            _union_all(self.count_parts)
            .groupBy("obj")
            .agg(F.sum("n").alias("n"))
            .localCheckpoint()
        )
        # rel_parts can lag count_parts when resuming a pre-relations
        # store (no relbatch= dirs) — fold only what exists
        rel_folded = (
            [
                _union_all(self.rel_parts)
                .groupBy("subj", "pred", "obj")
                .agg(F.sum("n").cast("long").alias("n"))
                .localCheckpoint()
            ]
            if self.rel_parts else []
        )
        url_folded = (
            [
                _union_all(self.url_parts)
                .groupBy("url")
                .agg(F.max("_batch").alias("_batch"))
                .localCheckpoint()
            ]
            if self.url_parts else []
        )
        self.count_parts = [folded]
        self.rel_parts = rel_folded
        self.url_parts = url_folded
        self._parts_since_compact = 0

    def entity_counts(self) -> DataFrame:
        """Live (obj, n_triples) over everything processed so far —
        merge of the partial parts, never a re-aggregation of raw
        triples."""
        if not self.count_parts:
            return self.embeddings.sparkSession.createDataFrame(
                [], "obj string, n_triples long"
            )
        return (
            _union_all(self.count_parts)
            .groupBy("obj")
            .agg(F.sum("n").cast("long").alias("n_triples"))
            # recrawl retractions can zero an entity out entirely —
            # an exact cancellation, not a count of 0 triples
            .filter(F.col("n_triples") > 0)
        )

    def relations(self) -> DataFrame:
        """Live NPMI-annotated relation edges over everything processed
        so far — the merged (subj, pred, obj) partial counts fed to the
        batch annotator (relations_from_counts); integer sums commute,
        so this equals extract_relations over the whole corpus
        row-for-row."""
        if not self.rel_parts:
            return self.embeddings.sparkSession.createDataFrame(
                [],
                "subj string, pred string, obj string, rel_type string, "
                "n long, pair_n long, npmi double",
            )
        merged = (
            _union_all(self.rel_parts)
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") > 0)  # fully-retracted edges vanish
        )
        return relations_from_counts(merged)

    def triples(self, spark: SparkSession) -> DataFrame:
        """The durable triples store (complete parts only).  In recrawl
        mode, only each url's LATEST version: the store joins the tiny
        (url, latest-batch) index, so superseded rows never surface."""
        if self.triples_dir is None:
            raise ValueError("stream has no triples_dir")
        names = _part_dirs(self.triples_dir)
        if not names:
            return spark.createDataFrame(
                [],
                "subj string, pred string, obj string, url string, "
                "char_start int, char_end int, bucket int",
            )
        if self.recrawl:
            return (
                self._store_with_batch(spark, "batch=")
                .join(F.broadcast(self.url_index()), ["url", "_batch"])
                .drop("_batch")
            )
        return spark.read.parquet(
            *[os.path.join(self.triples_dir, n) for n in names]
        )

    def attach(
        self,
        pages_stream: DataFrame,
        sink: Optional[Callable[[DataFrame, int], None]] = None,
        checkpoint_dir: Optional[str] = None,
        trigger_once: bool = False,
    ):
        """Wire to a streaming pages DataFrame via foreachBatch;
        ``sink(triples_df, batch_id)``, when given, receives each
        batch's triples after the durable append."""

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            out = self.process_batch(batch_df, batch_id=batch_id)
            if sink is not None:
                sink(out, batch_id)

        writer = pages_stream.writeStream.foreachBatch(_process)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
