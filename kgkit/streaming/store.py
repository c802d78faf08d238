"""Durable micro-batch parts with recrawl supersession — the one
protocol behind ``IncrementalKGStream`` and
``IncrementalBoilerplateStream``.

Layout.  Each micro-batch is written as one parquet part per part
family, ``<base_dir>/<prefix><id>``, in overwrite mode, with the batch
id as a ``_batch`` column.  foreachBatch is at-least-once, and a
replayed batch rewrites the same dirs with the same rows (the streamed
pipelines are deterministic), so the store is idempotent under replay.
Spark's ``_SUCCESS`` marker says a part is complete.

Committed batches.  A batch counts only once EVERY one of its parts is
complete.  Reads, the retraction probe, the replay guard and ``resume``
see committed batches only, so a process that dies between two part
writes leaves a batch that is simply absent: its replay writes and
counts it in full.

Supersession.  Each batch delivers a set of keys (url, doc_id).  A key
that a later batch re-delivers supersedes its stored version: a tiny
``(key, _batch)`` index, merged by max, names each key's latest batch,
and the reads join it (broadcast), so superseded rows never surface.
A batch whose keys are all new retracts nothing.

Live aggregates.  Each is declared once, as ``summarize(rows)``: a
map-side-combined groupBy with one additive value column.  The store
applies it in three places — to the batch's rows (+), to the
superseded versions' stored rows (−), and, in ``resume``, to all
latest committed rows — and reads merge the partials by summing.  Each
(key, previous-latest-batch) pair retracts exactly once, so k recrawls
retract k−1 versions; sums with mixed signs still commute, and a group
whose sum cancels to zero is dropped.  Partials are eager
``localCheckpoint``s (bounded by the batch, never a re-aggregation of
the store) and fold into one frame each every ``COMPACT_EVERY``
batches, which bounds the union plan depth.

The retraction probe joins the store against a broadcast of the
replaced set; at production scale the store is key-bucketed, so the
probe prunes to the touched buckets rather than scanning.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, List, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMPACT_EVERY = 8  # batches between folds of the live partials


def union_all(parts: List[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def complete(path: str) -> bool:
    """Parquet dir fully written (Spark's _SUCCESS marker present)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def attach(
    stream,
    source: DataFrame,
    sink: Optional[Callable[[DataFrame, int], None]] = None,
    checkpoint_dir: Optional[str] = None,
    trigger_once: bool = False,
):
    """Wire ``stream.process_batch`` to a streaming DataFrame via
    foreachBatch; ``sink(out, batch_id)``, when given, receives each
    batch's output.  The streams bind this as their ``attach`` method."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = stream.process_batch(batch_df, batch_id=batch_id)
        if sink is not None:
            sink(out, batch_id)

    writer = source.writeStream.foreachBatch(_process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class Aggregate(NamedTuple):
    """A live aggregate over one part family: ``summarize`` maps the
    family's rows to (*group columns, ``value``), ``value`` additive."""

    family: str
    summarize: Callable[[DataFrame], DataFrame]
    value: str


class PartStore:
    """Committed parts under ``base_dir``, the latest-version index of
    ``key`` and the live partials of each named aggregate.  Every part
    family must carry ``key``; the first family's keys rebuild the
    index on ``resume``."""

    def __init__(
        self, base_dir: str, key: str, aggregates: Dict[str, Aggregate]
    ):
        self.base_dir = base_dir
        self.key = key
        self.aggregates = aggregates
        self.families = list(dict.fromkeys(a.family for a in aggregates.values()))
        self.partials: Dict[str, List[DataFrame]] = {n: [] for n in aggregates}
        self.index_parts: List[DataFrame] = []  # (key, _batch) partials
        self.counted: set = set()  # replay guard: committed, counted ids
        self._since_fold = 0

    def _path(self, family: str, batch_id: int) -> str:
        return os.path.join(self.base_dir, f"{family}{batch_id}")

    def committed(self) -> List[int]:
        """Ids of the batches whose every part is complete, ascending."""
        if not os.path.isdir(self.base_dir):
            return []
        first = self.families[0]
        ids = {
            int(d[len(first):])
            for d in os.listdir(self.base_dir)
            if d.startswith(first)
        }
        return sorted(
            i for i in ids
            if all(complete(self._path(f, i)) for f in self.families)
        )

    def read(self, spark: SparkSession, family: str) -> Optional[DataFrame]:
        """The family's rows of every committed batch, with ``_batch``;
        None when nothing is committed."""
        ids = self.committed()
        if not ids:
            return None
        return spark.read.parquet(*[self._path(family, i) for i in ids])

    def index(self) -> DataFrame:
        """(key, _batch): the latest batch that delivered each key."""
        return (
            union_all(self.index_parts)
            .groupBy(self.key)
            .agg(F.max("_batch").alias("_batch"))
        )

    def latest(self, spark: SparkSession, family: str) -> Optional[DataFrame]:
        """The family's committed rows of each key's latest version;
        None before the first batch."""
        rows = self.read(spark, family)
        if rows is None or not self.index_parts:
            return None
        return rows.join(
            F.broadcast(self.index()), [self.key, "_batch"]
        ).drop("_batch")

    def live(self, name: str) -> Optional[DataFrame]:
        """The merged partials of aggregate ``name``, groups that cancel
        to zero dropped; None before the first batch."""
        if not self.partials[name]:
            return None
        value = self.aggregates[name].value
        merged = union_all(self.partials[name])
        groups = [c for c in merged.columns if c != value]
        return (
            merged.groupBy(*groups)
            .agg(F.sum(value).cast("long").alias(value))
            .filter(F.col(value) > 0)
        )

    def commit(
        self, batch_id: int, keys: DataFrame, rows: Dict[str, DataFrame]
    ) -> Dict[str, DataFrame]:
        """Write the batch's part of every family (``rows``), then fold
        it into the live state: first the retraction of the versions
        its ``keys`` supersede, then its own partials.  A replay of a
        counted batch rewrites the same parts and folds nothing.
        Returns the batch's own (materialized) partials by name."""
        bcol = F.lit(batch_id).cast("long")
        for family in self.families:
            rows[family].withColumn("_batch", bcol).write.mode(
                "overwrite"
            ).parquet(self._path(family, batch_id))
        plus = {
            name: agg.summarize(rows[agg.family]).localCheckpoint()
            for name, agg in self.aggregates.items()
        }
        if batch_id in self.counted:
            return plus
        spark = keys.sparkSession
        keys = keys.select(self.key).distinct()
        if self.index_parts:
            # resolved against the index BEFORE this batch's keys join it
            replaced = self.index().join(keys, self.key).localCheckpoint()
            if not replaced.isEmpty():
                for name, agg in self.aggregates.items():
                    stale = self.read(spark, agg.family).join(
                        F.broadcast(replaced), [self.key, "_batch"]
                    )
                    self.partials[name].append(
                        agg.summarize(stale)
                        .withColumn(agg.value, -F.col(agg.value))
                        .localCheckpoint()
                    )
        self.index_parts.append(keys.withColumn("_batch", bcol).localCheckpoint())
        for name, part in plus.items():
            self.partials[name].append(part)
        self.counted.add(batch_id)
        self._since_fold += 1
        if self._since_fold >= COMPACT_EVERY:
            self.fold()
        return plus

    def fold(self) -> None:
        """Fold each partial list into one frame.  localCheckpoint is
        eager: the folded frame is materialized before the old parts are
        dropped (their blocks are freed by GC), and the union lineage is
        truncated."""
        for name in self.aggregates:
            self.partials[name] = [self.live(name).localCheckpoint()]
        self.index_parts = [self.index().localCheckpoint()]
        self._since_fold = 0

    def resume(self, spark: SparkSession) -> None:
        """Rebuild the live state from the committed parts without
        replaying the source: the index from the first family's keys,
        each aggregate from the latest rows, the replay guard from the
        committed ids."""
        ids = self.committed()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.base_dir}")
        self.index_parts = [
            self.read(spark, self.families[0])
            .groupBy(self.key)
            .agg(F.max("_batch").alias("_batch"))
            .localCheckpoint()
        ]
        for name, agg in self.aggregates.items():
            self.partials[name] = [
                agg.summarize(self.latest(spark, agg.family)).localCheckpoint()
            ]
        self.counted = set(ids)
