"""Durable micro-batch parts with recrawl supersession — the part-store
protocol behind ``IncrementalKGStream``.

Layout.  Each micro-batch is written as one parquet part per part
family, ``<base_dir>/<prefix><id>``, in overwrite mode, with the batch
id as a ``_batch`` column.  The ``keys=<id>`` family holds the urls the
batch delivered; the other families hold its rows.  foreachBatch is
at-least-once, and a replayed batch rewrites the same dirs with the
same rows (the streamed pipelines are deterministic), so the store is
idempotent under replay.  Spark's ``_SUCCESS`` marker says a part is
complete.

Committed batches.  A batch counts only once EVERY one of its parts is
complete.  Reads, the retraction probe, the replay guard and ``resume``
see committed batches only, so a process that dies between two part
writes leaves a batch that is simply absent: its replay writes and
counts it in full.

Supersession.  A url that a later batch re-delivers supersedes its
stored version.  The latest-version index, ``(url, _batch)`` with each
url's highest committed batch, is read from the key parts, and the
reads join it (broadcast), so superseded rows never surface.  Because
the index comes from what each batch delivered, not from what it
produced, a url whose latest version yields no rows still supersedes
its older one, after ``resume`` as well as live.  A batch whose urls
are all new retracts nothing.

Live aggregates.  Each is declared once, as ``summarize(rows)``: a
map-side-combined groupBy with one additive value column ``n``.  The
store applies it in three places — to the batch's rows (+), to the
superseded versions' stored rows (−), and, in ``resume``, to all
latest committed rows — and reads merge the partials by summing.  Each
(url, previous-latest-batch) pair retracts exactly once, so k recrawls
retract k−1 versions; sums with mixed signs still commute, and a group
whose sum cancels to zero is dropped.  Partials are eager
``localCheckpoint``s (bounded by the batch, never a re-aggregation of
the store) and fold into one frame each every ``COMPACT_EVERY``
batches, which bounds the union plan depth.

The retraction probe joins the store against a broadcast of the
replaced set; at production scale the store is url-bucketed, so the
probe prunes to the touched buckets rather than scanning.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, List, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMPACT_EVERY = 8  # batches between folds of the live partials
KEYS = "keys="  # the part family of each batch's delivered urls
KEYS_SCHEMA = "url string, _batch long"


def union_all(parts: List[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def complete(path: str) -> bool:
    """Parquet dir fully written (Spark's _SUCCESS marker present)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class Aggregate(NamedTuple):
    """A live aggregate over one part family: ``summarize`` maps the
    family's rows to (*group columns, ``n``), ``n`` additive."""

    family: str
    summarize: Callable[[DataFrame], DataFrame]


class PartStore:
    """Committed parts under ``base_dir``, the latest-version url index
    and the live partials of each named aggregate, one aggregate per
    row family.  Every row family must carry ``url``."""

    def __init__(self, base_dir: str, aggregates: Dict[str, Aggregate]):
        self.base_dir = base_dir
        self.aggregates = aggregates
        self.families = [KEYS] + [a.family for a in aggregates.values()]
        self.partials: Dict[str, List[DataFrame]] = {n: [] for n in aggregates}
        self.counted: set = set()  # replay guard: committed, counted ids
        self._since_fold = 0

    def _path(self, family: str, batch_id: int) -> str:
        return os.path.join(self.base_dir, f"{family}{batch_id}")

    def committed(self) -> List[int]:
        """Ids of the batches whose every part is complete, ascending."""
        if not os.path.isdir(self.base_dir):
            return []
        ids = {
            int(d[len(KEYS):])
            for d in os.listdir(self.base_dir)
            if d.startswith(KEYS)
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
        reader = spark.read.schema(KEYS_SCHEMA) if family == KEYS else spark.read
        return reader.parquet(*[self._path(family, i) for i in ids])

    @staticmethod
    def _latest_batch(keys: DataFrame) -> DataFrame:
        return keys.groupBy("url").agg(F.max("_batch").alias("_batch"))

    def latest(self, spark: SparkSession, family: str) -> Optional[DataFrame]:
        """The family's committed rows of each url's latest version;
        None before the first batch."""
        rows = self.read(spark, family)
        if rows is None:
            return None
        index = self._latest_batch(self.read(spark, KEYS))
        return rows.join(F.broadcast(index), ["url", "_batch"]).drop("_batch")

    def live(self, name: str) -> Optional[DataFrame]:
        """The merged partials of aggregate ``name``, groups that cancel
        to zero dropped; None before the first batch."""
        if not self.partials[name]:
            return None
        merged = union_all(self.partials[name])
        groups = [c for c in merged.columns if c != "n"]
        return (
            merged.groupBy(*groups)
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") > 0)
        )

    def commit(
        self, batch_id: int, keys: DataFrame, rows: Dict[str, DataFrame]
    ) -> None:
        """Write the batch's part of every family (its delivered ``keys``
        and ``rows``), then fold it into the live state: first the
        retraction of the versions its urls supersede, then its own
        partials.  A replay of a counted batch rewrites the same parts
        and folds nothing."""
        bcol = F.lit(batch_id).cast("long")
        rows = {KEYS: keys.select("url").distinct(), **rows}
        for family in self.families:
            rows[family].withColumn("_batch", bcol).write.mode(
                "overwrite"
            ).parquet(self._path(family, batch_id))
        if batch_id in self.counted:
            return
        if min(self.committed()) < batch_id:  # else nothing to supersede
            self._retract(keys.sparkSession, batch_id)
        for name, agg in self.aggregates.items():
            self.partials[name].append(
                agg.summarize(rows[agg.family]).localCheckpoint()
            )
        self.counted.add(batch_id)
        self._since_fold += 1
        if self._since_fold >= COMPACT_EVERY:
            self.fold()

    def _retract(self, spark: SparkSession, batch_id: int) -> None:
        """Append the negated partials of the stored versions that the
        batch's urls supersede: each url at its latest EARLIER committed
        batch."""
        stored = self.read(spark, KEYS)
        replaced = (
            self._latest_batch(stored.filter(F.col("_batch") < batch_id))
            .join(stored.filter(F.col("_batch") == batch_id).select("url"), "url")
            .localCheckpoint()
        )
        if replaced.isEmpty():
            return
        for name, agg in self.aggregates.items():
            stale = self.read(spark, agg.family).join(
                F.broadcast(replaced), ["url", "_batch"]
            )
            self.partials[name].append(
                agg.summarize(stale).withColumn("n", -F.col("n"))
                .localCheckpoint()
            )

    def fold(self) -> None:
        """Fold each partial list into one frame.  localCheckpoint is
        eager: the folded frame is materialized before the old parts are
        dropped (their blocks are freed by GC), and the union lineage is
        truncated."""
        for name in self.aggregates:
            self.partials[name] = [self.live(name).localCheckpoint()]
        self._since_fold = 0

    def resume(self, spark: SparkSession) -> None:
        """Rebuild the live state from the committed parts without
        replaying the source: each aggregate from the latest rows, the
        replay guard from the committed ids."""
        ids = self.committed()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.base_dir}")
        for name, agg in self.aggregates.items():
            self.partials[name] = [
                agg.summarize(self.latest(spark, agg.family)).localCheckpoint()
            ]
        self.counted = set(ids)
