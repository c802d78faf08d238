"""Durable micro-batch parts with recrawl supersession — the part-store
protocol behind ``IncrementalKGStream``.

Layout.  Each micro-batch is written as one parquet part per part
family, ``<base_dir>/<family>/_batch=<id>/``, in overwrite mode.  The
``keys`` family holds the urls the batch delivered; the other families
hold its rows.  Every family's schema is declared once, and parts are
written and read with it: a batch whose rows do not fit the declaration
fails before its write, a stored part whose column types differ fails
its read, and no read runs a schema-inference job.  foreachBatch is
at-least-once, and a replayed batch rewrites the same dirs with the
same rows (the streamed pipelines are deterministic), so the store is
idempotent under replay.  Spark's ``_SUCCESS`` marker says a part is
complete.

The batch id never enters a plan.  A part's rows do not store it: a
read names the committed part dirs explicitly and gets ``_batch`` back
as their partition value, typed by the declaration (parsed from the
paths on the driver, no job).  Every choice of batches by id, the
retraction's included, is a choice of part dirs made on the driver from
``committed()``, never a filter on a literal.  So every batch runs the
same generated classes whatever its id, and a session that keeps them
(the codegen cache of ``kgkit.SESSION_CONF``) compiles none for a warm
batch.

Committed batches.  A batch counts only once EVERY one of its parts is
complete.  Reads, the retraction, the replay guard and ``resume`` see
committed batches only, so a process that dies between two part writes
leaves a batch that is simply absent: its replay writes and counts it
in full.

Supersession.  A url that a later batch re-delivers supersedes its
stored version.  The reads anti-join the key parts (broadcast): a
stored row survives unless a later committed batch delivered its url,
so superseded rows never surface.  Because the key parts record what
each batch delivered, not what it produced, a url whose latest version
yields no rows still supersedes its older one, after ``resume`` as well
as live.

Live aggregates.  Each is declared once, as a sum of one additive
column ``n`` (or of 1 per row) by its group columns, and is kept as a
view of ONE materialized frame that every aggregate shares.  ``commit``
replaces that frame by a single groupBy over one union tagged by
aggregate name (each aggregate's group columns padded by null to the
union of all of them): the current frame, each aggregate's batch rows
(+) and the stored rows of the versions the batch's urls supersede (−),
filtered to ``n > 0`` and eagerly ``localCheckpoint``ed once.  Each
view is that checkpoint filtered to its tag, so a read scans a frame
sized by the aggregates' groups (entities, relation edges), never by
the store or by the number of batches, and a commit merges every
aggregate in one shuffle.  Each (url, previous-latest-batch) pair
retracts exactly once, so k recrawls retract k−1 versions; a group
whose sum cancels to zero is dropped.  ``resume`` builds the frame from
the latest committed rows.

The retraction probe joins the store against a broadcast of the
replaced set; at production scale the store is url-bucketed, so the
probe prunes to the touched buckets rather than scanning.
"""

from __future__ import annotations

import os
from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

KEYS = "keys"  # the part family of each batch's delivered urls
BATCH = "_batch"  # the partition key of a part dir: its batch id
TAG = "_aggregate"  # the merged frame's aggregate-name column


def complete(path: str) -> bool:
    """Parquet dir fully written (Spark's _SUCCESS marker present)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class Aggregate(NamedTuple):
    """A live aggregate over one part family: the sum of the family's
    ``weight`` column (1 per row when None) by its ``groups``, kept as
    (*groups, ``n``)."""

    family: str
    groups: Tuple[str, ...]
    weight: Optional[str] = None

    def terms(self, rows: DataFrame, sign: int = 1) -> DataFrame:
        n = self.weight or "1"
        return rows.selectExpr(
            *self.groups, f"CAST({n} * {int(sign)} AS BIGINT) AS n"
        )


class PartStore:
    """Committed parts under ``base_dir``, read at each url's latest
    version, and one view per named aggregate, each a slice of one
    materialized frame.
    ``families`` maps each row family to the DDL of its rows; every row
    family must carry ``url``."""

    def __init__(
        self,
        base_dir: str,
        families: Dict[str, str],
        aggregates: Dict[str, Aggregate],
    ):
        self.base_dir = base_dir
        ddls = {KEYS: "url string", **families}
        # parsed once: each commit writes every family's rows, and each
        # read returns them with their part's batch id
        self.schemas = {f: StructType.fromDDL(d) for f, d in ddls.items()}
        self.read_schemas = {
            f: StructType.fromDDL(f"{d}, {BATCH} long") for f, d in ddls.items()
        }
        self.aggregates = aggregates
        self.merged: Optional[DataFrame] = None  # every view's checkpoint
        self.views: Dict[str, Optional[DataFrame]] = {n: None for n in aggregates}
        self.counted: set = set()  # replay guard: committed, counted ids

    def _path(self, family: str, batch_id: int) -> str:
        return os.path.join(self.base_dir, family, f"{BATCH}={batch_id}")

    def committed(self) -> List[int]:
        """Ids of the batches whose every part is complete, ascending."""
        keys = os.path.join(self.base_dir, KEYS)
        if not os.path.isdir(keys):
            return []
        prefix = f"{BATCH}="
        ids = {
            int(d[len(prefix):]) for d in os.listdir(keys) if d.startswith(prefix)
        }
        return sorted(
            i for i in ids
            if all(complete(self._path(f, i)) for f in self.schemas)
        )

    def read(
        self, spark: SparkSession, family: str, ids: Optional[List[int]] = None
    ) -> Optional[DataFrame]:
        """The family's rows of the committed batches ``ids`` (all of
        them when None), with ``_batch``, in the declared schema; None
        when there are none."""
        ids = self.committed() if ids is None else ids
        if not ids:
            return None
        return (
            spark.read.schema(self.read_schemas[family])
            .option("basePath", os.path.join(self.base_dir, family))
            .parquet(*[self._path(family, i) for i in ids])
        )

    def latest(self, spark: SparkSession, family: str) -> Optional[DataFrame]:
        """The family's committed rows of each url's latest version —
        those no later committed batch re-delivered; None before the
        first batch."""
        rows = self.read(spark, family)
        if rows is None:
            return None
        later = self.read(spark, KEYS).select(
            F.col("url").alias("_url"), F.col(BATCH).alias("_later")
        )
        superseded = (F.col("url") == F.col("_url")) & (
            F.col("_later") > F.col(BATCH)
        )
        return rows.join(F.broadcast(later), superseded, "left_anti").drop(BATCH)

    def live(self, name: str) -> Optional[DataFrame]:
        """The materialized view of aggregate ``name``; None before the
        first batch."""
        return self.views[name]

    def _merge(self, terms: Dict[str, List[DataFrame]]) -> None:
        """Replace the merged frame by one groupBy over the current frame
        and every aggregate's ``terms``, and each view by its slice."""
        tagged = [self.merged] if self.merged is not None else []
        for name, frames in terms.items():
            groups = self.aggregates[name].groups
            tagged += [
                f.selectExpr(f"'{name}' AS {TAG}", *groups, "n") for f in frames
            ]
        out = tagged[0]
        for t in tagged[1:]:  # pads each aggregate's missing groups by null
            out = out.unionByName(t, allowMissingColumns=True)
        columns = [c for c in out.columns if c not in (TAG, "n")]
        self.merged = (
            out.groupBy(TAG, *columns)
            .agg(F.expr("CAST(sum(n) AS BIGINT) AS n"))
            .filter("n > 0")
            .localCheckpoint()
        )
        self.views = {
            name: self.merged.filter(f"{TAG} = '{name}'").select(*agg.groups, "n")
            for name, agg in self.aggregates.items()
        }

    def commit(
        self, batch_id: int, keys: DataFrame, rows: Dict[str, DataFrame]
    ) -> bool:
        """Write the batch's part of every family (its delivered ``keys``
        and ``rows``), then merge it into every view in one groupBy, net
        of the versions its urls supersede.  A replay of a counted batch
        rewrites the same parts and merges nothing.  True when the
        views changed."""
        spark = keys.sparkSession
        rows = {KEYS: keys.select("url"), **rows}
        parts = {  # every part fits its declaration before any is written
            family: rows[family].to(schema)
            for family, schema in self.schemas.items()
        }
        for family, part in parts.items():
            part.write.mode("overwrite").parquet(self._path(family, batch_id))
        if batch_id in self.counted:
            return False
        earlier = [i for i in self.committed() if i < batch_id]
        replaced = None
        if earlier:  # else nothing to supersede
            replaced = self._replaced(spark, batch_id, earlier)
        terms = {}
        for name, agg in self.aggregates.items():
            terms[name] = [agg.terms(rows[agg.family])]
            if replaced is not None:
                stale = self.read(spark, agg.family, earlier).join(
                    F.broadcast(replaced), ["url", BATCH]
                )
                terms[name].append(agg.terms(stale, -1))
        self._merge(terms)
        self.counted.add(batch_id)
        return True

    def _replaced(
        self, spark: SparkSession, batch_id: int, earlier: List[int]
    ) -> DataFrame:
        """The stored versions that the batch's urls supersede: each url
        at its latest committed batch of ``earlier``.  Not materialized:
        the one merge broadcasts it into every aggregate's retraction,
        and the identical broadcasts run once (a reused exchange)."""
        return (
            self.read(spark, KEYS, earlier)
            .groupBy("url")
            .agg(F.max(BATCH).alias(BATCH))
            .join(self.read(spark, KEYS, [batch_id]), "url", "left_semi")
        )

    def resume(self, spark: SparkSession) -> None:
        """Rebuild the live state from the committed parts without
        replaying the source: each view from the latest rows, the
        replay guard from the committed ids."""
        ids = self.committed()
        if not ids:
            raise FileNotFoundError(f"no committed batches in {self.base_dir}")
        self.merged = None
        self._merge({
            name: [agg.terms(self.latest(spark, agg.family))]
            for name, agg in self.aggregates.items()
        })
        self.counted = set(ids)
