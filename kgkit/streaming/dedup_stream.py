"""Streaming near-duplicate detection — the recrawl dedup as a stream.

``incremental_near_dups`` (kgkit/operators/dedup.py) is the batch
recrawl shape: new-snapshot bands probe a static corpus band index.
A live crawl delivers snapshots as micro-batches, so this module wraps
the same operators in Structured Streaming's ``foreachBatch``:

  * the CORPUS index (shingles + band table) is computed ONCE and
    cached — exactly the "indexed when first deduped" state a
    production pipeline keeps as a bucketed table;
  * each micro-batch computes shingles/minhash/bands for ITS documents
    only and equi-joins the index.  Per-trigger COMPUTE is O(batch):
    the index side is a union of already-materialized frames, never
    re-derived from source text;
  * with ``grow_index=True`` each processed batch's shingle and band
    frames are APPENDED to the index as materialized parts (bands are
    per-document, so band(union) == union(bands) — nothing about the
    old index is recomputed).  Every ``compact_every`` batches the
    parts are compacted into one frame via an EAGER localCheckpoint,
    which (a) bounds the union plan depth and (b) guarantees the new
    frame is materialized BEFORE the old parts are released — a lazy
    persist-then-unpersist swap would silently rebuild the whole
    lineage from source on the next trigger.

The MinHash ``max_bucket`` skew cap is global over the index, so it is
applied at PROBE time: the index union is first pruned to the buckets
the batch actually touches (a broadcast of the batch's few band keys),
and bucket sizes are counted within that slice — identical counts to a
full-table cap (an equi-key prune keeps whole buckets), at O(touched
buckets) cost instead of O(index) per trigger.

foreachBatch (not a stateful operator) is the right tool here: the
join is against a large SELF-MANAGED index, not per-key state that
fits the applyInPandasWithState model, and it gives exactly-once per
micro-batch with checkpointLocation like any other sink.

Durability: localCheckpoint storage is executor-local, so without help
a crashed session rebuilds the index by replaying the stream from the
source checkpoint.  ``index_dir`` removes the replay: each processed
batch's shingle/band frames are ALSO written as parquet parts
(``shingles/batch=<id>``, ``bands/batch=<id>``), compaction folds them
into ``gen=<G>`` parts recorded by an atomically-renamed manifest, and
``IncrementalDedupStream.resume`` reloads exactly the live parts — the
same ``_SUCCESS``-marker discipline ``kgkit.plans.stages`` uses, plus
the manifest so a crash BETWEEN gen-write and part-deletion never
double-loads a folded part (duplicate index rows would duplicate
verify_jaccard pairs).  Restarting with the same checkpointLocation
then resumes from the source offsets with the grown index intact.
foreachBatch is at-least-once per batch: a sink failure or a crash
between the durable part write and the offset commit REPLAYS a batch
whose docs the index already contains, so ``process_batch`` keeps a
replay guard (``_indexed_ids``) — a replayed batch is anti-joined out
of its own pairs (no self-matches) and its part is never appended
twice (tests/test_dedup_stream.py::TestReplayIdempotence).
Deletion of folded parts is best-effort cleanup only (correctness
comes from the manifest); on a real cluster ``index_dir`` lives on
shared storage and the local ``shutil`` calls become FileSystem API
calls — the protocol (write parts, write gen, rename manifest, delete)
is storage-agnostic.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.operators.dedup import (
    _cap_buckets,
    lsh_band_table,
    minhash_signature,
    verify_jaccard,
    with_shingles,
)
from kgkit.streaming import store


def _scan_index_dir(index_dir: str) -> Tuple[Optional[str], List[str], set]:
    """Resolve the live durable parts: (latest valid gen name or None,
    sorted unfolded batch part names, the gen's folded part names).  A
    gen is valid only if BOTH its parquet dirs are complete AND its
    manifest exists — the manifest is renamed into place after the
    parquet write, so a torn compaction simply falls back to the
    previous gen plus the still-present batch parts it was folding."""
    sh_base = os.path.join(index_dir, "shingles")
    names = sorted(os.listdir(sh_base)) if os.path.isdir(sh_base) else []
    gens = []
    for d in names:
        if d.startswith("gen="):
            man = os.path.join(index_dir, f"manifest-{d.split('=')[1]}.json")
            if (
                store.complete(os.path.join(sh_base, d))
                and store.complete(os.path.join(index_dir, "bands", d))
                and os.path.exists(man)
            ):
                gens.append((int(d.split("=")[1]), d, man))
    folded: set = set()
    gen_name = None
    if gens:
        _, gen_name, man = max(gens)
        with open(man) as f:
            folded = set(json.load(f)["folded"])
    batch_parts = [
        d
        for d in names
        if d.startswith("batch=")
        and d not in folded
        and store.complete(os.path.join(sh_base, d))
        and store.complete(os.path.join(index_dir, "bands", d))
    ]
    return gen_name, batch_parts, folded


class IncrementalDedupStream:
    """Recrawl dedup state + per-micro-batch processing."""

    attach = store.attach

    def __init__(
        self,
        corpus: Optional[DataFrame],
        k: int = 8,
        bands: int = 4,
        rows: int = 2,
        threshold: float = 0.5,
        max_bucket: int = 1000,
        grow_index: bool = False,
        compact_every: int = 8,
        index_dir: Optional[str] = None,
    ):
        self.k, self.bands, self.rows = k, bands, rows
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.grow_index = grow_index
        self.compact_every = compact_every
        self.index_dir = index_dir
        self._gen = 0
        self._batches_since_compact = 0
        self._spill: List[DataFrame] = []  # previous batch's scratch frames
        # batch ids already folded into the index — the replay guard.
        # foreachBatch is at-least-once per batch: a sink failure (or a
        # crash between the durable part write and the offset commit)
        # replays a batch whose docs the index already contains, which
        # without the guard would emit self-pairs and append the part
        # twice (duplicated index rows double verify_jaccard output).
        self._indexed_ids: set = set()
        # index = lists of materialized frames; entry 0 is the corpus.
        # part_names tracks the durable dir behind each frame (resume /
        # compaction manifest bookkeeping); None when not durable.
        self.sh_parts: List[DataFrame] = []
        self.bt_parts: List[DataFrame] = []
        self.part_names: List[Optional[str]] = []
        if corpus is None:
            return  # resume() fills the parts from index_dir
        sh_c = with_shingles(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        bt_c = self._bands_of(sh_c).persist(StorageLevel.MEMORY_AND_DISK)
        if index_dir:
            self._durable_write(sh_c, bt_c, "batch=corpus")
        self.sh_parts, self.bt_parts = [sh_c], [bt_c]
        self.part_names = ["batch=corpus" if index_dir else None]

    @classmethod
    def resume(cls, spark: SparkSession, index_dir: str, **kwargs):
        """Rebuild the stream state from a durable ``index_dir`` without
        replaying the source: load the latest valid gen plus every
        unfolded, complete batch part.  Pair with the same streaming
        ``checkpoint_dir`` so the restarted query continues from the
        recorded source offsets."""
        stm = cls(None, index_dir=index_dir, **kwargs)
        gen_name, batch_parts, folded = _scan_index_dir(index_dir)
        names = ([gen_name] if gen_name else []) + batch_parts
        if not names:
            raise FileNotFoundError(f"no complete index parts in {index_dir}")
        if gen_name:
            stm._gen = int(gen_name.split("=")[1]) + 1
        for name in names:
            stm.sh_parts.append(
                spark.read.parquet(os.path.join(index_dir, "shingles", name))
            )
            stm.bt_parts.append(
                spark.read.parquet(os.path.join(index_dir, "bands", name))
            )
            stm.part_names.append(name)
        stm._batches_since_compact = sum(
            1 for n in names if n != "batch=corpus" and not n.startswith("gen=")
        )
        # replay guard: ids of every durably indexed batch — standalone
        # parts plus the parts the latest gen's manifest folded (the
        # replay window only ever reaches the most recent uncommitted
        # batch, so older, manifest-deleted generations are irrelevant)
        stm._indexed_ids = {
            int(n.split("=")[1])
            for n in batch_parts + list(folded)
            if n.startswith("batch=") and n.split("=")[1].isdigit()
        }
        return stm

    def _durable_write(self, sh: DataFrame, bt: DataFrame, name: str) -> None:
        """Overwrite-mode parquet per part dir: a foreachBatch retry of
        the same batch_id rewrites the same dirs (idempotent)."""
        sh.write.mode("overwrite").parquet(
            os.path.join(self.index_dir, "shingles", name)
        )
        bt.write.mode("overwrite").parquet(
            os.path.join(self.index_dir, "bands", name)
        )

    def _bands_of(self, shingled: DataFrame) -> DataFrame:
        """UNCAPPED band table — the max_bucket cap is applied at probe
        time (see module docstring: the cap is global over the grown
        index, so it cannot be baked into per-part tables)."""
        return lsh_band_table(
            minhash_signature(shingled, self.k), self.bands, self.rows
        )

    def _release_spill(self) -> None:
        for df in self._spill:
            df.unpersist()
        self._spill = []

    def process_batch(self, batch: DataFrame, batch_id: Optional[int] = None) -> DataFrame:
        """(corpus_doc_id, new_doc_id, jaccard) for one micro-batch of
        (doc_id, text) rows against the current index.  ``batch_id``
        (supplied by foreachBatch) names the durable part dir when
        ``index_dir`` is set."""
        # the previous batch's pairs have been consumed by the sink
        # (foreachBatch contract), so its scratch frames can go now
        self._release_spill()
        sh_b = with_shingles(batch).persist(StorageLevel.MEMORY_AND_DISK)
        bt_b = self._bands_of(sh_b).persist(StorageLevel.MEMORY_AND_DISK)

        # prune the index union to the buckets this batch touches, then
        # count bucket sizes within the slice (equi-key prune keeps
        # whole buckets, so the counts equal a full-table cap's)
        probe_keys = bt_b.select("band_idx", "band_hash").distinct()
        relevant = store.union_all(self.bt_parts).join(
            F.broadcast(probe_keys), ["band_idx", "band_hash"]
        )
        capped = _cap_buckets(relevant, self.max_bucket)

        cand = (
            capped.select(
                F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
            )
            .join(
                bt_b.select(
                    F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        pairs = verify_jaccard(
            cand, store.union_all(self.sh_parts), self.threshold, shingled_b=sh_b
        ).select(
            F.col("doc_a").alias("corpus_doc_id"),
            F.col("doc_b").alias("new_doc_id"),
            "jaccard",
        )
        # replay guard, output side: foreachBatch is at-least-once, so a
        # REPLAYED batch's docs are already in the index (its append ran,
        # the offset commit did not) and it would match against itself.
        # Reproduce the original emission by anti-joining out pairs
        # whose corpus side is the batch itself (build side batch-sized,
        # broadcast).  Replay-conditional on purpose: a FRESH batch may
        # legitimately re-carry a doc_id the corpus already has (a
        # recrawl of the same document), and those cross-version pairs
        # must flow.
        replay = (
            self.grow_index
            and batch_id is not None
            and batch_id in self._indexed_ids
        )
        if replay:
            pairs = pairs.join(
                F.broadcast(
                    batch.select(
                        F.col("doc_id").alias("corpus_doc_id")
                    ).distinct()
                ),
                "corpus_doc_id",
                "left_anti",
            )
        if self.grow_index:
            # materialize this batch's result NOW (eager localCheckpoint)
            # so it no longer references sh_b/bt_b lineage, then append
            # the batch frames to the index as new parts — nothing is
            # unpersisted here, so there is no lazy-swap window
            pairs = pairs.localCheckpoint()
            if replay:
                # replay guard, index side: the part is already in the
                # index (in-memory from a sink retry, or durable via
                # resume) — appending again would duplicate every index
                # row.  Just drop the recomputed scratch frames; the
                # durable dirs are overwrite-mode and unchanged.
                sh_b.unpersist()
                bt_b.unpersist()
            else:
                name = None
                if self.index_dir and batch_id is not None:
                    name = f"batch={batch_id}"
                    self._durable_write(sh_b, bt_b, name)
                if batch_id is not None:
                    self._indexed_ids.add(batch_id)
                self.sh_parts.append(sh_b)
                self.bt_parts.append(bt_b)
                self.part_names.append(name)
                self._batches_since_compact += 1
                if self._batches_since_compact >= self.compact_every:
                    self._compact()
        else:
            self._spill = [sh_b, bt_b]
        return pairs

    def _compact(self) -> None:
        """Fold the index parts into one frame each.  localCheckpoint is
        EAGER: the compacted frames are fully materialized before any
        old part is released, and the union lineage is truncated — the
        two properties a lazy persist/unpersist swap lacks.

        Durable protocol (index_dir set): write ``gen=<G>`` parquet,
        rename the manifest (the commit point) listing every folded
        part dir, THEN best-effort delete the folded dirs and older
        manifests.  Any crash inside this sequence leaves either the
        old gen + parts (manifest not yet renamed) or the new gen with
        folded dirs excluded by its manifest — never a double-load."""
        new_sh = store.union_all(self.sh_parts).localCheckpoint()
        new_bt = store.union_all(self.bt_parts).localCheckpoint()
        if self.index_dir:
            gen_name = f"gen={self._gen}"
            self._durable_write(new_sh, new_bt, gen_name)
            folded = [n for n in self.part_names if n is not None]
            man = os.path.join(self.index_dir, f"manifest-{self._gen}.json")
            tmp = man + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"gen": self._gen, "folded": folded}, f)
            os.replace(tmp, man)  # atomic commit point
            for n in folded:
                for sub in ("shingles", "bands"):
                    shutil.rmtree(
                        os.path.join(self.index_dir, sub, n), ignore_errors=True
                    )
            for g in range(self._gen):
                try:
                    os.remove(
                        os.path.join(self.index_dir, f"manifest-{g}.json")
                    )
                except OSError:
                    pass
            self._gen += 1
            self.part_names = [gen_name]
        else:
            self.part_names = [None]
        for df in self.sh_parts + self.bt_parts:
            df.unpersist()
        self.sh_parts = [new_sh]
        self.bt_parts = [new_bt]
        self._batches_since_compact = 0
