"""Checkpoint-resumable stage registry with per-partition lineage.

North-rule requirements (SURVEY §4.3.2-3): stages materialize to parquet
at a stage boundary; a re-run SKIPS stages whose output already exists
(idempotent resume — the batch analog of streaming checkpoints, the
reference has no streaming state, SURVEY §2.13); every executed stage
appends per-partition lineage rows (stage, partition_id, rows, wall_ms)
to a ``_lineage`` table next to the run.

A stage boundary costs the stage's own jobs and its one parquet write,
nothing more, and a skipped stage costs no job.  The output is read
back with the schema of the frame just written, a skipped stage's with
the Spark schema its writer recorded in a part footer (so no read runs
a schema-inference job), and the lineage rows come from
the written files on the driver: the partition id is a part file's
``part-NNNNN`` task number, its row count the parquet footer's
``num_rows`` (summed when one task wrote several files).  They are
appended as one parquet file per stage, in the column types a Spark
write gives them (string, int, bigint, double).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PART = re.compile(r"part-(\d+)")
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _written_schema(out: str) -> StructType:
    """The Spark schema recorded in the footer of a part file of the
    parquet dir ``out`` (a 0-row stage still has its schema-only part)."""
    name = min(n for n in os.listdir(out) if _PART.match(n))
    meta = pq.read_metadata(os.path.join(out, name)).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA]))


class StageRunner:
    """Run named stages with materialize / skip-if-done / lineage."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        self.executed: List[str] = []
        self.skipped: List[str] = []

    def _out_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._out_path(stage), "_SUCCESS"))

    def _write_lineage(self, stage: str, out: str, wall_ms: float) -> None:
        """Append one row per write task of the parquet dir ``out``: its
        ``part-NNNNN`` number and the rows of its files, from their
        footers (a 0-row stage still has its one schema-only part file,
        so it still gets a row).  One parquet file, written under a
        hidden name and renamed, so a reader never sees it torn."""
        rows: Dict[int, int] = {}
        for name in os.listdir(out):
            m = _PART.match(name)
            if m:
                part = int(m.group(1))
                n = pq.read_metadata(os.path.join(out, name)).num_rows
                rows[part] = rows.get(part, 0) + n
        ids = sorted(rows)
        table = pa.table({
            "stage": pa.array([stage] * len(ids), pa.string()),
            "partition_id": pa.array(ids, pa.int32()),
            "rows": pa.array([rows[i] for i in ids], pa.int64()),
            "wall_ms": pa.array([float(wall_ms)] * len(ids), pa.float64()),
        })
        path = os.path.join(self.run_dir, "_lineage")
        os.makedirs(path, exist_ok=True)
        name = f"{stage}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))

    def run(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Materialize ``build()`` to <run_dir>/<stage> unless already done."""
        out = self._out_path(stage)
        if self._done(stage):
            self.skipped.append(stage)
            return self.spark.read.schema(_written_schema(out)).parquet(out)
        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(out)
        wall_ms = (time.monotonic() - t0) * 1000
        self._write_lineage(stage, out, wall_ms)
        self.executed.append(stage)
        return self.spark.read.schema(df.schema).parquet(out)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.run_dir, "_lineage"))


def run_kg_pipeline(
    spark: SparkSession,
    sf_dir: str,
    run_dir: str,
    n_buckets: int = 64,
) -> Dict[str, DataFrame]:
    """The KG pipeline (SURVEY §3.4), checkpoint-resumable.

    pages -> mentions -> linked -> (canonical map) -> triples
                                                   -> relations (4b)
    """
    from kgkit.operators.canonicalize import canonical_map
    from kgkit.operators.linking import link_mentions
    from kgkit.operators.mentions import detect_mentions
    from kgkit.operators.relations import extract_relations
    from kgkit.operators.triples import assemble_triples
    from kgkit.sources.pages import load_pages, pages_for_mentions

    runner = StageRunner(spark, run_dir)
    pages = pages_for_mentions(load_pages(spark, sf_dir))
    embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    mentions = runner.run("stage1_mentions", lambda: detect_mentions(pages))
    linked = runner.run("stage2_linked", lambda: link_mentions(mentions, embeddings))
    canon = runner.run("stage3_canonical", lambda: canonical_map(spark))
    triples = runner.run(
        "stage4_triples", lambda: assemble_triples(linked, canon, n_buckets)
    )
    relations = runner.run(
        "stage4b_relations", lambda: extract_relations(pages, linked, canon)
    )
    return {
        "mentions": mentions,
        "linked": linked,
        "canonical": canon,
        "triples": triples,
        "relations": relations,
        "runner": runner,
    }
