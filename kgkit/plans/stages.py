"""Checkpoint-resumable stage registry with per-partition lineage.

North-rule requirements (SURVEY §4.3.2-3): stages materialize to parquet
at a stage boundary; a re-run SKIPS stages whose output already exists
(idempotent resume — the batch analog of streaming checkpoints, the
reference has no streaming state, SURVEY §2.13); every stage appends
per-partition lineage rows (stage, partition_id, rows, wall_ms, ts) to a
``_lineage`` table next to the run.

Lineage capture is one extra narrow pass: groupBy(spark_partition_id())
— a count-shuffle of negligible width — so it is safe at any scale.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def _write_lineage(self, stage: str, df: DataFrame, wall_ms: float) -> None:
        lineage = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_ms", F.lit(float(wall_ms)))
            .select("stage", "partition_id", "rows", "wall_ms")
        )
        lineage.write.mode("append").parquet(os.path.join(self.run_dir, "_lineage"))

    def run(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Materialize ``build()`` to <run_dir>/<stage> unless already done."""
        out = self._out_path(stage)
        if self._done(stage):
            self.skipped.append(stage)
            return self.spark.read.parquet(out)
        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(out)
        wall_ms = (time.monotonic() - t0) * 1000
        result = self.spark.read.parquet(out)
        self._write_lineage(stage, result, wall_ms)
        self.executed.append(stage)
        return result

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
