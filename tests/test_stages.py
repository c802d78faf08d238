"""Checkpoint-resume + per-partition lineage (north rule; SURVEY §4.3.2-3)."""

from __future__ import annotations

import shutil
import tempfile

import pytest


@pytest.fixture(scope="module")
def run_dir():
    d = tempfile.mkdtemp(prefix="kgkit_stage_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestStageRunner:
    SF = "/root/testdata/sf0.001"

    def test_first_run_executes_all(self, spark, run_dir):
        from kgkit.plans.stages import run_kg_pipeline

        result = run_kg_pipeline(spark, self.SF, run_dir)
        assert result["runner"].executed == [
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        ]
        assert result["runner"].skipped == []
        assert result["triples"].count() > 0

    def test_lineage_rows_sum_to_stage_outputs(self, spark, run_dir):
        from pyspark.sql import functions as F

        lineage = spark.read.parquet(f"{run_dir}/_lineage")
        per_stage = {
            r["stage"]: r["rows"]
            for r in lineage.groupBy("stage")
            .agg(F.sum("rows").alias("rows")).collect()
        }
        assert per_stage == {
            stage: spark.read.parquet(f"{run_dir}/{stage}").count()
            for stage in (
                "stage1_mentions", "stage2_linked", "stage3_canonical",
                "stage4_triples", "stage4b_relations",
            )
        }

    def test_skipped_rerun_appends_no_lineage(self, spark, run_dir):
        from kgkit.plans.stages import run_kg_pipeline

        n = spark.read.parquet(f"{run_dir}/_lineage").count()
        assert run_kg_pipeline(spark, self.SF, run_dir)["runner"].executed == []
        assert spark.read.parquet(f"{run_dir}/_lineage").count() == n

    def test_resume_skips_all_and_is_identical(self, spark, run_dir):
        from kgkit.plans.stages import run_kg_pipeline

        first = run_kg_pipeline(spark, self.SF, run_dir)
        n_first = first["triples"].count()
        again = run_kg_pipeline(spark, self.SF, run_dir)
        assert again["runner"].executed == []
        assert set(again["runner"].skipped) == {
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        }
        assert again["triples"].count() == n_first

    def test_partial_resume(self, spark, run_dir):
        import os

        from kgkit.plans.stages import run_kg_pipeline

        # invalidate only stage4 -> stages 1-3 skip, stage4 re-executes
        shutil.rmtree(os.path.join(run_dir, "stage4_triples"))
        result = run_kg_pipeline(spark, self.SF, run_dir)
        assert result["runner"].executed == ["stage4_triples"]
        assert "stage1_mentions" in result["runner"].skipped

    def test_lineage_rows(self, spark, run_dir):
        from pyspark.sql import functions as F

        lineage = spark.read.parquet(f"{run_dir}/_lineage")
        stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
        assert stages == {
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        }
        row = lineage.agg(
            F.sum("rows").alias("rows"), F.min("wall_ms").alias("w")
        ).collect()[0]
        assert row["rows"] > 0 and row["w"] >= 0
        assert dict(lineage.dtypes) == {
            "stage": "string", "partition_id": "int", "rows": "bigint",
            "wall_ms": "double",
        }


class TestLineage:
    def test_zero_row_stage_gets_a_lineage_row(self, spark, tmp_path):
        from kgkit.plans.stages import StageRunner

        runner = StageRunner(spark, str(tmp_path))
        out = runner.run("empty", lambda: spark.range(5).filter("id > 9"))
        assert out.count() == 0 and out.columns == ["id"]
        rows = runner.lineage().collect()
        assert [(r["stage"], r["rows"]) for r in rows] == [("empty", 0)]

    def test_appends_to_a_spark_written_table(self, spark, tmp_path):
        """A run dir whose ``_lineage`` a Spark write started still reads
        as one table after the runner appends to it."""
        from kgkit.plans.stages import StageRunner

        spark.createDataFrame(
            [("old", 0, 3, 1.5)],
            "stage string, partition_id int, rows bigint, wall_ms double",
        ).write.parquet(str(tmp_path / "_lineage"))
        runner = StageRunner(spark, str(tmp_path))
        runner.run("new", lambda: spark.range(4).repartition(2))
        lineage = runner.lineage()
        assert dict(lineage.dtypes) == {
            "stage": "string", "partition_id": "int", "rows": "bigint",
            "wall_ms": "double",
        }
        got = {}
        for r in lineage.collect():
            got[r["stage"]] = got.get(r["stage"], 0) + r["rows"]
        assert got == {"old": 3, "new": 4}
