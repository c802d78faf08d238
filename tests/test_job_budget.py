"""Spark job and compile budget of the incremental KG stream and the
batch build.

At this scale a call's wall follows the number of Spark jobs it
launches and of the classes it compiles, not its rows, so the job
counts are pinned exactly, each call counted under its own job group
with ``statusTracker``:

* the stream on a 2-batch sf0.001 recrawl (its second batch re-delivers
  a third of the first's urls with new text);
* each of ``run_kg_pipeline``'s five ``StageRunner`` stages on sf0.001
  (the build's own jobs and its one parquet write: the read-back and
  the lineage rows launch none), a stage whose build launches no job,
  and a skipped stage (its read-back takes the schema from a part
  footer: no job);
* ``link_mentions`` on a fresh embeddings table, cold and warm: the
  cold call fetches the ambiguous-entity vectors and probes the scores
  broadcast gate, a warm call on the same table reuses both.

A change that adds a job to one of these calls must update its pin,
and say why.

Live reads serve the views that ``commit`` materialized: a count or
relation read is one job (the scan of a checkpoint), a triples read two
(the broadcast of the key parts, then the anti-joined scan).  The
session's memoized dimension tables are warmed by a throwaway stream
and a throwaway build first, so the counts do not depend on which tests
ran before.

Compiles are counted as the delta of Spark's codegen compilation
metric (in local mode the driver and the tasks share one JVM, so one
class cache and one counter).  After the throwaway stream, a batch
compiles nothing even though its id is new to the session (the id
never enters a plan), nor does a read; after the throwaway build, no
stage does.  The throwaway stream's first batch is the session's first
stream batch when this module runs before the other stream tests (as
in the suite's order): it must compile classes, or the counter counts
nothing.
"""

from __future__ import annotations

import itertools
from typing import NamedTuple

import pytest
from test_kg_stream import SF_DIR  # the stream tests' sf0.001 data

# the measured stream's batch ids: no test commits them before this
# module, so each is an id that the session has never committed
UNSEEN_IDS = (1000, 1001)

BUDGET = {  # exact job counts per call ("process_batch i": the i-th batch)
    # batch 0's relation count also runs a runtime bloom filter over
    # its pages (2 jobs): the linked checkpoint's size estimate is a
    # product of its joins' inputs and crosses the filter's 10 GiB
    # application-side threshold at this scale
    "process_batch 0": 21,
    "process_batch 1": 22,
    "entity_counts": 1,
    "relations": 1,
    "triples": 2,
    "resumed entity_counts": 1,
    "resumed relations": 1,
    "resumed triples": 2,
}

STAGE_BUDGET = {  # run_kg_pipeline on sf0.001, exact jobs per stage
    "stage1_mentions": 1,
    "stage2_linked": 2,
    "stage3_canonical": 1,
    "stage4_triples": 4,
    "stage4b_relations": 10,
    "job-free build": 1,  # StageRunner's own cost: the write alone
    "skipped stage": 0,
}
WARM_STAGES = [s for s in STAGE_BUDGET if s.startswith("stage")]

LINK_BUDGET = {  # link_mentions(...).localCheckpoint() on a fresh table
    "cold": 5,
    # the cold call's jobs minus the vector fetch (1) and the broadcast
    # gate's probe (2: the limit's exchange, then the count)
    "warm": 2,
    "warm build": 0,  # link_mentions alone: the plan comes from the memo
}

_groups = itertools.count()


class Cost(NamedTuple):
    jobs: int
    compiles: int


def _cost(spark, fn) -> Cost:
    """Jobs that ``fn()`` launched, counted under a fresh job group, and
    the classes that Spark's code generator compiled meanwhile."""
    sc = spark.sparkContext
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, "job budget")
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - compiled
    return Cost(len(sc.statusTracker().getJobIdsForGroup(group)), compiled)


@pytest.fixture(scope="module")
def counted(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from kgkit.sources.pages import load_pages, pages_for_mentions
    from kgkit.streaming.kg_stream import IncrementalKGStream

    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pages = pages_for_mentions(load_pages(spark, SF_DIR))
    a = pages.filter("pmod(xxhash64(url), 2) = 0")
    b = pages.filter("pmod(xxhash64(url), 2) = 1")
    a2 = a.filter("pmod(xxhash64(url), 3) = 0").withColumn(
        "text", F.concat(F.lit("fresh spark stream content "), F.col("text"))
    )
    base = tmp_path_factory.mktemp("job_budget")
    batches = [a, b.unionByName(a2)]

    def read(got, prefix, stm):
        got[prefix + "entity_counts"] = _cost(
            spark, lambda: stm.entity_counts().collect()
        )
        got[prefix + "relations"] = _cost(
            spark, lambda: stm.relations().collect()
        )
        got[prefix + "triples"] = _cost(
            spark, lambda: stm.triples(spark).collect()
        )

    # the throwaway stream: the same batches and reads, other batch ids
    warm = IncrementalKGStream(embeddings, triples_dir=str(base / "warm"))
    got = {"cold process_batch": _cost(
        spark, lambda: warm.process_batch(batches[0], batch_id=0)
    )}
    warm.process_batch(batches[1], batch_id=1)
    read({}, "", warm)

    store = str(base / "store")
    stm = IncrementalKGStream(embeddings, triples_dir=store)
    for i, batch_id in enumerate(UNSEEN_IDS):
        got[f"process_batch {i}"] = _cost(
            spark, lambda: stm.process_batch(batches[i], batch_id)
        )
    read(got, "", stm)
    read(got, "resumed ", IncrementalKGStream.resume(spark, embeddings, store))
    return got


@pytest.mark.parametrize("call", list(BUDGET))
def test_jobs_per_call(counted, call):
    assert counted[call].jobs == BUDGET[call]


@pytest.mark.parametrize("call", list(BUDGET))
def test_warm_call_compiles_nothing(counted, call):
    assert counted[call].compiles == 0


def test_cold_batch_compiles(counted):
    assert counted["cold process_batch"].compiles > 0


@pytest.fixture(scope="module")
def stage_jobs(spark, tmp_path_factory):
    from kgkit.plans import stages

    base = tmp_path_factory.mktemp("stage_budget")
    stages.run_kg_pipeline(spark, SF_DIR, str(base / "warm"))
    got = {}
    real = stages.StageRunner.run

    def counted_run(self, stage, build):
        out = []
        got[stage] = _cost(spark, lambda: out.append(real(self, stage, build)))
        return out[0]

    stages.StageRunner.run = counted_run
    try:
        stages.run_kg_pipeline(spark, SF_DIR, str(base / "run"))
    finally:
        stages.StageRunner.run = real
    runner = stages.StageRunner(spark, str(base / "job-free"))
    got["job-free build"] = _cost(
        spark, lambda: runner.run("job-free build", lambda: spark.range(8))
    )
    resumed = stages.StageRunner(spark, str(base / "run"))
    got["skipped stage"] = _cost(
        spark, lambda: resumed.run("stage4_triples", lambda: 1 / 0)
    )
    assert resumed.skipped == ["stage4_triples"]
    return got


@pytest.mark.parametrize("stage", list(STAGE_BUDGET))
def test_jobs_per_stage(stage_jobs, stage):
    assert stage_jobs[stage].jobs == STAGE_BUDGET[stage]


@pytest.mark.parametrize("stage", WARM_STAGES)
def test_warm_stage_compiles_nothing(stage_jobs, stage):
    assert stage_jobs[stage].compiles == 0


@pytest.fixture(scope="module")
def link_jobs(spark, tmp_path_factory):
    from kgkit.operators.linking import link_mentions
    from kgkit.operators.mentions import detect_mentions
    from kgkit.sources.pages import load_pages, pages_for_mentions

    table = str(tmp_path_factory.mktemp("link_budget") / "embeddings")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").write.parquet(table)
    embeddings = spark.read.parquet(table)  # a table no call has seen
    mentions = detect_mentions(
        pages_for_mentions(load_pages(spark, SF_DIR))
    ).localCheckpoint()

    def link():
        return link_mentions(mentions, embeddings)

    return {
        "cold": _cost(spark, lambda: link().localCheckpoint()).jobs,
        "warm": _cost(spark, lambda: link().localCheckpoint()).jobs,
        "warm build": _cost(spark, link).jobs,
    }


@pytest.mark.parametrize("call", list(LINK_BUDGET))
def test_link_jobs(link_jobs, call):
    assert link_jobs[call] == LINK_BUDGET[call]
