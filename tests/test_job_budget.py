"""Spark job budget of the incremental KG stream and the batch build.

At this scale a call's wall follows the number of Spark jobs it
launches, not its rows, so the job counts are pinned exactly, each call
counted under its own job group with ``statusTracker``:

* the stream on a 2-batch sf0.001 recrawl (batch 1 re-delivers a third
  of batch 0's urls with new text);
* each of ``run_kg_pipeline``'s five ``StageRunner`` stages on sf0.001
  (the build's own jobs and its one parquet write: the read-back and
  the lineage rows launch none), and a stage whose build launches no
  job;
* ``link_mentions`` on a fresh embeddings table, cold and warm: the
  cold call fetches the ambiguous-entity vectors and probes the scores
  broadcast gate, a warm call on the same table reuses both.

A change that adds a job to one of these calls must update its pin,
and say why.

Live reads serve the views that ``commit`` materialized: a count or
relation read is one job (the scan of a checkpoint), a triples read two
(the broadcast of the key parts, then the anti-joined scan).  The
session's memoized dimension tables are warmed by a throwaway batch and
a throwaway build first, so the counts do not depend on which tests ran
before.
"""

from __future__ import annotations

import itertools

import pytest
from test_kg_stream import SF_DIR  # the stream tests' sf0.001 data

BUDGET = {  # exact job counts per call
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
}

LINK_BUDGET = {  # link_mentions(...).localCheckpoint() on a fresh table
    "cold": 5,
    # the cold call's jobs minus the vector fetch (1) and the broadcast
    # gate's probe (2: the limit's exchange, then the count)
    "warm": 2,
    "warm build": 0,  # link_mentions alone: the plan comes from the memo
}

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Jobs that ``fn()`` launched, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
    IncrementalKGStream(embeddings, triples_dir=str(base / "warm")).process_batch(
        a.filter("pmod(xxhash64(url), 16) = 0"), batch_id=0
    )

    store = str(base / "store")
    stm = IncrementalKGStream(embeddings, triples_dir=store)
    got = {
        "process_batch 0": _jobs(spark, lambda: stm.process_batch(a, 0)),
        "process_batch 1": _jobs(
            spark, lambda: stm.process_batch(b.unionByName(a2), 1)
        ),
    }
    resumed = IncrementalKGStream.resume(spark, embeddings, store)
    for prefix, s in (("", stm), ("resumed ", resumed)):
        got[prefix + "entity_counts"] = _jobs(
            spark, lambda: s.entity_counts().collect()
        )
        got[prefix + "relations"] = _jobs(spark, lambda: s.relations().collect())
        got[prefix + "triples"] = _jobs(
            spark, lambda: s.triples(spark).collect()
        )
    return got


@pytest.mark.parametrize("call", list(BUDGET))
def test_jobs_per_call(counted, call):
    assert counted[call] == BUDGET[call]


@pytest.fixture(scope="module")
def stage_jobs(spark, tmp_path_factory):
    from kgkit.plans import stages

    base = tmp_path_factory.mktemp("stage_budget")
    stages.run_kg_pipeline(spark, SF_DIR, str(base / "warm"))
    got = {}
    real = stages.StageRunner.run

    def counted_run(self, stage, build):
        out = []
        got[stage] = _jobs(spark, lambda: out.append(real(self, stage, build)))
        return out[0]

    stages.StageRunner.run = counted_run
    try:
        stages.run_kg_pipeline(spark, SF_DIR, str(base / "run"))
    finally:
        stages.StageRunner.run = real
    runner = stages.StageRunner(spark, str(base / "job-free"))
    got["job-free build"] = _jobs(
        spark, lambda: runner.run("job-free build", lambda: spark.range(8))
    )
    return got


@pytest.mark.parametrize("stage", list(STAGE_BUDGET))
def test_jobs_per_stage(stage_jobs, stage):
    assert stage_jobs[stage] == STAGE_BUDGET[stage]


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
        "cold": _jobs(spark, lambda: link().localCheckpoint()),
        "warm": _jobs(spark, lambda: link().localCheckpoint()),
        "warm build": _jobs(spark, link),
    }


@pytest.mark.parametrize("call", list(LINK_BUDGET))
def test_link_jobs(link_jobs, call):
    assert link_jobs[call] == LINK_BUDGET[call]
