"""Physical-plan regression tests — the plan IS the product at 100 TB.

Pins the properties that make the pipeline scale: column pruning at the
scan (never read unused columns in stage 1), filter pushdown into
parquet, zero exchanges in the linking stage, and single execution of
the stage-1 Arrow UDF under one url exchange in the fused triples
chain."""

from __future__ import annotations

import pytest


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Python nodes a JVM-only plan must not contain
PYTHON_NODES = ("BatchEvalPython", "MapInPandas", "MapInArrow")


def _checkpointed_plans(spark, monkeypatch):
    """From now on, record the executed plan of every frame that is
    materialized through ``localCheckpoint`` — an operator that returns
    an eager checkpoint hides its own plan behind the checkpoint scan."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    plans = []
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(_executed_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return plans


def _ancestors(lines, i):
    """The tree-string lines above ``lines[i]`` that are its ancestors:
    each one starts its node name left of the previous one's."""
    def col(line):
        return len(line) - len(line.lstrip(" :+-"))

    out, c = [], col(lines[i])
    for line in reversed(lines[:i]):
        if col(line) < c:
            out.append(line)
            c = col(line)
    return out


class TestPlanShape:
    SF = "/root/testdata/sf0.001"

    def test_stage1_scan_prunes_columns(self, spark):
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.pages import load_pages, pages_for_mentions

        plan = _executed_plan(
            detect_mentions(pages_for_mentions(load_pages(spark, self.SF)))
        )
        scan = [l for l in plan.splitlines() if "FileScan" in l]
        assert scan, plan
        # stage 1 needs doc_id (for the url) and text — never the other
        # document columns (source / n_chars / lang at this projection)
        assert "n_chars" not in scan[0]
        assert "source" not in scan[0]

    def test_filter_pushdown_q1(self, spark):
        from kgkit.queries import QUERIES

        plan = _executed_plan(QUERIES["q1_pricing_summary"](spark, self.SF))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_linking_has_no_mention_shuffle(self, spark):
        """Stage 2 must be broadcast-joins-only over the mention stream:
        no Exchange between the stage-1 UDF and the linked output."""
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.pages import load_pages, pages_for_mentions

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet")
        pages = pages_for_mentions(load_pages(spark, self.SF))
        plan = _executed_plan(link_mentions(detect_mentions(pages), emb))
        lines = plan.splitlines()
        udf_depth = [i for i, l in enumerate(lines) if "MapInArrow" in l]
        assert udf_depth, plan
        # every Exchange above the UDF line must be a BroadcastExchange
        for line in lines[: udf_depth[0]]:
            if "Exchange" in line:
                assert "BroadcastExchange" in line, line

    def test_triples_runs_stage1_udf_once(self, spark, monkeypatch):
        """The fused chain reads the url-partitioned mention stream in
        ONE branch: the plan that materializes the triples holds exactly
        one stage-1 UDF (MapInArrow) under exactly one url Exchange, so
        the UDF runs once with no cache and no union.  The result is an
        eager checkpoint, so the pin reads the plan that materialized
        it."""
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.operators.triples import assemble_triples
        from kgkit.sources.pages import load_pages, pages_for_mentions

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet")
        pages = pages_for_mentions(load_pages(spark, self.SF))
        linked = link_mentions(detect_mentions(pages), emb)
        canon = canonical_map(spark)
        plans = _checkpointed_plans(spark, monkeypatch)
        triples = assemble_triples(linked, canon)
        assert len(plans) == 1, plans
        plan = plans[0]
        lines = plan.splitlines()
        udfs = [i for i, l in enumerate(lines) if "MapInArrow" in l]
        assert len(udfs) == 1, plan
        url_exchanges = [
            l for l in lines if "Exchange hashpartitioning(url#" in l
        ]
        assert len(url_exchanges) == 1, plan
        assert url_exchanges[0] in _ancestors(lines, udfs[0]), plan
        assert "InMemoryTableScan" not in plan and "Union" not in plan, plan
        # the returned frame scans the checkpoint: the UDF already ran
        returned = _executed_plan(triples)
        assert "Scan ExistingRDD" in returned, returned
        assert "MapInArrow" not in returned, returned


class TestRound4PlanShapes:
    SF = "/root/testdata/sf0.001"

    def test_sp_mentions_scan_prunes_like_wordpiece(self, spark):
        """The Ġ-convention path must keep the same narrow stage-1 scan
        — the tokenizer choice is python-side and must not widen the
        JVM projection."""
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.pages import load_pages, pages_for_mentions

        plan = _executed_plan(
            detect_mentions(
                pages_for_mentions(load_pages(spark, self.SF)),
                tokenizer="sentencepiece",
            )
        )
        scan = [l for l in plan.splitlines() if "FileScan" in l]
        assert scan and "n_chars" not in scan[0] and "source" not in scan[0]

    def test_embedding_near_dups_joins_cached_buckets(self, spark, monkeypatch):
        """Both sides of the bucket self-join must read the persisted
        capped table (InMemoryTableScan), not recompute the hyperplane
        HOF lambdas — and the join must be keyed (no cartesian).  The
        pin reads the plan that materialized the returned checkpoint."""
        from kgkit.operators.similarity import embedding_near_dups

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet").selectExpr(
            "vec_id", "embedding"
        )
        plans = _checkpointed_plans(spark, monkeypatch)
        embedding_near_dups(emb, dim=64)
        assert len(plans) == 1, plans
        plan = plans[0]
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert "CartesianProduct" not in plan, plan

    def test_canonical_url_is_single_jvm_projection(self, spark):
        """URL canonicalization must be ONE JVM Project with zero
        exchanges and zero python — it runs in the scan projection at
        100 TB.  (try_parse_url's invoke expressions keep the Project
        outside WholeStageCodegen, which is fine: still JVM-side,
        still pipelined with the scan.)"""
        from pyspark.sql import functions as F

        from kgkit.operators.urls import canonical_url_col

        df = spark.range(10).select(
            F.concat(F.lit("http://h"), F.col("id"), F.lit(".com/p?b=2&a=1"))
            .alias("url")
        ).select(canonical_url_col(F.col("url")).alias("c"))
        plan = _executed_plan(df)
        assert "Exchange" not in plan, plan
        assert plan.lstrip().startswith("Project"), plan
        assert not [n for n in PYTHON_NODES if n in plan], plan

    def test_lm_score_joins_are_broadcast_only(self, spark):
        """The probability tables are vocab-sized: both joins must
        broadcast — the only shuffle is the final per-doc mean."""
        from kgkit.operators.lm_quality import (
            lm_score_exact,
            relational_bigram_lm,
        )

        seed = spark.createDataFrame(
            [(0, "the quick fox"), (1, "the lazy dog")],
            "doc_id long, text string",
        )
        # materialized model tables: the pin is the scoring plan, not
        # the seed corpus's own groupBy
        uni, bi = (t.localCheckpoint() for t in relational_bigram_lm(seed))
        docs = spark.createDataFrame(
            [(1, "the quick dog")], "doc_id long, text string"
        )
        plan = _executed_plan(lm_score_exact(docs, uni, bi))
        shuffles = [l for l in plan.splitlines()
                    if "Exchange" in l and "BroadcastExchange" not in l]
        # at most the doc_id aggregation exchange (AQE may elide it)
        assert len(shuffles) <= 1, plan
        assert plan.count("BroadcastExchange") >= 2 or "BroadcastNestedLoop" not in plan

    def test_sampling_is_shuffle_free(self, spark):
        """mixture_sample is a pure narrow plan — a generator over a
        hash-threshold predicate, zero exchanges."""
        from kgkit.operators.sampling import mixture_sample

        df = spark.range(100).selectExpr("id as doc_id", "'A' as tier",
                                         "'x' as text")
        out = mixture_sample(df, {"A": 1.5}, "tier")
        assert "Exchange" not in _executed_plan(out)


class TestRound5PlanShapes:
    def test_page_links_is_jvm_only(self, spark):
        """href extraction + URL resolution must stay a JVM
        regexp/projection pipeline (scan-projection budget class): one
        generator (explode), zero python, zero exchanges."""
        from pyspark.sql import functions as F

        from kgkit.operators.linkgraph import page_links

        df = spark.range(10).select(
            F.concat(F.lit("https://h"), F.col("id"), F.lit(".com/p")).alias("url"),
            F.lit('<a href="https://x.org/a"></a><a href="/b"></a>').alias("html"),
        )
        plan = _executed_plan(page_links(df))
        assert not [n for n in PYTHON_NODES if n in plan], plan
        assert "Exchange" not in plan, plan
        assert "Generate" in plan, plan

    def test_host_edges_aggregates_with_partial_combine(self, spark):
        """The corpus-to-graph collapse must be a hash aggregation with
        a map-side partial (the page fan-in combines before the only
        shuffle) — never a window over the raw link stream."""
        from pyspark.sql import functions as F

        from kgkit.operators.linkgraph import host_edges

        links = spark.range(100).select(
            F.concat(F.lit("https://s"), F.col("id") % 3, F.lit(".com/p")).alias("src_url"),
            F.concat(F.lit("https://d"), F.col("id") % 5, F.lit(".com/q")).alias("dst_url"),
        )
        plan = _executed_plan(host_edges(links))
        assert plan.count("HashAggregate") >= 2, plan  # partial + final
        assert "Window" not in plan, plan
