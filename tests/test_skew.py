"""North-rule skew evidence: the Zipf-head hub entity is handled by
construction, not by luck.

Two mechanisms, both asserted here:
  1. linking never shuffles mention rows (hub mentions resolve in the
     broadcast join) — pinned plan-side in tests/test_plans.py;
  2. entity-keyed aggregation splits the hub key across n_salts partial
     groups BEFORE the final combine (kgkit/operators/triples.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestSkewSalting:
    def test_hub_entity_splits_across_salts(self, spark):
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.operators.triples import assemble_triples
        from kgkit.sources.pages import synth_pages, pages_for_mentions

        pages = pages_for_mentions(synth_pages(spark, 600, zipf_hub_every=2))
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        triples = assemble_triples(
            link_mentions(detect_mentions(pages), emb), canonical_map(spark)
        )
        n_salts = 8
        salted = triples.withColumn(
            "salt", F.pmod(F.xxhash64("url", "char_start"), F.lit(n_salts))
        )
        # the hub entity Q5 must occupy (nearly) every salt bucket in the
        # partial aggregation — i.e. no single reducer sees all its rows
        hub = (
            salted.filter(F.col("obj") == "Q5")
            .groupBy("salt").count().collect()
        )
        assert len(hub) >= n_salts - 1, hub
        counts = [r["count"] for r in hub]
        assert max(counts) < sum(counts) * 0.5  # no bucket dominates

    def test_salted_counts_equal_plain_counts(self, spark):
        """Salting is a physical rewrite — logical result identical."""
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.operators.triples import assemble_triples, salted_entity_counts
        from kgkit.sources.pages import load_pages, pages_for_mentions

        pages = pages_for_mentions(load_pages(spark, "/root/testdata/sf0.001"))
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        triples = assemble_triples(
            link_mentions(detect_mentions(pages), emb), canonical_map(spark)
        ).cache()
        want = {
            r["obj"]: r["n"]
            for r in triples.groupBy("obj").agg(F.count("*").alias("n")).collect()
        }
        got = {
            r["obj"]: r["n_triples"]
            for r in salted_entity_counts(triples).collect()
        }
        triples.unpersist()
        assert got == want

    def test_zipf_head_is_real_in_fixture(self, spark):
        """The synthetic corpus actually plants the skew the north rule
        wants handled: the hub entity dominates the tail."""
        from kgkit.operators.canonicalize import canonical_map
        from kgkit.operators.linking import link_mentions
        from kgkit.operators.mentions import detect_mentions
        from kgkit.operators.triples import assemble_triples, salted_entity_counts
        from kgkit.sources.pages import synth_pages, pages_for_mentions

        pages = pages_for_mentions(synth_pages(spark, 400, zipf_hub_every=2))
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        counts = salted_entity_counts(
            assemble_triples(
                link_mentions(detect_mentions(pages), emb), canonical_map(spark)
            )
        ).collect()
        assert counts[0]["obj"] == "Q5"  # canonical hub ('join' ∪ 'hash join')
        tail = [r["n_triples"] for r in counts[1:]]
        assert counts[0]["n_triples"] > 1.3 * max(tail)  # clear Zipf head


class TestBoilerplateBucketCap:
    """LSH degeneracy guard: a band bucket shared by a whole site
    template must not go quadratic (kgkit/operators/dedup.py
    _cap_buckets / candidate_pairs max_bucket)."""

    def test_degenerate_bucket_dropped_and_reported(self, spark):
        from pyspark.sql import Observation

        from kgkit.operators.dedup import minhash_near_dups

        boiler = "site template nav footer copyright " * 4
        pair = "unique page body with shared tokens " * 4
        rows = [(i, boiler) for i in range(40)] + [(100, pair), (101, pair)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        obs = Observation("lsh_cap")
        got = minhash_near_dups(
            docs, max_bucket=10, observation=obs
        ).collect()
        # the boilerplate class contributes NO pairs; the true pair stays
        assert {(r["doc_a"], r["doc_b"]) for r in got} == {(100, 101)}
        # dropped mass is reported, not silent: 40 identical docs share
        # one bucket in each of the 4 bands
        assert obs.get["buckets_dropped"] == 4
        assert obs.get["band_rows_dropped"] == 160

    def test_cap_inactive_below_threshold(self, spark):
        """With the default cap the same corpus yields every
        boilerplate pair — the cap only bites on degenerate buckets."""
        from kgkit.operators.dedup import minhash_near_dups

        boiler = "site template nav footer copyright " * 4
        rows = [(i, boiler) for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = minhash_near_dups(docs).collect()
        assert len(got) == 10 * 9 // 2
        assert all(r["jaccard"] == 1.0 for r in got)

    def test_incremental_corpus_side_capped(self, spark):
        from kgkit.operators.dedup import incremental_near_dups

        boiler = "site template nav footer copyright " * 4
        real = "genuine article body with words " * 4
        corpus = spark.createDataFrame(
            [(i, boiler) for i in range(30)] + [(50, real)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, boiler), (101, real)], "doc_id long, text string"
        )
        got = {
            (r["corpus_doc_id"], r["new_doc_id"])
            for r in incremental_near_dups(corpus, batch, max_bucket=10).collect()
        }
        # the boilerplate batch page matches NOTHING (its corpus bucket
        # was dropped); the genuine page still finds its corpus twin
        assert got == {(50, 101)}


class TestIncrementalDedup:
    def test_batch_pairs_only_against_corpus(self, spark):
        """Cross pairs are found; batch-vs-batch and corpus-vs-corpus
        pairs are never emitted (the recrawl contract)."""
        from kgkit.operators.dedup import incremental_near_dups

        base = " ".join(f"w{i} common text body token" for i in range(8))
        corpus = spark.createDataFrame(
            [(1, base), (2, "totally different other words " * 5)],
            "doc_id long, text string",
        )
        # 101 == doc 1 exactly; 102 and 103 duplicate EACH OTHER but
        # match nothing in the corpus
        twin = "identical orphan pair body " * 6
        batch = spark.createDataFrame(
            [(101, base), (102, twin), (103, twin)],
            "doc_id long, text string",
        )
        got = {
            (r["corpus_doc_id"], r["new_doc_id"], r["jaccard"])
            for r in incremental_near_dups(corpus, batch).collect()
        }
        assert got == {(1, 101, 1.0)}
