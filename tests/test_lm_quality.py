"""LM perplexity quality scoring (kgkit/operators/lm_quality.py):
relational scorer == the pure-python twin, fluent text scores lower
than gibberish, CCNet-style buckets split by tertile."""

from __future__ import annotations

import pytest

SEED_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox runs",
    "a brown dog and a quick fox share the garden",
    "the garden grows while the dog sleeps in the sun",
    "the sun warms the garden and the fox watches the dog",
]


@pytest.fixture(scope="module")
def lm():
    from kgkit.operators.lm_quality import train_bigram_lm

    return train_bigram_lm(SEED_TEXTS)


class TestTraining:
    def test_probabilities_are_normalized_enough(self, lm):
        import math

        # unigram probs sum to < 1 (add-k mass reserved for unseen)
        total = sum(2.0 ** p for p in lm["uni"].values())
        assert 0.9 < total <= 1.0 + 1e-9
        assert lm["vocab_size"] == len(lm["uni"])
        # seen bigram beats unseen continuation from the same context
        assert lm["bi"][("quick", "brown")] > math.log2(
            0.5 / (2 + 0.5 * lm["vocab_size"])
        ) - 1e-9


def _relational_lm(spark):
    """The seed corpus's tables, trained the cross-engine way."""
    from kgkit.operators.lm_quality import relational_bigram_lm

    return relational_bigram_lm(spark.createDataFrame(
        list(enumerate(SEED_TEXTS)), "doc_id long, text string"
    ))


class TestRelationalScorer:
    def test_matches_python_twin_per_document(self, spark, lm):
        """Register, OOV, no-context, empty and repetition edge cases:
        the relational scorer agrees with the python twin on each, to
        the fixed-point grid's bound (<= 5e-7 per pair, averaged)."""
        from kgkit.operators.lm_quality import lm_score_exact, score_text_py

        texts = [
            "the quick brown fox jumps",
            "dog the lazy over jumps quick",        # scrambled register
            "zzz qqq completely unseen tokens xxx",  # OOV gibberish
            "single",                                # no bigram context
            "",                                      # empty
            "the the the the",                       # repetition
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {r["doc_id"]: r["lm_log2ppl"]
               for r in lm_score_exact(docs, *_relational_lm(spark)).collect()}
        for i, t in enumerate(texts):
            assert got[i] == pytest.approx(score_text_py(t, lm), abs=1e-5), (i, t)

    def test_fluent_scores_below_gibberish(self, spark):
        from kgkit.operators.lm_quality import lm_score_exact

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "fox lazy jumps dog brown the over quick the"),
             (3, "zzz qqq www totally unseen vvv uuu ttt")],
            "doc_id long, text string",
        )
        s = {r["doc_id"]: r["lm_log2ppl"]
             for r in lm_score_exact(docs, *_relational_lm(spark)).collect()}
        assert s[1] < s[2] < s[3]


class TestRelationalLM:
    """relational_bigram_lm + lm_score_exact — the cross-engine-exact
    path must agree with the python-dict path to grid tolerance."""

    def _seed_and_docs(self, spark):
        seed_texts = [
            "the quick brown fox jumps over the lazy dog",
            "the brown dog sleeps under the old tree",
            "a quick fox runs over a brown dog",
        ]
        doc_texts = seed_texts + [
            "the quick brown dog",
            "completely unseen gibberish tokens here",
            "one",
            "",
        ]
        seed = spark.createDataFrame(
            [(i, t) for i, t in enumerate(seed_texts)],
            "doc_id long, text string",
        )
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(doc_texts)],
            "doc_id long, text string",
        )
        return seed, seed_texts, docs, doc_texts

    def test_matches_python_lm_to_grid_tolerance(self, spark):
        from kgkit.operators.lm_quality import (
            lm_score_exact,
            relational_bigram_lm,
            score_text_py,
            train_bigram_lm,
        )

        seed, seed_texts, docs, doc_texts = self._seed_and_docs(spark)
        uni, bi = relational_bigram_lm(seed)
        got = {
            r["doc_id"]: r["lm_log2ppl"]
            for r in lm_score_exact(docs, uni, bi).collect()
        }
        lm = train_bigram_lm(seed_texts)  # k=0.5 == the add-1/2 ratios
        for i, t in enumerate(doc_texts):
            # quantization error <= 5e-7 per pair, and the mean is over
            # >= 1 pairs, so 1e-5 absolute covers the grid roundoff
            assert got[i] == pytest.approx(score_text_py(t, lm), abs=1e-5), (
                i, t,
            )

    def test_short_docs_hit_the_floor(self, spark):
        from kgkit.operators.lm_quality import (
            lm_score_exact,
            relational_bigram_lm,
        )

        seed, _, docs, _ = self._seed_and_docs(spark)
        uni, bi = relational_bigram_lm(seed)
        got = {
            r["doc_id"]: r["lm_log2ppl"]
            for r in lm_score_exact(docs, uni, bi).collect()
        }
        assert got[5] == 20.0 and got[6] == 20.0  # "one" and ""

    def test_tertiles_are_exact_and_ordered(self, spark):
        from kgkit.operators.lm_quality import ppl_tertiles

        scores = spark.createDataFrame(
            [(i, float(i)) for i in range(9)], "doc_id long, lm_log2ppl double"
        )
        by = {r["doc_id"]: r["ppl_bucket"] for r in ppl_tertiles(scores).collect()}
        assert [by[i] for i in range(9)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )


class TestBuckets:
    def test_head_middle_tail_split(self, spark):
        from kgkit.operators.lm_quality import lm_score_exact, ppl_tertiles

        rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)]
        rows += [(100 + i, "dog garden fox sun the sleeps a runs") for i in range(10)]
        rows += [(200 + i, f"unseen{i} tokens{i} everywhere{i} zz{i}") for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        b = ppl_tertiles(lm_score_exact(docs, *_relational_lm(spark)))
        by = {r["doc_id"]: r["ppl_bucket"] for r in b.collect()}
        assert all(by[i] == "head" for i in range(10))
        assert all(by[200 + i] == "tail" for i in range(10))
        assert {"head", "middle", "tail"} == set(by.values())
