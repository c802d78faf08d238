"""Trained quality classifier: the distributed BIGINT-grid GD must be
bit-identical to the numpy twin and invariant to partitioning; the
Spark scorer must equal the python scorer exactly; the plan must be
the lm_score_exact shape (broadcast-only above the token stream)."""

import numpy as np
import pytest

from kgkit.operators.quality_clf import (
    Q,
    QualityClassifier,
    corrupt_gibberish,
    corrupt_repeat,
    corrupt_scramble,
    feature_buckets_py,
    featurize,
    fluent_pages,
    labeled_corpus,
    quality_clf_score,
    train_quality_clf,
    train_quality_clf_py,
)

EPOCHS, LR = 12, 0.5


@pytest.fixture(scope="module")
def corpus():
    return labeled_corpus(n_pages=90)


@pytest.fixture(scope="module")
def model(corpus):
    return train_quality_clf_py(corpus, epochs=EPOCHS, lr=LR)


class TestTraining:
    def test_distributed_equals_twin_bitwise(self, spark, corpus, model):
        df = spark.createDataFrame(corpus, "doc_id long, text string, label int")
        m = train_quality_clf(df, epochs=EPOCHS, lr=LR)
        assert np.array_equal(m.w_q, model.w_q)
        assert m.b_q == model.b_q

    def test_partitioning_invariance(self, spark, corpus, model):
        # the integer-grid claim: 3 partitions or 17, same bits
        df = spark.createDataFrame(
            corpus, "doc_id long, text string, label int"
        ).repartition(3)
        m = train_quality_clf(df, epochs=EPOCHS, lr=LR, partitions=17)
        assert np.array_equal(m.w_q, model.w_q)
        assert m.b_q == model.b_q

    def test_twin_rerun_is_deterministic(self, corpus, model):
        m2 = train_quality_clf_py(corpus, epochs=EPOCHS, lr=LR)
        assert np.array_equal(m2.w_q, model.w_q) and m2.b_q == model.b_q

    def test_heldout_accuracy_and_margins(self, model):
        # held-out fluent pages (fresh seed) vs their corruptions
        pos = fluent_pages(60, seed=991)
        neg = (
            [corrupt_scramble(t, 7 + i) for i, t in enumerate(pos[:20])]
            + [corrupt_gibberish(30, i) for i in range(20)]
            + [corrupt_repeat(t) for t in pos[20:40]]
        )
        acc_pos = sum(model.keep(t) for t in pos) / len(pos)
        acc_neg = sum(not model.keep(t) for t in neg) / len(neg)
        assert acc_pos >= 0.95, acc_pos
        assert acc_neg >= 0.95, acc_neg
        # scrambling keeps unigrams: the separation must come from
        # bigram context features, not vocabulary alone
        scr = [corrupt_scramble(t, 31 + i) for i, t in enumerate(pos)]
        assert np.mean([model.logit(t) for t in pos]) > np.mean(
            [model.logit(t) for t in scr]
        )

    def test_weights_are_not_a_unigram_table(self, model):
        # a material share of the learned mass sits on bigram buckets
        # (scramble negatives force context features; measured ~0.26)
        bi = set()
        for t in fluent_pages(40, seed=5):
            ws = t.lower().split(" ")
            from kgkit.operators.quality_clf import _bucket_py

            bi |= {_bucket_py(f"b|{a} {b}") for a, b in zip(ws, ws[1:])}
        mass = np.abs(model.w_q).sum()
        bi_mass = sum(abs(int(model.w_q[b])) for b in bi)
        assert mass > 0 and bi_mass / mass > 0.15


class TestInference:
    def test_spark_scorer_equals_python_exactly(self, spark, corpus, model):
        df = spark.createDataFrame(corpus, "doc_id long, text string, label int")
        got = {
            r["doc_id"]: (r["score_q"], r["logit"], r["keep"])
            for r in quality_clf_score(df, model).collect()
        }
        assert len(got) == len(corpus)
        for doc_id, text, _ in corpus:
            sq = model.score_q(text)
            assert got[doc_id] == (sq, sq / Q, int(sq > 0)), doc_id

    def test_empty_and_single_word_docs_survive(self, spark, model):
        df = spark.createDataFrame(
            [(1, ""), (2, "fox"), (3, "   ")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["score_q"] for r in
                quality_clf_score(df, model).collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[1] == model.b_q == rows[3]
        assert rows[2] == model.score_q("fox")

    def test_roundtrip_checkpoint(self, tmp_path, model):
        p = str(tmp_path / "quality.npz")
        model.save(p)
        re = QualityClassifier.load(p)
        assert np.array_equal(re.w_q, model.w_q) and re.b_q == model.b_q

    def test_plan_is_broadcast_only_above_the_stream(self, spark, model):
        # lm_score_exact's pinned discipline: the corpus-wide exchanges are
        # the final groupBy on doc_id only; the weight join broadcasts
        df = spark.createDataFrame(
            [(1, "the quick fox crosses near a river")],
            "doc_id long, text string",
        )
        plan = quality_clf_score(df, model)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


class TestPackagedCheckpoint:
    def test_default_checkpoint_loads_and_separates(self):
        from kgkit.operators.quality_clf import default_quality_clf

        m = default_quality_clf()
        pos = fluent_pages(20, seed=40424)
        assert sum(m.keep(t) for t in pos) >= 18
        neg = [corrupt_gibberish(25, 9000 + i) for i in range(10)] + [
            corrupt_scramble(t, 8000 + i) for i, t in enumerate(pos[:10])
        ]
        assert sum(not m.keep(t) for t in neg) >= 18


class TestFeatures:
    def test_featurize_matches_python_counts(self, spark):
        texts = ["the fox the fox", "a b a", ""]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = featurize(df).collect()
        got = {}
        for r in rows:
            if r["bucket"] is not None:
                got.setdefault(r["doc_id"], {})[r["bucket"]] = r["cnt"]
        for i, t in enumerate(texts):
            want = {}
            for b in feature_buckets_py(t):
                want[b] = want.get(b, 0) + 1
            assert got.get(i, {}) == want, t
        # the empty doc keeps its null-bucket row
        assert any(r["doc_id"] == 2 and r["bucket"] is None for r in rows)
