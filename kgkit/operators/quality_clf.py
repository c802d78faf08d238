"""Trained document-quality classifier — hashed-n-gram linear model
whose GRADIENT DESCENT runs as Spark aggregations.

The rule batteries (`text_quality.gopher_quality`) and the LM scorer
(`lm_quality.lm_score_exact`) cover the hand-written end of corpus
filtering; production LLM pipelines additionally run a TRAINED
classifier (CCNet / fasttext-style: hashed word n-grams -> linear
score) whose supervision is "looks like the curated corpus" vs
"looks like raw crawl".  The reference's only trained component is
its NER head (`/root/reference/nerblackbox/api/model.py:464-505`);
this operator is the corpus-level analog, built the way the rest of
kgkit builds trained things (ner_core/trained.py): md5-derived
feature hashing shared verbatim with the python twin, and every
cross-row reduction on a BIGINT grid so the result is EXACT —
independent of partitioning, row order, and engine.

Training (`train_quality_clf`) is full-batch gradient descent where
each epoch is two Spark aggregations over the cached feature stream:

    margins:  X  ⋈  broadcast(weights[D rows])  →  groupBy(doc_id)
              SUM(cnt * w_q)                     (BIGINT, exact)
    errors:   hard-sigmoid(margin) - label       (integer arithmetic
              on the same grid — no transcendental, no float sum)
    gradient: err ⋈ X on doc_id  →  groupBy(bucket) SUM(err_q * cnt)
              →  collect(D rows)                 (BIGINT, exact)

The corpus never leaves the executors; only the D-sized gradient is
collected and only the D-sized weight table is broadcast.  X is
repartitioned by doc_id ONCE and persisted, so the per-epoch margin
groupBy and the error join both reuse that partitioning instead of
reshuffling the token stream.  Epochs are serial driver-paced jobs —
the same discipline as the PageRank / connected-components loops.
Because margins, errors, and gradients are all integer sums, two
runs on different partition counts (or the numpy twin on a laptop)
produce bit-identical weights — pinned by tests/test_quality_clf.py.

The hard-sigmoid link (p = clip(1/2 + margin/4, 0, 1)) replaces the
logistic exp for the same reason the trained tagger's attention uses
base-2 weights (ner_core/trained.py): it keeps every quantity a
ratio of integers, so exactness is a theorem instead of a ULP
accident.  Gradient-wise it is squared-loss-with-saturation — the
classical "robust linear probit"; on the margins this model sees it
is within quantization of the logistic.

Inference (`quality_clf_score`) is the lm_score_exact plan shape: one
generator projection builds the hashed (doc_id, bucket) stream, one
broadcast join attaches the D weights, one groupBy(doc_id) sums —
the only corpus-wide exchange is on doc_id and AQE coalesces it.
score_q is BIGINT (units 1/Q); the float logit is one correctly
rounded IEEE division both engines perform identically, so the whole
scorer is DuckDB-oracle-expressible (md5-prefix bucket hashing is
the shingle convention from operators/dedup.py).
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict, List, Sequence, Tuple

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

D = 4096            # hashed feature buckets (unigrams + bigrams share)
Q = 1 << 20         # weight / margin grid: ints in units of 1/Q
DEFAULT_CKPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "checkpoints", "quality_v1.npz",
)


# --------------------------------------------------------------------------
# feature hashing — shared byte-for-byte between python twin and Spark SQL
# --------------------------------------------------------------------------

def _bucket_py(key: str) -> int:
    """int(md5(key)[:7], 16) % D — the dedup shingle fingerprint
    reduced to the weight table size."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:7], 16) % D


def feature_keys_py(text: str) -> List[str]:
    """Lowercased whitespace unigrams ('u|w') + bigrams ('b|a b'), in
    token order.  Counts arise from repetition in the stream."""
    ws = [w for w in text.lower().split(" ") if w]
    keys = [f"u|{w}" for w in ws]
    keys += [f"b|{a} {b}" for a, b in zip(ws, ws[1:])]
    return keys


def feature_buckets_py(text: str) -> List[int]:
    return [_bucket_py(k) for k in feature_keys_py(text)]


def feature_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket) — one row per feature OCCURRENCE.

    One generator projection, no shuffle: the unigram and bigram key
    arrays are built with transform/zip_with and exploded together.
    explode_outer keeps empty documents as a null-bucket row so the
    downstream aggregate scores them (intercept only) instead of
    silently dropping them."""
    return (
        docs.selectExpr(
            "doc_id",
            "filter(split(lower(text), ' '), x -> x != '') as _ws",
        )
        .selectExpr(
            "doc_id",
            "concat("
            " transform(_ws, w -> concat('u|', w)),"
            " case when size(_ws) < 2 then array()"
            " else zip_with(slice(_ws, 1, size(_ws) - 1),"
            "               slice(_ws, 2, size(_ws) - 1),"
            "               (a, b) -> concat('b|', a, ' ', b)) end"
            ") as _ks",
        )
        .select("doc_id", F.explode_outer("_ks").alias("_k"))
        .select(
            "doc_id",
            F.when(
                F.col("_k").isNotNull(),
                F.expr(
                    "cast(conv(substring(md5(_k), 1, 7), 16, 10) as bigint)"
                    f" % {D}"
                ),
            ).alias("bucket"),
        )
    )


def featurize(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, cnt) aggregated feature matrix (null-bucket
    rows for empty docs carry cnt so every doc survives)."""
    return feature_stream(docs).groupBy("doc_id", "bucket").agg(
        F.count("*").alias("cnt")
    )


# --------------------------------------------------------------------------
# the model
# --------------------------------------------------------------------------

class QualityClassifier:
    """w_q: int64[D] and b_q: int64 scalar, both in units of 1/Q."""

    def __init__(self, w_q: np.ndarray, b_q: int):
        assert w_q.shape == (D,) and w_q.dtype == np.int64
        self.w_q = w_q
        self.b_q = int(b_q)

    # -- python twin ------------------------------------------------------
    def score_q(self, text: str) -> int:
        """BIGINT score in units of 1/Q — exact twin of the Spark sum."""
        return int(
            self.b_q + sum(int(self.w_q[b]) for b in feature_buckets_py(text))
        )

    def logit(self, text: str) -> float:
        return self.score_q(text) / Q

    def keep(self, text: str) -> bool:
        return self.score_q(text) > 0

    # -- persistence ------------------------------------------------------
    def save(self, path: str) -> None:
        np.savez_compressed(
            path, w_q=self.w_q, b_q=np.int64(self.b_q), d=np.int64(D),
            q=np.int64(Q),
        )

    @classmethod
    def load(cls, path: str) -> "QualityClassifier":
        z = np.load(path)
        assert int(z["d"]) == D and int(z["q"]) == Q, (
            "checkpoint grid/dim mismatch — retrain with tools/train_quality.py"
        )
        return cls(z["w_q"].astype(np.int64), int(z["b_q"]))

    def weights_df(self, spark) -> DataFrame:
        nz = np.flatnonzero(self.w_q)
        rows = [(int(b), int(self.w_q[b])) for b in nz]
        return spark.createDataFrame(rows or [(0, 0)], "bucket long, w_q long")


# --------------------------------------------------------------------------
# distributed training
# --------------------------------------------------------------------------

def _err_q_expr(margin_q, label):
    """Integer hard-sigmoid error on the Q grid:
    err_q = clip(Q/2 + floor(margin_q/4), 0, Q) - label*Q.
    floor() of an exact int/4 keeps both engines and the twin on the
    same value for negatives (int64 magnitudes < 2^52, so the double
    division is exact)."""
    p_q = F.greatest(
        F.lit(0),
        F.least(
            F.lit(Q),
            F.lit(Q // 2)
            + F.floor(margin_q / F.lit(4.0)).cast("long"),
        ),
    )
    return p_q - label * F.lit(Q)


def _err_q_py(margin_q: np.ndarray, label: np.ndarray) -> np.ndarray:
    p = np.clip(
        Q // 2 + np.floor(margin_q / 4.0).astype(np.int64), 0, Q
    )
    return p - label.astype(np.int64) * Q


def train_quality_clf(
    docs: DataFrame,
    epochs: int = 30,
    lr: float = 0.5,
    partitions: int = 32,
) -> QualityClassifier:
    """docs(doc_id, text, label in {0,1}) -> QualityClassifier.

    Full-batch GD; every cross-row sum is BIGINT so the result is
    bit-identical under any partitioning and equal to the numpy twin
    (train_quality_clf_py).  Weight update runs in driver numpy on
    the exact collected gradient: in grid units, w_q -= rint(lr *
    grad / n) (grad carries one factor of Q from err_q, cancelling
    the grid scale) — deterministic because its inputs are
    integers."""
    spark = docs.sparkSession
    X = (
        featurize(docs.select("doc_id", "text"))
        .repartition(partitions, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        labels = docs.select("doc_id", F.col("label").cast("long").alias("label"))
        n_docs = labels.count()
        # per-doc feature totals never overflow: |w_q| <= Q * few, cnt bounded
        w_q = np.zeros(D, dtype=np.int64)
        b_q = 0
        for _ in range(epochs):
            model = QualityClassifier(w_q, b_q)
            wdf = model.weights_df(spark)
            margins = (
                X.join(F.broadcast(wdf), "bucket", "left")
                .groupBy("doc_id")
                .agg(
                    (
                        F.coalesce(
                            F.sum(F.col("cnt") * F.col("w_q")), F.lit(0)
                        )
                        + F.lit(b_q)
                    ).alias("margin_q")
                )
                .join(labels, "doc_id")
                .select(
                    "doc_id",
                    _err_q_expr(F.col("margin_q"), F.col("label")).alias("err_q"),
                )
            )
            grad_rows = (
                X.join(margins, "doc_id")
                .filter(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(F.sum(F.col("err_q") * F.col("cnt")).alias("g"))
                .collect()
            )
            grad_b = margins.agg(F.sum("err_q")).collect()[0][0] or 0
            g = np.zeros(D, dtype=np.int64)
            for r in grad_rows:
                g[int(r["bucket"])] = int(r["g"])
            # exact-int inputs -> deterministic float update -> back to grid
            w_q = w_q - np.rint(lr * g / n_docs).astype(np.int64)
            b_q = int(b_q - np.rint(lr * float(grad_b) / n_docs))
        return QualityClassifier(w_q, b_q)
    finally:
        X.unpersist()


def train_quality_clf_py(
    rows: Sequence[Tuple[int, str, int]],
    epochs: int = 30,
    lr: float = 0.5,
) -> QualityClassifier:
    """Numpy twin of train_quality_clf — same grids, same update, so
    the weights must be BIT-EQUAL to the distributed run."""
    feats: List[Dict[int, int]] = []
    labels = []
    for _, text, label in rows:
        c: Dict[int, int] = {}
        for b in feature_buckets_py(text):
            c[b] = c.get(b, 0) + 1
        feats.append(c)
        labels.append(label)
    y = np.array(labels, dtype=np.int64)
    n = len(rows)
    w_q = np.zeros(D, dtype=np.int64)
    b_q = 0
    for _ in range(epochs):
        m = np.array(
            [
                b_q + sum(cnt * int(w_q[b]) for b, cnt in c.items())
                for c in feats
            ],
            dtype=np.int64,
        )
        err = _err_q_py(m, y)
        g = np.zeros(D, dtype=np.int64)
        for e, c in zip(err, feats):
            for b, cnt in c.items():
                g[b] += int(e) * cnt
        w_q = w_q - np.rint(lr * g / n).astype(np.int64)
        b_q = int(b_q - np.rint(lr * float(err.sum()) / n))
    return QualityClassifier(w_q, b_q)


def default_quality_clf() -> QualityClassifier:
    """The packaged checkpoint (tools/train_quality.py writes it)."""
    return QualityClassifier.load(DEFAULT_CKPT)


# --------------------------------------------------------------------------
# inference
# --------------------------------------------------------------------------

def quality_clf_score(docs: DataFrame, model: QualityClassifier) -> DataFrame:
    """(doc_id, score_q, logit, keep) — the lm_score_exact plan shape: one
    generator projection, one broadcast join, one groupBy(doc_id).
    score_q is exact BIGINT; logit = score_q / Q is one IEEE division
    (the DuckDB oracle replays both)."""
    spark = docs.sparkSession
    wdf = model.weights_df(spark)
    scored = (
        feature_stream(docs)
        .join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.coalesce(F.sum("w_q"), F.lit(0)) + F.lit(model.b_q)
            ).alias("score_q")
        )
    )
    return scored.select(
        "doc_id",
        "score_q",
        (F.col("score_q") / F.lit(float(Q))).alias("logit"),
        (F.col("score_q") > 0).cast("int").alias("keep"),
    )


# --------------------------------------------------------------------------
# deterministic supervision corpus (tests + tools/train_quality.py)
# --------------------------------------------------------------------------

_DET = ["the", "a", "this", "every"]
_ADJ = ["quick", "old", "small", "bright", "quiet", "heavy"]
_NOUN = ["fox", "engine", "river", "archive", "signal", "garden",
         "window", "market"]
_VERB = ["crosses", "follows", "repairs", "observes", "records",
         "measures"]
_PREP = ["near", "under", "beyond", "inside"]


def fluent_pages(n_pages: int, seed: int = 2026) -> List[str]:
    """Grammatical template sentences over a small vocab — seeded
    CPython Mersenne draws (the train_pages discipline: NEVER the
    fixed-stride synth mix, see ner_core/train.py:77)."""
    import random

    rng = random.Random(seed)
    pages = []
    for _ in range(n_pages):
        sents = []
        for _ in range(rng.randint(4, 9)):
            words = [rng.choice(_DET)]
            if rng.random() < 0.6:
                words.append(rng.choice(_ADJ))
            words += [
                rng.choice(_NOUN), rng.choice(_VERB), rng.choice(_PREP),
                rng.choice(_DET), rng.choice(_NOUN),
            ]
            sents.append(" ".join(words))
        pages.append(" ".join(sents))
    return pages


def corrupt_scramble(text: str, seed: int) -> str:
    """Word-order destruction: keeps the unigram profile, breaks every
    bigram — the classifier must use context, not vocabulary."""
    import random

    ws = text.split(" ")
    random.Random(seed).shuffle(ws)
    return " ".join(ws)


def corrupt_gibberish(n_words: int, seed: int) -> str:
    return " ".join(
        hashlib.md5(f"gib:{seed}:{i}".encode()).hexdigest()[:6]
        for i in range(n_words)
    )


def corrupt_repeat(text: str) -> str:
    ws = text.split(" ")
    w = ws[0] if ws else "spam"
    return " ".join([w] * max(len(ws), 8))


def labeled_corpus(n_pages: int = 240, seed: int = 2026
                   ) -> List[Tuple[int, str, int]]:
    """Balanced (doc_id, text, label) rows: fluent=1; scrambled,
    gibberish and repetition corruptions of held-apart fluent pages=0."""
    pos = fluent_pages(n_pages, seed)
    neg_src = fluent_pages(n_pages, seed + 1)
    rows: List[Tuple[int, str, int]] = []
    for i, t in enumerate(pos):
        rows.append((i, t, 1))
    for i, t in enumerate(neg_src):
        j = n_pages + i
        if i % 3 == 0:
            rows.append((j, corrupt_scramble(t, seed + i), 0))
        elif i % 3 == 1:
            rows.append((j, corrupt_gibberish(len(t.split(" ")), seed + i), 0))
        else:
            rows.append((j, corrupt_repeat(t), 0))
    return rows
