"""Language-model perplexity quality scoring (the CCNet recipe).

The strongest web-corpus quality signal in production pipelines is not
a rule battery but a small language model trained on known-good text:
documents whose tokens the LM finds surprising (high perplexity) are
boilerplate, gibberish, or the wrong register (CCNet, Wenzek et al.
2020, scores Common Crawl with a Wikipedia KenLM and buckets by
perplexity tertile).  kgkit's twin keeps the same shape with a
deterministic interpolated bigram model:

  * ``relational_bigram_lm`` — add-1/2-smoothed unigram + bigram
    probabilities from a seed-corpus DataFrame, counted by groupBy
    (the model is vocab-sized; the corpus being scored is the big
    side), each probability one division of exact integers;
  * ``lm_score_exact`` — per-document mean negative log2 probability
    (= log2-perplexity) under interpolated backoff
    ``p(w|a) = λ·p_bi(w|a) + (1-λ)·p_uni(w)``, evaluated RELATIONALLY:
    docs explode to (prev, w) pairs, the bigram/unigram tables
    broadcast-join in, and one groupBy averages on a BIGINT grid —
    no python in the scoring path, so 100 TB scores at scan speed;
  * ``ppl_tertiles`` — the CCNet head/middle/tail split by exact score
    tertile, the mixture key ``sampling.mixture_sample`` consumes.

``train_bigram_lm`` (driver-side counts, add-k) and ``score_text_py``
are the pure-python twin the differential tests compare the Spark path
against, to the grid's tolerance on every document.
"""

from __future__ import annotations

import math
from typing import Dict, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAMBDA = 0.7          # bigram weight in the interpolation
OOV_LOG2P = -20.0     # floor for words outside the LM vocabulary


def train_bigram_lm(texts: Sequence[str], k: float = 0.5
                    ) -> Dict[str, Dict]:
    """Seed-corpus counts -> {'uni': {w: log2 p}, 'bi': {(a,w): log2 p},
    'vocab_size': V}.  Add-k smoothing; deterministic (no RNG, plain
    dict arithmetic).  Words are whitespace tokens lowercased — the
    same normalization the scorer applies."""
    from collections import Counter

    uni: Counter = Counter()
    bi: Counter = Counter()
    for t in texts:
        ws = [w.lower() for w in t.split(" ") if w]
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    V = len(uni)
    total = sum(uni.values())
    uni_p = {
        w: math.log2((c + k) / (total + k * V)) for w, c in uni.items()
    }
    bi_p = {
        (a, w): math.log2((c + k) / (uni[a] + k * V))
        for (a, w), c in bi.items()
    }
    return {"uni": uni_p, "bi": bi_p, "vocab_size": V}


def score_text_py(text: str, lm: Dict[str, Dict]) -> float:
    """Pure-python twin of ``lm_score_exact`` (the differential
    oracle): mean -log2 p over positions 1..n-1 (first word has no
    context; empty/1-word docs score the OOV floor)."""
    ws = [w.lower() for w in text.split(" ") if w]
    if len(ws) < 2:
        return -OOV_LOG2P
    logs = []
    for a, w in zip(ws, ws[1:]):
        p_bi = 2.0 ** lm["bi"][(a, w)] if (a, w) in lm["bi"] else 0.0
        p_uni = 2.0 ** lm["uni"][w] if w in lm["uni"] else 2.0 ** OOV_LOG2P
        logs.append(-math.log2(LAMBDA * p_bi + (1 - LAMBDA) * p_uni))
    return sum(logs) / len(logs)


def _pair_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, w) bigram stream; docs with < 2 words keep one
    null row (explode_outer) so the aggregate can coalesce to the
    floor instead of losing the doc."""
    return (
        docs.selectExpr(
            "doc_id",
            "filter(split(lower(text), ' '), x -> x != '') as _ws",
        )
        .selectExpr(
            "doc_id",
            # zip the word stream with itself shifted by one; docs with
            # fewer than 2 words yield no pairs (explode_outer keeps the
            # doc as a null row so the final avg coalesces to the floor)
            "case when size(_ws) < 2 "
            "then cast(array() as array<struct<prev:string,w:string>>) "
            "else zip_with(slice(_ws, 1, size(_ws) - 1), "
            "              slice(_ws, 2, size(_ws) - 1), "
            "              (a, b) -> named_struct('prev', a, 'w', b)) "
            "end as ps",
        )
        .select("doc_id", F.explode_outer("ps").alias("p"))
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))
    )


OOV_P = 2.0 ** OOV_LOG2P  # exact power of two — bit-identical everywhere


def relational_bigram_lm(seed: DataFrame):
    """(uni(w, p_uni), bi(prev, w, p_bi)) built RELATIONALLY from a
    seed-corpus DataFrame — the distributed twin of ``train_bigram_lm``
    (which counts driver-side; fine for a vocab-sized model, but a
    100-TB seed corpus wants the groupBy).

    Smoothing is add-1/2, expressed as ONE division of exact integers:
    p_uni = (2c+1)/(2T+V), p_bi = (2c+1)/(2c_prev+V).  IEEE division
    of exactly-representable integers is correctly rounded, so the
    stored probabilities are bit-identical across engines — the
    cross-engine property kgkit.oracles' lm_ppl_buckets twin relies
    on (no driver-side log2 whose ulp could differ)."""
    from pyspark.sql import Window

    words = seed.selectExpr(
        "doc_id",
        "posexplode(filter(split(lower(text), ' '), x -> x != ''))"
        " AS (pos, w)",
    )
    uni_c = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni_c.agg(
        F.sum("c").alias("t_total"), F.count("*").alias("v_size")
    )
    uni = uni_c.crossJoin(F.broadcast(tot)).select(
        "w",
        ((2 * F.col("c") + 1) / (2 * F.col("t_total") + F.col("v_size")))
        .alias("p_uni"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        words.withColumn("prev", F.lag("w").over(win))
        .filter(F.col("prev").isNotNull())
    )
    bi_c = pairs.groupBy("prev", "w").agg(F.count("*").alias("c"))
    bi = (
        bi_c.join(
            uni_c.select(F.col("w").alias("prev"), F.col("c").alias("c_prev")),
            "prev",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "prev", "w",
            ((2 * F.col("c") + 1) / (2 * F.col("c_prev") + F.col("v_size")))
            .alias("p_bi"),
        )
    )
    return uni, bi


def lm_score_exact(docs: DataFrame, uni: DataFrame, bi: DataFrame
                   ) -> DataFrame:
    """(doc_id, lm_log2ppl) on the deterministic cross-engine grid.

    Plan: one generator expression builds the (prev, w) pair stream,
    two BROADCAST joins attach the (vocab-sized) probability tables,
    one groupBy(doc_id) averages — the corpus never shuffles except on
    doc_id for the final mean.  The mean is NOT a float avg
    (order-dependent across engines — CLAUDE.md gotcha): each pair's -log2 p is rounded to the
    1e-6 BIGINT grid and SUMmed (exact, commutative), then the mean is
    re-derived from (sum, count).  The interpolation input is an exact
    integer-ratio probability, so the only libm call is one log2 per
    pair, absorbed by the grid."""
    pairs = _pair_stream(docs)
    interior = (
        F.lit(LAMBDA) * F.coalesce(F.col("p_bi"), F.lit(0.0))
        + F.lit(1 - LAMBDA) * F.coalesce(F.col("p_uni"), F.lit(OOV_P))
    )
    nl_q = F.when(
        F.col("w").isNotNull(),
        F.round(-F.log2(interior) * 1000000, 0).cast("bigint"),
    )
    agg = (
        pairs.join(F.broadcast(bi), ["prev", "w"], "left")
        .join(F.broadcast(uni), ["w"], "left")
        .select("doc_id", nl_q.alias("nl_q"))
        .groupBy("doc_id")
        .agg(F.sum("nl_q").alias("s"), F.count("nl_q").alias("n"))
    )
    return agg.select(
        "doc_id",
        F.when(F.col("n") == 0, F.lit(-OOV_LOG2P))
        .otherwise(F.round(F.col("s") / (F.col("n") * F.lit(1000000.0)), 6))
        .alias("lm_log2ppl"),
    )


def ppl_tertiles(scores: DataFrame) -> DataFrame:
    """CCNet buckets on EXACT tertiles: ntile(3) ordered by (score,
    doc_id) — deterministic and SQL-twinnable, unlike approxQuantile.
    The global window is a single-partition sort of (doc_id, score)
    PAIRS only (16 bytes/doc)."""
    from pyspark.sql import Window

    w = Window.orderBy("lm_log2ppl", "doc_id")
    t = scores.withColumn("_t", F.ntile(3).over(w))
    return t.withColumn(
        "ppl_bucket",
        F.when(F.col("_t") == 1, "head")
        .when(F.col("_t") == 2, "middle")
        .otherwise("tail"),
    ).drop("_t")
