#!/usr/bin/env python
"""Train the corpus-quality classifier DISTRIBUTED (the GD epochs run
as Spark BIGINT aggregations) and write the packaged checkpoint
(kgkit/checkpoints/quality_v1.npz).

Deterministic end to end: the supervision corpus is seeded-Mersenne
template text + corruptions (quality_clf.labeled_corpus), and every
cross-row reduction in training is an exact integer sum — re-running
this script reproduces the committed checkpoint bit-for-bit at ANY
partition count (tests/test_quality_clf.py pins distributed == numpy
twin).  Prints held-out accuracy per corruption mode as the evidence
the model separates structure, not vocabulary alone.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402


def main() -> None:
    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF
    from kgkit.operators.quality_clf import (
        DEFAULT_CKPT,
        QualityClassifier,
        corrupt_gibberish,
        corrupt_repeat,
        corrupt_scramble,
        fluent_pages,
        labeled_corpus,
        train_quality_clf,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", "16")
        .appName("train-quality")
        .getOrCreate()
    )
    rows = labeled_corpus(n_pages=240)
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_quality_clf(df, epochs=30, lr=0.5)

    pos = fluent_pages(120, seed=991)
    modes = {
        "fluent": pos,
        "scrambled": [corrupt_scramble(t, 7 + i) for i, t in enumerate(pos)],
        "gibberish": [corrupt_gibberish(30, i) for i in range(120)],
        "repetition": [corrupt_repeat(t) for t in pos],
    }
    for name, texts in modes.items():
        want = name == "fluent"
        acc = sum(model.keep(t) == want for t in texts) / len(texts)
        print(f"{name:11s} held-out acc {acc:.3f}")
        assert acc >= 0.9, f"{name} degenerated"

    os.makedirs(os.path.dirname(DEFAULT_CKPT), exist_ok=True)
    model.save(DEFAULT_CKPT)
    re = QualityClassifier.load(DEFAULT_CKPT)
    assert np.array_equal(re.w_q, model.w_q) and re.b_q == model.b_q
    nz = int(np.count_nonzero(model.w_q))
    print(f"wrote {DEFAULT_CKPT} ({os.path.getsize(DEFAULT_CKPT)} bytes, "
          f"{nz} non-zero weights, b_q={model.b_q})")
    spark.stop()


if __name__ == "__main__":
    main()
