"""Operators leave no cache behind in the session.

The lifetime rule: a cache an operator makes for its own fan-out is a
``persist`` released in a ``finally`` before it returns; what it
returns is an eager ``localCheckpoint``, whose blocks the context
cleaner frees once the frame is dropped.  So after a query's frames are
dropped and both garbage collectors run, the session's persistent-RDD
count is back where it was — also when the operator raises midway.  The
incremental KG stream follows the same rule per micro-batch."""

from __future__ import annotations

import gc
import time

import pytest

SF = "/root/testdata/sf0.001"

# the registry queries whose operators cache a fan-out input
CACHING_QUERIES = [
    "kg_triples",
    "kg_entity_counts",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "substring_dup_winnow",
    "corpus_clean_accounting",
]


def _persistent_rdds(spark) -> int:
    # the weak-valued map behind getPersistentRDDs(): the snapshot that
    # call returns holds every RDD strongly, and py4j unbinds it only
    # asynchronously, so polling through it would keep the RDDs alive
    return spark.sparkContext._jsc.sc().persistentRdds().size()


def _baseline(spark) -> int:
    """Persistent-RDD count once earlier tests' garbage is collected:
    collect until two reads half a second apart agree (at most ~5 s)."""
    prev = -1
    for _ in range(10):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n = _persistent_rdds(spark)
        if n == prev:
            break
        prev = n
        time.sleep(0.5)
    return n


def _settled(spark, baseline: int, timeout_s: float = 30.0) -> int:
    """Persistent-RDD count once dropped frames are collected: run the
    Python and JVM collectors and poll until the count is back at
    ``baseline`` or ``timeout_s`` passes (the cleaner is asynchronous)."""
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n = _persistent_rdds(spark)
        if n <= baseline or time.monotonic() > deadline:
            return n
        time.sleep(0.5)


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_query_releases_its_caches(spark, name):
    from kgkit.queries import QUERIES

    before = _baseline(spark)
    df = QUERIES[name](spark, SF)
    assert df.collect()
    del df
    assert _settled(spark, before) <= before


def _fail_kmeans(spark, monkeypatch):
    from kgkit.operators import similarity

    def boom(*args):
        raise RuntimeError("injected")

    monkeypatch.setattr(similarity, "cosine", boom)
    corpus = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(12)],
        "neighbor_id long, embedding array<float>",
    )
    similarity.kmeans_centroids(corpus, n_cells=2)


def _fail_quality_clf(spark, monkeypatch):
    from kgkit.operators import quality_clf

    real = quality_clf._err_q_expr
    calls = []

    def second_epoch_fails(*args):
        # the first epoch runs, so the cached features are materialized
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("injected")
        return real(*args)

    monkeypatch.setattr(quality_clf, "_err_q_expr", second_epoch_fails)
    docs = spark.createDataFrame(
        quality_clf.labeled_corpus(n_pages=20),
        "doc_id long, text string, label int",
    )
    quality_clf.train_quality_clf(docs, epochs=3, partitions=4)


def _fail_metrics_fanout(spark, monkeypatch):
    from kgkit.metrics import ner_metrics

    def boom(df):
        raise RuntimeError("injected")

    monkeypatch.setattr(ner_metrics, "token_confusion", boom)
    df = spark.createDataFrame(
        [("s0", 0, "B-A", "B-A"), ("s0", 1, "I-A", "O"), ("s0", 2, "O", "O")],
        "seq_id string, pos long, true string, pred string",
    )
    ner_metrics.metrics_fanout_df(df, "bio")


@pytest.mark.parametrize(
    "fail", [_fail_kmeans, _fail_quality_clf, _fail_metrics_fanout],
    ids=["kmeans_centroids", "train_quality_clf", "metrics_fanout_df"],
)
def test_cache_released_when_operator_raises(spark, monkeypatch, fail):
    before = _baseline(spark)
    with pytest.raises(RuntimeError, match="injected"):
        fail(spark, monkeypatch)
    assert _settled(spark, before) <= before


def test_kg_stream_releases_its_caches(spark, tmp_path):
    from kgkit.sources.pages import load_pages, pages_for_mentions
    from kgkit.streaming.kg_stream import IncrementalKGStream

    pages = pages_for_mentions(load_pages(spark, SF)).filter(
        "pmod(xxhash64(url), 5) = 0"
    )
    embeddings = spark.read.parquet(f"{SF}/embeddings.parquet")
    before = _baseline(spark)
    stm = IncrementalKGStream(embeddings, triples_dir=str(tmp_path / "store"))
    for i in range(2):
        stm.process_batch(
            pages.filter(f"pmod(xxhash64(url), 2) = {i}"), batch_id=i
        )
    assert stm.entity_counts().collect()
    del stm
    assert _settled(spark, before) <= before
