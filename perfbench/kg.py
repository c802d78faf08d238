"""Workload inputs, the calls into kgkit, and the output checks.

The benchmark reaches the program only through these public entry
points: ``sources.pages.synth_pages`` for the inputs,
``plans.stages.StageRunner.run`` around the stage operators,
``streaming.kg_stream.IncrementalKGStream.process_batch`` and its read
accessors, and ``ner_core.predict``.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import Counter
from functools import reduce
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.ner_core import predict
from kgkit.operators.canonicalize import canonical_map
from kgkit.operators.linking import link_mentions
from kgkit.operators.mentions import detect_mentions
from kgkit.operators.relations import extract_relations
from kgkit.operators.triples import assemble_triples
from kgkit.plans.stages import StageRunner
from kgkit.sources.pages import pages_for_mentions, synth_pages
from kgkit.streaming.kg_stream import IncrementalKGStream

# long, entity-sparse pages: 300 words over a 230-word pool, about 4 %
# alias hits (the tools/bench_scaling.py shape)
BULK_SHAPE = {"words_per_page": 300, "n_filler": 200}
# short, entity-dense pages: 40 words from the 30-word base pool, about
# 30 % alias hits, a hub entity on every third page
DENSE_SHAPE = {"words_per_page": 40, "n_filler": 0}
EMBED_DIM = 64
TRIPLE_COLS = ("subj", "pred", "obj", "url", "char_start", "char_end", "bucket")
RELATION_COLS = ("subj", "pred", "obj", "rel_type", "n", "pair_n", "npmi")
# (layer, StageRunner stage name), in pipeline order
STAGES = (
    ("mentions", "stage1_mentions"),
    ("linking", "stage2_linked"),
    ("canonicalize", "stage3_canonical"),
    ("triples", "stage4_triples"),
    ("relations", "stage4b_relations"),
)


# -- inputs -------------------------------------------------------------

def write_embeddings(spark: SparkSession, path: str, n: int, seed: int) -> None:
    """One deterministic 64-d vector per page id (``vec_id``): the
    linking stage reranks ambiguous aliases by page-entity cosine."""
    vec = F.expr(
        f"transform(sequence(0, {EMBED_DIM - 1}), j -> cast("
        f"(pmod(xxhash64(id, j, {seed}), 20001) - 10000) / 10000.0 as float))"
    )
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        vec.alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    ).write.parquet(path)


def write_bulk_pages(spark: SparkSession, path: str, n_pages: int, seed: int) -> None:
    synth_pages(spark, n_pages, seed=seed, **BULK_SHAPE).write.parquet(path)


def recrawl_plan(n_batches: int, batch_pages: int, revisit_share: float,
                 seed: int) -> List[Tuple[range, List[int]]]:
    """Per batch: the new page ids and the earlier ids it revisits.
    Batch 0 is all new; every later batch revisits ``revisit_share`` of
    its pages, drawn from all ids delivered before it."""
    rng = random.Random(seed)
    n_rev = round(batch_pages * revisit_share)
    plan, next_id = [], 0
    for b in range(n_batches):
        n_new = batch_pages if b == 0 else batch_pages - n_rev
        revisits = sorted(rng.sample(range(next_id), n_rev)) if b else []
        plan.append((range(next_id, next_id + n_new), revisits))
        next_id += n_new
    return plan


def write_recrawl_batches(spark: SparkSession, path: str, plan, seed: int) -> None:
    """``path/batch=<b>``: the plan's new pages with text from ``seed``,
    and its revisits with text from a per-batch second seed."""
    n_ids = plan[-1][0].stop
    pid = F.substring_index("url", "//", -1).cast("long")
    first = synth_pages(spark, n_ids, seed=seed, **DENSE_SHAPE)
    frames = []
    for b, (new_ids, revisits) in enumerate(plan):
        part = first.filter(pid.between(new_ids.start, new_ids.stop - 1))
        if revisits:
            again = synth_pages(spark, n_ids, seed=seed + 7919 * b, **DENSE_SHAPE)
            part = part.unionByName(again.filter(pid.isin(revisits)))
        frames.append(part.withColumn("batch", F.lit(b)))
    reduce(DataFrame.unionByName, frames).write.partitionBy("batch").parquet(path)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return pages_for_mentions(spark.read.parquet(path))


def latest_versions(spark: SparkSession, batches_path: str) -> DataFrame:
    """Each url's page from the last batch that delivered it."""
    pages = spark.read.parquet(batches_path)
    last = pages.groupBy("url").agg(F.max("batch").alias("batch"))
    return pages_for_mentions(pages.join(last, ["url", "batch"]))


# -- calls into kgkit ---------------------------------------------------

def build(spark: SparkSession, tracer, pages: DataFrame, embeddings: DataFrame,
          run_dir: str) -> Dict[str, DataFrame]:
    """The batch KG build, one StageRunner stage per span."""
    runner = StageRunner(spark, run_dir)
    call = tracer.call
    with tracer.span("build"):
        mentions = call("stage1_mentions", lambda: runner.run(
            "stage1_mentions", lambda: detect_mentions(pages)))
        linked = call("stage2_linked", lambda: runner.run(
            "stage2_linked", lambda: link_mentions(mentions, embeddings)))
        canon = call("stage3_canonical", lambda: runner.run(
            "stage3_canonical", lambda: canonical_map(spark)))
        triples = call("stage4_triples", lambda: runner.run(
            "stage4_triples", lambda: assemble_triples(linked, canon)))
        relations = call("stage4b_relations", lambda: runner.run(
            "stage4b_relations", lambda: extract_relations(pages, linked, canon)))
    return {"stage1_mentions": mentions, "stage2_linked": linked,
            "stage3_canonical": canon, "stage4_triples": triples,
            "stage4b_relations": relations}


def read_built(tracer, built: Dict[str, DataFrame], urls: List[str]) -> dict:
    """The three reads of a built KG: a url sample's triples, the
    entity counts and the relation edges, collected in sequence."""
    triples = built["stage4_triples"]
    return tracer.call("read", lambda: {
        "triples": triples.filter(F.col("url").isin(urls)).collect(),
        "entity_counts": triples.groupBy("obj").count().collect(),
        "relations": built["stage4b_relations"].collect(),
    })


def new_stream(embeddings: DataFrame, store: str) -> IncrementalKGStream:
    return IncrementalKGStream(embeddings, triples_dir=store, recrawl=True)


def process_batch(tracer, stm: IncrementalKGStream, pages: DataFrame,
                  batch_id: int) -> DataFrame:
    return tracer.call("process_batch",
                       lambda: stm.process_batch(pages, batch_id=batch_id),
                       batch=batch_id)


def read_stream(spark: SparkSession, tracer, stm: IncrementalKGStream,
                urls: List[str]) -> dict:
    """The stream's three read accessors, collected in sequence."""
    call = tracer.call
    with tracer.span("read"):
        return {
            "entity_counts": call("kg_stream.entity_counts",
                                  lambda: stm.entity_counts().collect()),
            "relations": call("kg_stream.relations",
                              lambda: stm.relations().collect()),
            "triples": call("kg_stream.triples", lambda: stm.triples(spark)
                            .filter(F.col("url").isin(urls)).collect()),
        }


def ner_pages_per_s(texts: List[str]) -> float:
    """Single-process ``predict`` over a fixed page sample."""
    t0 = time.perf_counter()
    predict(texts, level="entity", autocorrect=True)
    return len(texts) / (time.perf_counter() - t0)


# -- checks -------------------------------------------------------------

def byte_identity_failures(pages: DataFrame, mentions: DataFrame) -> int:
    """Mentions whose ``surface`` is not ``text[char_start:char_end]`` of
    their own page (or whose page is missing)."""
    joined = mentions.join(pages.select("url", "text"), "url", "left")
    ok = F.expr(
        "text IS NOT NULL AND char_start >= 0 AND char_start < char_end"
        " AND char_end <= length(text)"
        " AND substring(text, char_start + 1, char_end - char_start) = surface"
    )
    return joined.filter(~F.coalesce(ok, F.lit(False))).count()


def digest(rows: list) -> str:
    """Digest of sorted, collected rows."""
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def fingerprint(df: DataFrame, cols) -> Tuple[int, int]:
    """(rows, order-independent sum of row hashes)."""
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return int(row["n"]), int(row["s"] or 0)


def _rows(rows, cols) -> list:
    return sorted(tuple(r[c] for c in cols) for r in rows)


def batch_reference(spark: SparkSession, pages: DataFrame,
                    embeddings: DataFrame) -> dict:
    """The one-shot batch pipeline over ``pages``: its mentions
    (checkpointed) and its triples and relations, collected."""
    mentions = detect_mentions(pages).localCheckpoint()
    linked = link_mentions(mentions, embeddings).localCheckpoint()
    canon = canonical_map(spark)
    return {
        "mentions": mentions,
        "triples": _rows(assemble_triples(linked, canon).collect(), TRIPLE_COLS),
        "relations": _rows(extract_relations(pages, linked, canon).collect(),
                           RELATION_COLS),
    }


def stream_mismatches(spark: SparkSession, stm: IncrementalKGStream,
                      last_read: dict, ref: dict) -> List[str]:
    """Read accessors that differ from the batch pipeline over each
    url's latest version (the kg_stream contract).  ``last_read`` is the
    stream's read after its last batch; the full ``triples()`` is
    collected here."""
    bad = []
    if _rows(stm.triples(spark).collect(), TRIPLE_COLS) != ref["triples"]:
        bad.append("triples")
    want_counts = Counter(t[TRIPLE_COLS.index("obj")] for t in ref["triples"])
    got_counts = {r["obj"]: r["n_triples"] for r in last_read["entity_counts"]}
    if got_counts != dict(want_counts):
        bad.append("entity_counts")
    if _rows(last_read["relations"], RELATION_COLS) != ref["relations"]:
        bad.append("relations")
    return bad


def store_size(store: str) -> Tuple[int, int]:
    """(complete part dirs, bytes on disk) of a stream's durable store."""
    parts = [d for d in os.listdir(store)
             if os.path.exists(os.path.join(store, d, "_SUCCESS"))]
    size = sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, files in os.walk(store) for f in files)
    return len(parts), size
