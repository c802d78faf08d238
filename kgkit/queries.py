"""Named queries — one per implemented operator family (SURVEY §2).

Each entry takes (spark, sf_dir) and returns a DataFrame whose column
names and types match the corresponding DuckDB oracle in kgkit.oracles.
These back ``__spark_entry__.queries()`` (the driver's correctness gate)
and bench.py (the throughput gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgkit.operators.canonicalize import canonical_map
from kgkit.operators.linking import cosine, link_mentions
from kgkit.operators.mentions import detect_mentions, word_tags
from kgkit.operators.triples import assemble_triples, salted_entity_counts
from kgkit.sources.pages import load_pages, pages_for_mentions


def _pages(spark, sf_dir):
    """NER input = driver corpus + the planted OOV/CJK/emoji pages
    (kgkit/sources/planted.py) — the oracle WORDS_CTE unions the same
    rows, so the [UNK]-restoration path is hash-checked corpus-wide.
    ``widen_for_udf`` un-serializes the single-row-group driver parquet
    before the Arrow UDF stage (no-op at real scan widths)."""
    from kgkit.sources.pages import widen_for_udf
    from kgkit.sources.planted import planted_ner_pages

    return widen_for_udf(
        pages_for_mentions(load_pages(spark, sf_dir)).unionByName(
            planted_ner_pages(spark)
        )
    )


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _documents_wide(spark, sf_dir):
    """documents widened to cluster width BEFORE a CPU-heavy JVM stage
    (regex batteries, shingling, n-gram folds, line machinery): the
    driver's single-row-group parquet scans as 1-2 partitions, so the
    whole PRE-exchange map side of a query otherwise runs on 1-2 of
    32 cores — measured at a 10x corpus smoke: repetition_ngrams x7.3
    and boilerplate_lines x14 their 1x walls, both map-side-bound.
    Same gate as the Arrow-UDF widen (`widen_for_udf`): a no-op at
    real multi-row-group scan widths; the round-robin exchange ships
    only the narrow projection the query selects."""
    from kgkit.sources.pages import widen_for_udf

    return widen_for_udf(_documents(spark, sf_dir))


def _mentions_q(spark, sf_dir):
    m = detect_mentions(_pages(spark, sf_dir))
    return m.select(
        "url",
        F.col("mention_id").cast("long").alias("mention_id"),
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
        "surface", "tag",
    )


def _mentions_nn_q(spark, sf_dir):
    """Full mention pipeline with the TRAINED numpy head (M1-M3,
    kgkit/ner_core/trained.py): hashed-feature embedding lookup ->
    batched matmul -> logits -> argmax decode -> the whole W1-W8
    lifecycle.  The head was fit by seeded SGD (tools/train_tagger.py)
    and genuinely DISAGREES with the gazetteer on some pages
    (~99.3% token parity at sf0.01) — its oracle recomputes the
    forward pass itself in SQL, so this row gates the model path,
    not a rule-path tautology."""
    m = detect_mentions(_pages(spark, sf_dir), model="trained")
    return m.select(
        "url",
        F.col("mention_id").cast("long").alias("mention_id"),
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
        "surface", "tag",
    )


def _mentions_sp_q(spark, sf_dir):
    """Full mention pipeline over the SentencePiece-convention
    tokenizer twin (Ġ word-start markers, <s>/</s>/<pad> framing,
    api/model.py:1243-1254 + token_tags.py:334-352): T1 slicing, W1
    subtoken merge under the Ġ rule, W2 [UNK] restore, W5-W8.  The
    oracle is the word-level mention SQL — the extracted mentions must
    be BYTE-IDENTICAL to the WordPiece run, proving tokenization is an
    implementation detail the pipeline fully undoes for either
    convention."""
    m = detect_mentions(_pages(spark, sf_dir), tokenizer="sentencepiece")
    return m.select(
        "url",
        F.col("mention_id").cast("long").alias("mention_id"),
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
        "surface", "tag",
    )


def _predict_proba_nn_q(spark, sf_dir):
    """M3 softmax probabilities from the TRAINED head's logits,
    exploded to (url, pos, cls, proba); the DuckDB oracle recomputes
    the logits from the checkpoint weights and the softmax with exp()
    in SQL."""
    from kgkit.operators.mentions import word_probas

    return word_probas(_pages(spark, sf_dir), model="trained").select(
        "url",
        F.col("pos").cast("long").alias("pos"),
        "cls",
        F.round("proba", 6).alias("proba"),
    )


def _predict_proba_nn_map_q(spark, sf_dir):
    """M3 in the PRODUCTION shape: one row per word, the whole
    distribution packed per word (kgkit.operators.mentions
    word_probas_map keeps the MAP<string,double> API).  The checked
    projection serializes the map to one exact string per word —
    entries sorted by class, each value on the integer 1e-6 grid
    (``cls:micro``, ';'-joined) — because a raw MapType column cannot
    be canonicalized by the driver's cross-engine hash compare
    (unhashable dicts in the pandas sort).  Micro-int encoding makes
    the string bit-identical across engines: both sides round the
    softmax to 6 decimals first (the exploded twin ``predict_proba_nn``
    hash-proves those doubles equal), so ``round(p*1e6)`` is the same
    integer on both.  Full DuckDB oracle (string_agg over the same
    trained-forward-pass CTE); |words| rows, not |words|x|classes|."""
    from kgkit.operators.mentions import word_probas_map

    m = word_probas_map(_pages(spark, sf_dir), model="trained")
    return m.select(
        "url",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.transform(
                F.sort_array(F.map_entries("probas")),
                lambda e: F.concat(
                    e["key"], F.lit(":"),
                    F.round(e["value"] * 1000000, 0).cast("long").cast("string"),
                ),
            ),
            ";",
        ).alias("probas_str"),
    )


def _linked_q(spark, sf_dir):
    linked = link_mentions(
        detect_mentions(_pages(spark, sf_dir)), _embeddings(spark, sf_dir)
    )
    return linked.select(
        "url",
        F.col("mention_id").cast("long").alias("mention_id"),
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
        "surface", "tag", "entity_id", "prior",
    )


def _canonical_q(spark, sf_dir):
    return canonical_map(spark)


def _triples_df(spark, sf_dir):
    linked = link_mentions(
        detect_mentions(_pages(spark, sf_dir)), _embeddings(spark, sf_dir)
    )
    return assemble_triples(linked, canonical_map(spark))


def _triples_q(spark, sf_dir):
    return _triples_df(spark, sf_dir).select(
        "subj", "pred", "obj", "url",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


def _entity_counts_q(spark, sf_dir):
    return salted_entity_counts(_triples_df(spark, sf_dir)).select(
        "obj", F.col("n_triples").cast("long").alias("n_triples")
    )


def _kg_relations_q(spark, sf_dir):
    """Stage 4b: entity-entity relation edges (operators/relations.py)
    — the gap text between adjacent canonical mentions becomes the
    predicate surface, typed by the verb-pattern rule (relations.REL_TYPE)
    and weighted with NPMI association strength from exact BIGINT
    marginals of the pair stream.  The corpus is widened with the
    relation-planted verb pages (planted.RELATION_TEXTS — the driver
    vocabulary carries no copula/possession/inflected forms, so the
    typed classes need positives) on BOTH engine sides.  The oracle
    replays the linked+canon lineage, the pair window, the
    substr/regexp surface rule, the typing CASE and the marginal
    arithmetic on the shared round(6) grid."""
    from kgkit.operators.relations import extract_relations
    from kgkit.sources.planted import relation_planted_pages

    pages = _pages(spark, sf_dir).unionByName(relation_planted_pages(spark))
    linked = link_mentions(detect_mentions(pages), _embeddings(spark, sf_dir))
    rel = extract_relations(pages, linked, canonical_map(spark))
    return rel.select(
        "subj", "pred", "obj", "rel_type",
        F.col("n").cast("long").alias("n"),
        F.col("pair_n").cast("long").alias("pair_n"),
        "npmi",
    )


def _word_tags_q(spark, sf_dir):
    return word_tags(_pages(spark, sf_dir)).select(
        "url", F.col("pos").cast("long").alias("pos"), "word", "tag"
    )


def _pack_sequences_q(spark, sf_dir):
    """Training-export sequence packing (operators/packing.py):
    BPE-ish pretokens -> hash-vocab ids + EOS, concatenated per
    doc-hash shard in doc_id order and cut into 256-token windows
    (tail dropped).  The oracle unrolls the identical id arithmetic
    with a per-shard running-offset window and groups exploded tokens
    by window index; seq_hash = md5 of the ';'-joined ids makes the
    sequence payload hashable cross-engine."""
    from kgkit.operators.packing import pack_sequences

    return pack_sequences(_documents_wide(spark, sf_dir), max_len=256,
                          n_shards=64)


def _ner_eval_stream(spark, sf_dir):
    """Deterministic (true, pred) token stream for the metrics engine:
    true = gazetteer word tags; pred = true with every tag at
    (pos*31 + doc_id) % 7 == 0 flipped to 'O' (pure arithmetic — the
    same perturbation is replayed in the DuckDB oracle)."""
    wt = word_tags(_pages(spark, sf_dir))
    doc_id = F.substring_index(F.col("url"), "//", -1).cast("long")
    flip = (F.col("tag") != "O") & (
        (F.col("pos").cast("long") * 31 + doc_id) % 7 == 0
    )
    return wt.select(
        F.col("url").alias("seq_id"),
        F.col("pos").cast("long").alias("pos"),
        F.col("tag").alias("true"),
        F.when(flip, F.lit("O")).otherwise(F.col("tag")).alias("pred"),
    )


def _ner_token_confusion_q(spark, sf_dir):
    """A2-A4/A7 sufficient statistic: token-level confusion counts."""
    from kgkit.metrics.ner_metrics import token_confusion

    return token_confusion(_ner_eval_stream(spark, sf_dir)).select(
        "true", "pred", F.col("n").cast("long").alias("n")
    )


def _ner_entity_prf_q(spark, sf_dir):
    """A5: seqeval-strict per-class chunk TP/FP/FN — the entity-level
    P/R engine (and the north rule's triple-parity mechanism J5)."""
    from kgkit.metrics.ner_metrics import entity_class_counts

    return entity_class_counts(_ner_eval_stream(spark, sf_dir), "bio").select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_pred").cast("long").alias("n_pred"),
    )


def _asr_corrected_q(spark, sf_dir):
    """A6 annotation-scheme repair over the full prediction stream:
    the window-expression twin of the reference's fix_scheme loop
    (tags.py:224-303) — I-X with a bad predecessor becomes B-X.  The
    eval stream's O-flips orphan real I- tags, so the repair fires on
    genuine violations at corpus scale."""
    from kgkit.metrics.ner_metrics import asr_corrected

    return asr_corrected(_ner_eval_stream(spark, sf_dir), "bio").select(
        "seq_id",
        F.col("pos").cast("long").alias("pos"),
        "pred", "pred_asr",
        F.col("asr_changed").cast("int").alias("asr_changed"),
    )


def _eval_fanout_q(spark, sf_dir):
    """A9 metric fan-out as a distributed DataFrame: per-subset micro
    P/R/F1 rows at both levels (kgkit.metrics.ner_metrics
    metrics_fanout_df; equality with the reference-shaped dict API is
    pinned by tests/test_ner_metrics.py)."""
    from kgkit.metrics.ner_metrics import metrics_fanout_df

    return metrics_fanout_df(_ner_eval_stream(spark, sf_dir), "bio")


def _dataset_stats_q(spark, sf_dir):
    """A10 in ONE pass: totals come from unbounded windows over the tiny
    per-tag count table (≤ |label set| rows), not extra scans — the
    word-level UDF must run exactly once."""
    plain = _word_tags_q(spark, sf_dir).select(
        F.regexp_replace("tag", "^[BILU]-", "").alias("tag")
    )
    counts = plain.groupBy("tag").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    total = F.sum("n").over(w)
    total_ent = F.sum(F.when(F.col("tag") != "O", F.col("n"))).over(w)
    return counts.select(
        "tag",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / total.cast("double"), 6).alias("frac_with_o"),
        F.when(F.col("tag") == "O", F.lit(-1.0))
        .otherwise(F.round(F.col("n") / total_ent.cast("double"), 6))
        .alias("frac_without_o"),
    )


def _split_phases_q(spark, sf_dir):
    """X1: deterministic contiguous-free hash split (SURVEY §2.7)."""
    docs = _documents(spark, sf_dir)
    return (
        docs.withColumn(
            "phase",
            F.when(F.col("doc_id") % 10 < 8, "train")
            .when(F.col("doc_id") % 10 == 8, "val")
            .otherwise("test"),
        )
        .groupBy("phase")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def _lang_id_q(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    stop_ratio = F.expr(
        "size(filter(split(text, ' '), w -> w IN ('the', 'a'))) "
        "/ cast(size(split(text, ' ')) as double)"
    )
    return (
        docs.withColumn(
            "pred_lang", F.when(stop_ratio > 0.03, "en").otherwise("other")
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _token_count_bpe_q(spark, sf_dir):
    """Token counting with a BPE-ish pretokenizer regex (lookahead-free
    GPT-2 pattern shared verbatim with the DuckDB oracle)."""
    from kgkit.operators.text_quality import bpe_token_stats

    return bpe_token_stats(_documents_wide(spark, sf_dir))


def _quality_gopher_q(spark, sf_dir):
    """Gopher-style rule battery (Rae et al. 2021 A1.1) — the real
    quality filter a pre-training pipeline runs; one codegen'd
    projection, no shuffle."""
    from kgkit.operators.text_quality import gopher_quality

    return gopher_quality(_documents_wide(spark, sf_dir))


def _repetition_ngrams_q(spark, sf_dir):
    """Gopher repetition signal: top word-2-gram per doc + the fraction
    of document characters it covers."""
    from kgkit.operators.text_quality import top_ngram_stats

    return top_ngram_stats(_documents_wide(spark, sf_dir), n=2)


def _pii_scrub_q(spark, sf_dir):
    """PII detect + scrub over a deterministically-planted corpus (the
    synthetic docs are PII-free, so positives are planted identically
    in the Spark plan and the DuckDB oracle)."""
    from kgkit.operators.text_quality import pii_scrub, plant_pii

    return pii_scrub(plant_pii(_documents_wide(spark, sf_dir)))


def _boilerplate_q(spark, sf_dir):
    """Per-host boilerplate line removal (operators/boilerplate.py —
    the RefinedWeb/CCNet line-dedup stage) over the deterministic
    multi-line template fixture: per-host banner + re-flowed body +
    every-3rd-doc footer on the Zipf host distribution.  The oracle
    rebuilds the identical strings and replays the distinct-doc line
    frequency and removal; clean_hash witnesses the reassembled text."""
    from kgkit.operators.boilerplate import (
        remove_boilerplate_lines, with_template_lines,
    )

    docs = with_template_lines(
        _documents_wide(spark, sf_dir).select("doc_id", "text")
    )
    return remove_boilerplate_lines(docs, min_docs=5).select(
        "doc_id", "host", "n_kept", "n_removed",
        F.md5("clean_text").alias("clean_hash"),
    )


def _unicode_nfc_q(spark, sf_dir):
    """Unicode NFC canonicalization over a planted-NFD corpus (the
    pre-dedup normalization step; kgkit.operators.text_quality
    unicode_nfc — one mapInPandas pass, md5-of-normalized-text as the
    cross-engine witness against DuckDB's native nfc_normalize)."""
    from kgkit.operators.text_quality import plant_decomposed, unicode_nfc

    return unicode_nfc(
        plant_decomposed(_documents(spark, sf_dir).select("doc_id", "text"))
    )


def _planted_docs(spark, sf_dir):
    """Planted-duplicate corpus for the dedup family — WIDENED: the
    driver's single-row-group parquet scans as 2 partitions, which
    serializes the CPU-bound shingling/winnowing HOF stages on 2 of 32
    cores (same pathology widen_for_udf fixed for the Arrow-UDF
    queries in r3; measured r5: winnow_fingerprints alone 6.5 s ->
    ~1 s once wide).  Widened AFTER the planted union at ONE wave:
    widening the base first compounds through the union's branches
    (64+32+32 partitions) and the extra tasks tax every stage of the
    multi-stage consumers.  No-op at real scan widths."""
    from kgkit.operators.dedup import planted_near_dups
    from kgkit.sources.pages import widen_for_udf

    return widen_for_udf(
        planted_near_dups(_documents(spark, sf_dir).select("doc_id", "text")),
        waves=1,
    )


def _dedup_clusters_q(spark, sf_dir):
    """MinHash+LSH near-dups taken to RESOLUTION: pairs -> transitive
    duplicate clusters (connected components, natural doc_id order) ->
    canonical survivor per cluster.  Strictly subsumes the retired
    pair query — the oracle recomputes the identical shingle/band/
    verify pair SQL and then closes it with a recursive CTE, so a
    wrong pair stream cannot produce matching clusters."""
    from kgkit.operators.dedup import dup_clusters, minhash_near_dups

    pairs = minhash_near_dups(_planted_docs(spark, sf_dir))
    return dup_clusters(pairs).select(
        F.col("doc_id").cast("long"), F.col("canonical_id").cast("long")
    )


def _dedup_incremental_q(spark, sf_dir):
    """Snapshot-vs-corpus dedup (the recrawl shape): planted copies play
    the new batch, originals the indexed corpus; only cross pairs are
    candidates."""
    from kgkit.operators.dedup import incremental_near_dups

    planted = _planted_docs(spark, sf_dir)
    d = incremental_near_dups(
        planted.filter(F.col("doc_id") < 100_000),
        planted.filter(F.col("doc_id") >= 100_000),
    )
    return d.select(
        F.col("corpus_doc_id").cast("long").alias("corpus_doc_id"),
        F.col("new_doc_id").cast("long").alias("new_doc_id"),
        "jaccard",
    )


def _dedup_ngram_jaccard_q(spark, sf_dir):
    """Exact inverted-index n-gram Jaccard on the planted corpus."""
    from kgkit.operators.dedup import ngram_jaccard_pairs

    d = ngram_jaccard_pairs(_planted_docs(spark, sf_dir))
    return d.select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), "jaccard"
    )


def _planted_embeddings(spark, sf_dir):
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(copies)


def _dedup_embedding_q(spark, sf_dir):
    from kgkit.operators.similarity import embedding_near_dups

    d = embedding_near_dups(_planted_embeddings(spark, sf_dir))
    return d.select(
        F.col("vec_a").cast("long"), F.col("vec_b").cast("long"), "cos"
    )


def _ann_topk_ivf_kmeans_q(spark, sf_dir):
    """IVF ANN with a REAL spherical k-means coarse quantizer (2 Lloyd
    iterations, integer-quantized exact sum centroids) — upgrades
    ann_topk_ivf's seed-only placeholder."""
    from kgkit.operators.similarity import ivf_kmeans_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return ivf_kmeans_topk(queries, corpus, k=3).select(
        F.col("query_id").cast("long"), F.col("neighbor_id").cast("long"), "rank"
    )


def _ann_topk_lsh_q(spark, sf_dir):
    """Sign-LSH bucketed ANN (the scale path next to brute-force ann_topk)."""
    from kgkit.operators.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return lsh_topk(queries, corpus, k=3).select(
        F.col("query_id").cast("long"), F.col("neighbor_id").cast("long"), "rank"
    )


def _dedup_exact_q(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("keep_doc_id"),
    )


def _media_stats_q(spark, sf_dir):
    """Multimodal metadata over the opaque binary column (no decode)."""
    from kgkit.operators.multimodal import media_metadata

    pages = load_pages(spark, sf_dir)
    return media_metadata(pages).groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.countDistinct("digest").cast("long").alias("n_distinct"),
    )


def _host_authority_q(spark, sf_dir):
    """Web-graph authority end to end: the WARC fixture's planted
    empty-anchor outlinks (warc.fixture_anchors — invisible to the
    text extraction, so warc_pages stays byte-exact) through JVM href
    extraction, relative-URL resolution, host-edge aggregation and
    five rounds of integer-exact PageRank on the 1/2^40 grid.  The
    oracle rebuilds the same graph from the anchor formula and unrolls
    the identical BIGINT recurrence (oracles._host_authority_sql), so
    the ranks are hash-checked bit-for-bit."""
    from kgkit.operators.linkgraph import host_authority
    from kgkit.sources.warc import read_warc, synth_warc_fixture

    glob = synth_warc_fixture(spark, sf_dir)
    pages = (
        read_warc(spark, glob)
        .filter(
            (F.col("warc_type") == "response")
            & F.col("http_status").between(200, 299)
            & (F.col("mime") == "text/html")
        )
        .select("url", F.col("payload").cast("string").alias("html"))
    )
    return host_authority(pages).select(
        "host", "rank_q", "out_w", "in_w"
    )


def _hf_pretokenized_ingest_q(spark, sf_dir):
    """S4 layout A: ClassLabel-encoded pretokenized fixture -> ingest
    roundtrip (huggingface_datasets_formatter.py:269-277); the oracle
    recomputes the expected token/tag stream independently."""
    from kgkit.sources.hf_datasets import (
        hf_pretokenized_fixture,
        ingest_pretokenized,
    )

    fixture = hf_pretokenized_fixture(word_tags(_pages(spark, sf_dir)))
    return ingest_pretokenized(fixture).select(
        F.col("sentence_id").alias("url"),
        F.col("pos").cast("long").alias("pos"),
        "token", "tag",
    )


def _hf_charspan_ingest_q(spark, sf_dir):
    """S4 layout B: document-offset char-span fixture (+1000 shift, one
    planted disconnected entity) -> mapping rename, ClassLabel decode,
    disconnected filter, boundary normalization
    (huggingface_datasets_formatter.py:279-348)."""
    from kgkit.sources.hf_datasets import hf_charspan_fixture, ingest_charspan

    pages = _pages(spark, sf_dir)
    fixture = hf_charspan_fixture(pages, detect_mentions(pages))
    return ingest_charspan(fixture).select(
        F.col("sentence_id").alias("url"),
        "token", "tag",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


def _tags_bilou_q(spark, sf_dir):
    """P7 plain->bilou as a lag/lead window conversion (SURVEY §2.3)."""
    wt = _word_tags_q(spark, sf_dir)
    plain = F.regexp_replace("tag", "^[BILU]-", "")
    w = Window.partitionBy("url").orderBy("pos")
    t = wt.select("url", "pos", plain.alias("p"))
    prev, nxt = F.lag("p").over(w), F.lead("p").over(w)
    starts = prev.isNull() | (prev != F.col("p"))
    ends = nxt.isNull() | (nxt != F.col("p"))
    return t.select(
        "url", "pos",
        F.when(F.col("p") == "O", F.lit("O"))
        .when(starts & ends, F.concat(F.lit("U-"), "p"))
        .when(starts, F.concat(F.lit("B-"), "p"))
        .when(ends, F.concat(F.lit("L-"), "p"))
        .otherwise(F.concat(F.lit("I-"), "p"))
        .alias("tag_bilou"),
    )


def _iob1_roundtrip_q(spark, sf_dir):
    """P6 IOB1->IOB2 as a lag window: downgrade the BIO stream to IOB1
    (B- only separates adjacent same-class chunks), convert back, and
    return both columns — the roundtrip must reproduce the original."""
    wt = _word_tags_q(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("pos")
    plain = F.regexp_replace("tag", "^[BI]-", "")
    t = wt.select(
        "url", "pos", "tag", plain.alias("p"), F.lag(plain).over(w).alias("pp")
    )
    iob1 = F.when(
        F.col("tag").startswith("B-")
        & (F.col("pp").isNull() | (F.col("pp") != F.col("p"))),
        F.concat(F.lit("I-"), "p"),
    ).otherwise(F.col("tag"))
    t = t.select("url", "pos", "tag", iob1.alias("tag_iob1"))
    prev1 = F.lag("tag_iob1").over(w)
    # IOB1 -> IOB2: I-X becomes B-X unless previous tag is B-X or I-X
    cls = F.regexp_replace("tag_iob1", "^[BI]-", "")
    keep_i = (prev1 == F.concat(F.lit("B-"), cls)) | (
        prev1 == F.concat(F.lit("I-"), cls)
    )
    tag_iob2 = F.when(
        F.col("tag_iob1").startswith("I-") & ~F.coalesce(keep_i, F.lit(False)),
        F.concat(F.lit("B-"), cls),
    ).otherwise(F.col("tag_iob1"))
    return t.select(
        "url", "pos", "tag_iob1", tag_iob2.alias("tag_iob2"),
        (tag_iob2 == F.col("tag")).alias("roundtrip_ok"),
    )


def _substring_dup_winnow_q(spark, sf_dir):
    """Winnowing substring dedup (Schleimer/Wilkerson/Aiken) over the
    planted corpus: selected-fingerprint equi-join with the max_bucket
    skew cap + byte verification at the surviving positions.  The
    DuckDB oracle replays the whole construction (k-gram md5 prefix
    hashes, window struct-min selection, cap, substring verify)."""
    from kgkit.operators.dedup import substring_dup_pairs

    d = substring_dup_pairs(_planted_docs(spark, sf_dir))
    return d.select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
        F.col("n_shared").cast("long"),
    )


def _url_canonical_dedup_q(spark, sf_dir):
    """URL-level dedup over the deterministic messy-variant fixture
    (kgkit.operators.urls.with_messy_urls): case/port/tracking-param/
    param-order variants collapse onto one canonical key; junk URLs
    canonicalize to NULL and drop.  The oracle RE-IMPLEMENTS the
    canonicalizer in DuckDB SQL (regexp + list ops), value-checking the
    JVM expression against an independent engine.  ``variants``
    serializes to a '|'-joined sorted string (array columns don't
    survive the driver's cross-engine hash compare; fixture urls are
    distinct per row, so count(*) == count(distinct))."""
    from kgkit.operators.urls import url_dedup_keys, with_messy_urls

    d = with_messy_urls(_documents_wide(spark, sf_dir).select("doc_id"))
    return url_dedup_keys(d).select(
        "canonical_url",
        F.col("n_variants").cast("long").alias("n_variants"),
        F.array_join("variants", "|").alias("variants_str"),
    )


def _robots_filter_q(spark, sf_dir):
    """Distributed robots.txt application (RFC 9309 longest-match,
    Allow wins ties): broadcast per-host rule table, map-side fan-out,
    one window on the unique doc_id — kgkit.operators.urls
    robots_apply over the 5-host x 7-path crawl fixture.  The oracle
    replays the longest-match ranking in SQL with regexes compiled by
    the SAME python pattern compiler."""
    from kgkit.operators.urls import (
        SYNTH_ROBOTS,
        robots_apply,
        robots_rules_df,
        with_crawl_urls,
    )

    urls = with_crawl_urls(_documents(spark, sf_dir).select("doc_id"))
    rules = robots_rules_df(spark, SYNTH_ROBOTS)
    return robots_apply(urls, rules).select(
        F.col("doc_id").cast("long"), "url",
        F.col("allowed").cast("int").alias("allowed"),
    )


def _lm_ppl_buckets_q(spark, sf_dir):
    """CCNet-style LM perplexity scoring end to end, cross-engine
    exact: the bigram LM is built RELATIONALLY from the seed corpus
    (docs with doc_id % 10 == 0; add-1/2 smoothing as one division of
    exact integers), scoring is the broadcast-join pair stream with
    per-pair -log2 p quantized to the 1e-6 BIGINT grid and SUMmed
    (order-independent), buckets are exact ntile(3) tertiles.  The
    oracle recomputes LM training AND scoring from the same parquet in
    SQL — no model file crosses engines."""
    from kgkit.operators.lm_quality import (
        lm_score_exact,
        ppl_tertiles,
        relational_bigram_lm,
    )

    docs = _documents_wide(spark, sf_dir).select("doc_id", "text")
    uni, bi = relational_bigram_lm(docs.filter(F.col("doc_id") % 10 == 0))
    return ppl_tertiles(lm_score_exact(docs, uni, bi)).select(
        F.col("doc_id").cast("long"), "lm_log2ppl", "ppl_bucket"
    )


def _sample_mixture_q(spark, sf_dir):
    """Deterministic data mixing (kgkit.operators.sampling
    mixture_sample): per-tier rates with epoch oversampling (head 2.3x
    -> 2 copies + Bernoulli(0.3) third), plain keep (middle 1.0),
    subsample (tail 0.25), whitelist drop ('skip' absent from rates) —
    one generator expression over a pushed-down hash predicate.  Uses
    the md5 hash mode so the oracle replays the exact draw (DuckDB has
    no xxhash64)."""
    from kgkit.operators.sampling import mixture_sample

    docs = _documents(spark, sf_dir).select("doc_id")
    tier = (
        F.when(F.col("doc_id") % 4 == 0, "head")
        .when(F.col("doc_id") % 4 == 1, "middle")
        .when(F.col("doc_id") % 4 == 2, "skip")
        .otherwise("tail")
    )
    out = mixture_sample(
        docs.withColumn("tier", tier),
        {"head": 2.3, "middle": 1.0, "tail": 0.25},
        "tier", seed=1, hash_fn="md5",
    )
    return out.select(
        F.col("doc_id").cast("long"), "tier", F.col("replica").cast("int")
    )


def _warc_pages_q(spark, sf_dir):
    """WARC ingestion end to end: a deterministic crawl fixture derived
    from the documents table (synth_warc_fixture: 8 segment files,
    HTML-wrapped text, 404/text-plain distractors) through the
    binaryFile + Arrow parse + JVM HTML->text path.  The oracle
    recomputes the expected visible text ('doc {id} {text}') straight
    from documents — the whole framing/HTTP-split/extraction chain must
    reproduce it byte-exactly."""
    from kgkit.sources.warc import synth_warc_fixture, warc_pages

    glob = synth_warc_fixture(spark, sf_dir)
    return warc_pages(spark, glob).select(
        "url",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


def _corpus_clean_accounting_q(spark, sf_dir):
    """The COMPOSED corpus cleaner's per-stage accounting as one row:
    planted URL variants (messy-url fixture), exact copies
    (doc_id % 9 -> +200000), near-dup copies (planted +100000) and
    low-quality docs flow through clean_corpus; the oracle recomputes
    all four stage boundaries (canonical-URL dedup, md5 dedup,
    MinHash+LSH greedy right-drop, Gopher keep) in SQL.  The returned
    frame is the stats dict (counts — driver-side by definition)."""
    from kgkit.operators.corpus_clean import clean_corpus
    from kgkit.operators.urls import with_messy_urls

    base = _documents(spark, sf_dir).select("doc_id", "text")
    exact = base.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    docs3 = with_messy_urls(
        _planted_docs(spark, sf_dir).unionByName(exact)
    ).select("doc_id", "url", "text")
    _, stats = clean_corpus(docs3)
    keys = sorted(stats)
    return spark.createDataFrame(
        [tuple(int(stats[k]) for k in keys)],
        ", ".join(f"{k} long" for k in keys),
    )


def _anchor_aliases_q(spark, sf_dir):
    """Anchor-text alias mining end to end: deterministic anchor-rich
    pages (with_anchor_html — built entirely in Spark expressions, no
    driver loop) through the two-group extraction, relative-URL
    resolution, anchor normalization (nested tag strip, double-escaped
    entity, whitespace collapse, lowercase) and the (resource × alias)
    aggregation the KG linking stage would broadcast.  The oracle
    replays the identical string arithmetic in SQL."""
    from kgkit.operators.linkgraph import (
        alias_counts,
        anchor_texts,
        with_anchor_html,
    )

    docs = _documents_wide(spark, sf_dir).select("doc_id", "text")
    return alias_counts(anchor_texts(with_anchor_html(docs))).select(
        "dst_url", "alias", F.col("n_refs").cast("long")
    )


def _user_sessions_q(spark, sf_dir):
    """Sessionization of the events table with a 30-minute inactivity
    gap: window cumsum over gap flags."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    # integer-second gap on both engines (unix_timestamp == floor(epoch))
    epoch = F.unix_timestamp("ts")
    gap = epoch - F.lag(epoch).over(w)
    sess = (
        events.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_no", F.sum("new_session").over(w))
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    ).select(
        F.col("user_id").cast("long"),
        F.col("session_no").cast("long"),
        "n_events", "total_value", "session_start", "session_end",
    )


def _quality_trained_q(spark, sf_dir):
    """Trained quality classifier (operators/quality_clf.py) scoring
    the documents table with the packaged checkpoint: hashed
    unigram+bigram stream -> broadcast weight join -> one
    groupBy(doc_id) BIGINT sum.  score_q is exact; logit is the one
    IEEE division both engines perform identically (the
    predict_proba_nn precedent); the DuckDB oracle replays the
    identical md5-prefix bucket hashing and weight table."""
    from kgkit.operators.quality_clf import (
        default_quality_clf,
        quality_clf_score,
    )

    docs = _documents_wide(spark, sf_dir).select("doc_id", "text")
    out = quality_clf_score(docs, default_quality_clf())
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("score_q").cast("long"),
        "logit",
        F.col("keep").cast("long"),
    )


def _events_asof_q(spark, sf_dir):
    """Temporal attribution: each purchase event joined AS-OF to the
    same user's most recent preceding click (operators/asof.py —
    union-tag + ONE per-key window; the plain-join budget, no range
    explosion).  Clicks are pre-deduped to one row per (user_id, ts)
    keeping the max event_id so the tie rule is engine-independent;
    timestamps are emitted as integer epoch seconds (unix_timestamp ==
    DuckDB floor(epoch)) and unmatched purchases carry -1 sentinels
    (the eval_fanout convention) so every column stays non-null
    BIGINT.  The oracle runs DuckDB's NATIVE ``ASOF LEFT JOIN`` — an
    independent algorithm over the same inclusive point-in-time
    semantics."""
    from kgkit.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(purchases, clicks, on="user_id", prefix="c_")
    ts_s = F.unix_timestamp("ts")
    c_ts_s = F.unix_timestamp("c_ts")
    return out.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        ts_s.alias("ts_s"),
        "value",
        F.coalesce(F.col("c_event_id").cast("long"), F.lit(-1)).alias(
            "click_event_id"
        ),
        F.coalesce(c_ts_s, F.lit(-1)).alias("click_ts_s"),
        F.coalesce(ts_s - c_ts_s, F.lit(-1)).alias("gap_s"),
    )


def _q1_q(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


# Registry size is capped at 50 ON PURPOSE: the driver's correctness
# gate checks the first 50 entries, and round 3 proved entries past
# that fall silently outside the check window.  FOLD, DON'T APPEND: a
# new query must replace the least-informative member of its family
# (per-family headroom notes below).  Retired so far — each subsumed
# by a richer survivor in the same family:
#   ann_topk (brute force)  -> ann_topk_lsh/ivf_kmeans (r3)
#   q5/q6 (TPC-H)           -> q3/q10 (r3)
#   token_count             -> token_count_bpe (r5)
#   quality_score           -> quality_gopher (r5)
#   doc_fingerprint         -> substring_dup_winnow (r5, full winnowing)
#   dedup_simhash           -> MinHash/jaccard/winnow family (r5;
#                              the op is deleted)
#   media_frame_sample      -> media_byte_histogram (r5)
#   media_byte_histogram    -> media_stats (r5; the histogram and
#                              frame-sample ops are deleted)
#   ann_topk_ivf            -> ann_topk_ivf_kmeans (r5, real quantizer)
#   asr_abidance            -> asr_corrected_bio (r5; the aggregate is
#                              a projection of the full stream)
#   dedup_minhash_lsh       -> dedup_clusters (r5; the cluster oracle
#                              recomputes the identical pair SQL, then
#                              closes it transitively)
#   q14_promo_revenue       -> q1/q3/q10 (r5; broadcast-join + agg and
#                              conditional-aggregate shapes both remain
#                              covered — the slot funds anchor_aliases,
#                              which the KG tier values higher)
#   host_stats              -> boilerplate_lines (r5; same host-level
#                              crawl-hygiene family and the same COUNT
#                              DISTINCT split discipline, but the
#                              survivor also performs the removal
#                              transform; the op is deleted)
#   label_set               -> word_tags_bio (r5; it was literally a
#                              DISTINCT projection of that query's
#                              checked stream — zero extra information;
#                              the slot funds pack_sequences, the
#                              training-export terminal stage)
#   q10_returned_items      -> q1/q3 (r5; multi-join + agg + ranked
#                              limit stays covered by q3 and the
#                              conditional aggregate by q1 — the slot
#                              funds kg_relations, the entity-entity
#                              edge extraction the KG tier is FOR)
#   events_hourly           -> user_sessions + q1 (r5; the hourly
#                              groupBy is the least-informative member
#                              of the relational family — the window
#                              sessionization and the TPC-H aggregates
#                              cover its shapes; the slot funds
#                              quality_trained, the trained corpus
#                              filter the LLM tier values higher)
#   q3_shipping_priority    -> q1 + kg_linked + ann_topk_* (r5; its
#                              shapes — multi-join, filtered agg,
#                              ranked limit — all remain covered; the
#                              slot funds events_asof, the custom
#                              AS-OF JOIN operator Spark SQL lacks,
#                              verified against DuckDB's native one)
QUERIES = {
    # -- KG pipeline (stages 1-4): headroom = none, every row is a
    #    distinct pipeline stage gate
    "kg_mentions": _mentions_q,
    "kg_mentions_sp": _mentions_sp_q,
    "kg_mentions_nn": _mentions_nn_q,
    "predict_proba_nn": _predict_proba_nn_q,
    "predict_proba_nn_map": _predict_proba_nn_map_q,
    "kg_linked": _linked_q,
    "kg_canonical": _canonical_q,
    "kg_triples": _triples_q,
    "kg_entity_counts": _entity_counts_q,
    "kg_relations": _kg_relations_q,
    # -- tag algebra / metrics: fold next into asr_corrected_bio or the
    #    scheme-conversion rows (lag-window family)
    "word_tags_bio": _word_tags_q,
    "ner_token_confusion": _ner_token_confusion_q,
    "ner_entity_prf": _ner_entity_prf_q,
    "asr_corrected_bio": _asr_corrected_q,
    "eval_fanout": _eval_fanout_q,
    "dataset_stats": _dataset_stats_q,
    "split_phases": _split_phases_q,
    # -- text quality battery: fold next into quality_gopher (rule
    #    batteries) or lm_ppl_buckets (model scoring)
    "lang_id": _lang_id_q,
    "token_count_bpe": _token_count_bpe_q,
    "quality_gopher": _quality_gopher_q,
    "repetition_ngrams": _repetition_ngrams_q,
    "pii_scrub": _pii_scrub_q,
    "unicode_nfc": _unicode_nfc_q,
    "boilerplate_lines": _boilerplate_q,
    "lm_ppl_buckets": _lm_ppl_buckets_q,
    "quality_trained": _quality_trained_q,
    # -- dedup family: exact / whole-doc-near / substring; fold next
    #    into the member sharing its candidate-generation scheme
    "dedup_exact": _dedup_exact_q,
    "dedup_clusters": _dedup_clusters_q,
    "dedup_incremental": _dedup_incremental_q,
    "dedup_ngram_jaccard": _dedup_ngram_jaccard_q,
    "dedup_embedding_cosine": _dedup_embedding_q,
    "substring_dup_winnow": _substring_dup_winnow_q,
    # -- ANN: two candidate schemes (sign-LSH, trained IVF)
    "ann_topk_lsh": _ann_topk_lsh_q,
    "ann_topk_ivf_kmeans": _ann_topk_ivf_kmeans_q,
    # -- multimodal binary columns
    "media_stats": _media_stats_q,
    # -- link graph / web authority / anchor alias mining
    "host_authority": _host_authority_q,
    "anchor_aliases": _anchor_aliases_q,
    # -- sources / ingestion roundtrips
    "hf_pretokenized_ingest": _hf_pretokenized_ingest_q,
    "hf_charspan_ingest": _hf_charspan_ingest_q,
    "warc_pages": _warc_pages_q,
    # -- crawl hygiene (urls + composed cleaner)
    "url_canonical_dedup": _url_canonical_dedup_q,
    "robots_filter": _robots_filter_q,
    "corpus_clean_accounting": _corpus_clean_accounting_q,
    # -- sampling / mixing / training export
    "sample_mixture": _sample_mixture_q,
    "pack_sequences": _pack_sequences_q,
    # -- scheme conversions
    "tags_bilou": _tags_bilou_q,
    "iob1_roundtrip": _iob1_roundtrip_q,
    # -- relational / streaming-twin baseline queries
    "user_sessions": _user_sessions_q,
    "events_asof": _events_asof_q,
    "q1_pricing_summary": _q1_q,
}
assert len(QUERIES) <= 50, f"driver checks 50 queries, registry has {len(QUERIES)}"
