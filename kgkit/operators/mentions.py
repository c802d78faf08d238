"""Stage 1 — mention detection: pages -> mentions via Arrow-vectorized UDF.

Distributed form of the reference's Model.predict span pipeline
(nerblackbox/api/model.py:309-544, SURVEY §3.1): one ``mapInArrow``
over the narrow (url, text) projection, through the shared
row-to-records loop (kgkit.functions.records.explode_records); each
Arrow batch runs the full tokenize -> tag -> merge -> restore ->
entity-merge lifecycle from kgkit.ner_core and explodes to one output
row per mention.  The word-level UDFs below share the same loop.

Scale properties:
  * embarrassingly parallel — NO shuffle: the plan is scan -> project ->
    filter -> MapInArrow -> (sink).  A document never spans rows, so all
    sequence logic stays inside the batch.
  * tokenizer/tagger are process-wide singletons (executor-local model
    cache, SURVEY §4.3.4) — loaded once per python worker, not per batch.
  * char offsets are INTEGER columns here; the string-typed form only
    exists at the reference-parity boundary (api/model.py:1507-1528).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgkit.functions.records import explode_records

MENTIONS_SCHEMA = (
    "url string, mention_id int, char_start int, char_end int, "
    "surface string, tag string"
)


def _resolve_tagger(model: str):
    """Executor-local model resolution by NAME (the string pickles;
    the model object is built once per python worker): 'gazetteer' =
    the rule stand-in; 'numpy' = the tensor-math distilled NumpyTagger
    (argmax provably equals the gazetteer — the parity twin);
    'trained' = the packaged TRAINED head (kgkit/ner_core/trained.py)
    whose predictions genuinely diverge from the rules and whose
    forward pass has its own DuckDB oracle; 'ckpt:<path>' = either
    format loaded from an .npz (kind-dispatched)."""
    if model == "numpy":
        from kgkit.ner_core.nn_tagger import default_numpy_tagger

        return default_numpy_tagger()
    if model == "trained":
        from kgkit.ner_core.trained import default_trained_tagger

        return default_trained_tagger()
    if model.startswith("ckpt:"):
        # S7 checkpoint source: 'ckpt:/path/model.npz' loads the numpy
        # model's weights from disk, once per python worker (the file is
        # shipped to executors via spark-submit --files)
        from kgkit.ner_core.nn_tagger import checkpoint_tagger

        return checkpoint_tagger(model[len("ckpt:"):])
    from kgkit.ner_core.tagger import default_gazetteer

    return default_gazetteer()


def _resolve_tokenizer(name: str):
    """Executor-local tokenizer resolution by NAME: 'wordpiece' (##
    continuations, [CLS]/[SEP]/[PAD]) or 'sentencepiece' (Ġ word
    starts, <s>/</s>/<pad> — api/model.py:1243-1254)."""
    if name == "sentencepiece":
        from kgkit.ner_core.wordpiece import default_sp_tokenizer

        return default_sp_tokenizer()
    if name == "wordpiece":
        from kgkit.ner_core.wordpiece import default_tokenizer

        return default_tokenizer()
    raise ValueError(f"unknown tokenizer {name!r}")


def _span_tuples(results):
    """``predict`` output -> one (char_start, char_end, token, tag) tuple
    per record, offsets as ints (the string form is the reference-parity
    boundary's, not the table's)."""
    return [
        [(int(r["char_start"]), int(r["char_end"]), r["token"], r["tag"])
         for r in records]
        for records in results
    ]


def mention_records(model: str = "gazetteer", tokenizer: str = "wordpiece"):
    """Worker-side factory for ``explode_records``: builds the tokenizer
    and tagger singletons, and returns the per-batch compute — the full
    entity-level ``predict`` lifecycle, one (char_start, char_end,
    surface, tag) tuple per mention.  Shared by the batch and streaming
    detectors."""

    def make():
        # import inside the worker so the UDF pickles by reference only
        from kgkit.ner_core import predict

        tok = _resolve_tokenizer(tokenizer)
        tagger = _resolve_tagger(model)

        def compute(texts):
            return _span_tuples(predict(
                texts, level="entity", autocorrect=True,
                tokenizer=tok, tagger=tagger,
            ))

        return compute

    return make


def detect_mentions(
    pages: DataFrame,
    model: str = "gazetteer",
    tokenizer: str = "wordpiece",
) -> DataFrame:
    """pages(url, text, ...) -> mentions(url, mention_id, char_start,
    char_end, surface, tag), one row per extracted entity.

    ``tokenizer='sentencepiece'`` runs the whole T1-W8 lifecycle over
    the Ġ-convention twin; the extracted mentions are byte-identical to
    the WordPiece run for any text BOTH tokenizers can spell to the
    same [UNK] boundaries (true by construction for the default vocab
    pair), which is what the kg_mentions_sp oracle checks."""
    return explode_records(
        pages, ["url"], "text", MENTIONS_SCHEMA,
        mention_records(model, tokenizer),
    )


def _word_proba_rows(pages: DataFrame, model: str, classes) -> DataFrame:
    """Shared M3 core: one python row per WORD with the distribution as
    array<double> in ``classes`` order (the class fan-out/packing is
    JVM-side in the public shapes below)."""

    def make():
        from kgkit.ner_core.pipeline import predict_proba
        from kgkit.ner_core.wordpiece import default_tokenizer

        tokenizer = default_tokenizer()
        tagger = _resolve_tagger(model)
        if tagger.annotation_classes != classes:
            raise ValueError(
                f"worker model classes {tagger.annotation_classes} != "
                f"driver-resolved classes {classes} for model={model!r}"
            )

        def dist(tag):
            # re-anchored [UNK] spans carry a plain tag string
            d = tag if isinstance(tag, dict) else {tag: 1.0}
            return ([d.get(c, 0.0) for c in classes],)

        def compute(texts):
            results = predict_proba(
                texts, tokenizer=tokenizer, tagger=tagger,
                stringify_tags=False,
            )
            return [[dist(r["tag"]) for r in records] for records in results]

        return compute

    return explode_records(
        pages, ["url"], "text", "url string, pos int, probas array<double>",
        make,
    )


def word_probas_map(pages: DataFrame, model: str = "trained") -> DataFrame:
    """M3 in the PRODUCTION shape: (url, pos, probas MAP<string,double>)
    — one row per word carrying the whole distribution.  The exploded
    (url, pos, cls, proba) form (``word_probas``) multiplies the row
    count by |classes| and exists for the DuckDB oracle's value-hash
    comparison; a 100-TB pipeline ships the map column instead (same
    python work, |classes|× fewer JVM rows; map packing is one
    JVM-side map_from_arrays over literals)."""
    classes = _resolve_tagger(model).annotation_classes
    cls_names = F.array(*[F.lit(c) for c in classes])
    return _word_proba_rows(pages, model, classes).select(
        "url", "pos",
        F.map_from_arrays(
            cls_names, F.transform("probas", lambda p: F.round(p, 6))
        ).alias("probas"),
    )


def word_probas(pages: DataFrame, model: str = "numpy") -> DataFrame:
    """Word-level probability distributions (M3, Model.predict_proba,
    api/model.py:369-400) exploded to (url, pos, cls, proba) rows — one
    row per word and annotation class.  With model='numpy' the
    probabilities are a REAL softmax over the NumpyTagger's logits
    tensor; the raw doubles are emitted and rounding happens natively
    so Spark and the DuckDB oracle share one rounding rule.

    The class order comes from the SAME model spec the workers resolve
    (a 'ckpt:<path>' model therefore needs its checkpoint readable on
    the driver too — true for local mode and for --files shipping,
    which also places the file in the driver's working dir), and the
    UDF re-validates it: a worker whose resolved model disagrees on
    the label universe raises instead of silently zeroing classes."""
    classes = _resolve_tagger(model).annotation_classes  # fixed order, O first
    # one python row per WORD; the 1:len(classes) fan-out to class rows
    # happens JVM-side (posexplode + literal name array), not in python
    cls_names = F.array(*[F.lit(c) for c in classes])
    raw = _word_proba_rows(pages, model, classes)
    return raw.select(
        "url", "pos", F.posexplode("probas").alias("cls_idx", "proba")
    ).select(
        "url", "pos",
        F.element_at(cls_names, F.col("cls_idx") + 1).alias("cls"),
        "proba",
    )


def word_tags(pages: DataFrame) -> DataFrame:
    """Word-level variant (level='word', Model.predict level parity):
    one row per word with its BIO tag — feeds the metrics engine."""

    def make():
        from kgkit.ner_core import predict
        from kgkit.ner_core.tagger import default_gazetteer
        from kgkit.ner_core.wordpiece import default_tokenizer

        tokenizer = default_tokenizer()
        tagger = default_gazetteer()

        def compute(texts):
            return _span_tuples(predict(
                texts, level="word", tokenizer=tokenizer, tagger=tagger,
            ))

        return compute

    schema = ("url string, pos int, char_start int, char_end int, "
              "word string, tag string")
    return explode_records(pages, ["url"], "text", schema, make)
