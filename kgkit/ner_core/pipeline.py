"""Single-process prediction pipeline — the reference lifecycle, step for step.

Replicates ``Model.predict`` / ``Model._predict``
(nerblackbox/api/model.py:309-544) with the deterministic tokenizer+tagger
standing in for the transformer:

  1. normalize input to a list of texts               (api/model.py:436-438)
  2. lower-case if uncased; pretokenize raw text      (data_preprocessor.py:132-154)
  3. encode pre-split words into fixed-length slices  (input_examples_to_tensors.py:110-119)
  4. "inference" per slice                            (api/model.py:464-505)
  5. merge slices per document                        (api/model.py:506-515)
  6. post-processing per document                     (api/model.py:527-544, 546-615)

The same function is called inside the Spark ``mapInArrow`` mention
detector (kgkit/operators/mentions.py) and directly in pytest, so the
distributed path and the reference-path oracle share one implementation.
Output records carry STRING char offsets, matching api/model.py:1507-1528.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple, Union

from kgkit.ner_core import spans
from kgkit.ner_core.pretokenize import pretokenize
from kgkit.ner_core.tagger import GazetteerTagger, default_gazetteer
from kgkit.ner_core.wordpiece import WordPieceTokenizer, default_tokenizer


def predict(
    input_texts: Union[str, Sequence[str]],
    level: str = "entity",
    autocorrect: bool = False,
    is_pretokenized: bool = False,
    tokenizer: Optional[WordPieceTokenizer] = None,
    tagger: Optional[GazetteerTagger] = None,
    scheme: str = "bio",
) -> List[List[Dict[str, str]]]:
    """Predict entity/word-level tag records for each input text.

    Mirrors Model.predict's public contract (api/model.py:309-367): one
    list of {"char_start","char_end","token","tag"} records (all string
    values) per input text.
    """
    if level not in ("entity", "word"):
        raise ValueError(f"level must be entity|word, got {level!r}")
    if isinstance(input_texts, str):
        input_texts = [input_texts]
    tokenizer = tokenizer or default_tokenizer()
    tagger = tagger or default_gazetteer()

    texts = list(input_texts)
    if tokenizer.do_lower_case:
        texts = [t.lower() for t in texts]

    # -- step 2: pretokenize (or accept pre-split input) --------------------
    words_per_doc: List[List[str]] = []
    pretok_offsets: Optional[List[List[Tuple[int, int]]]] = None if is_pretokenized else []
    for text in texts:
        if is_pretokenized:
            words_per_doc.append(text.split())
        else:
            tuples = pretokenize(text)
            words_per_doc.append([w for w, _ in tuples])
            pretok_offsets.append([off for _, off in tuples])
    texts_pretokenized = [" ".join(ws) for ws in words_per_doc]

    # -- steps 3-5: encode -> tag -> merge slices ---------------------------
    results: List[List[Dict[str, str]]] = []
    for i, words in enumerate(words_per_doc):
        slices = tokenizer.encode_words(words, pad=False)
        slice_tags = [
            tagger.tag_slice(s, tokenizer.tokenizer_type) for s in slices
        ]
        tokens = spans.merge_slices(slices)
        preds = spans.merge_slices(slice_tags)

        # -- step 6: post-processing (api/model.py:546-615) -----------------
        word_preds = spans.merge_subtokens(
            tokens, preds, tokenizer.special_tokens, tokenizer.tokenizer_type
        )
        records = spans.restore_unknown_tokens(word_preds, texts_pretokenized[i])
        records = [{k: str(v) for k, v in r.items()} for r in records]
        records = spans.merge_tokens_to_words(records)
        if pretok_offsets is not None:
            records = spans.unpretokenize(records, pretok_offsets[i])
        if autocorrect:
            records = spans.autocorrect_scheme(records, scheme)
        if level == "entity":
            records = spans.merge_tokens_to_entities(records, scheme, texts[i])
        records = spans.strip_sentencepiece_marker(records)
        results.append(records)

    return results


def predict_proba(
    input_texts: Union[str, Sequence[str]],
    is_pretokenized: bool = False,
    tokenizer: Optional[WordPieceTokenizer] = None,
    tagger: Optional[GazetteerTagger] = None,
    stringify_tags: bool = True,
) -> List[List[Dict[str, str]]]:
    """Word-level probability predictions (Model.predict_proba,
    api/model.py:369-400).

    Follows the reference's observable contract exactly, including its
    quirk: proba distributions ride in the 'tag' field and assert_typing
    (api/model.py:1507-1528) stringifies them, so the output records are
    {"char_start","char_end","token","tag": "<str(dict)>"}; tokens the
    restoration step re-anchors (e.g. [UNK] spans) carry the plain 'O'
    string.  No autocorrect / entity level (asserted away by the
    reference, api/model.py:591-594).

    ``stringify_tags=False`` keeps the proba dicts as DICTS (offsets are
    still stringified): the Spark operator (kgkit/operators/mentions.py
    word_probas) consumes them directly instead of re-parsing millions
    of str(dict) payloads — the str() round-trip is a reference-surface
    quirk, not information."""
    if isinstance(input_texts, str):
        input_texts = [input_texts]
    tokenizer = tokenizer or default_tokenizer()
    tagger = tagger or default_gazetteer()

    texts = list(input_texts)
    if tokenizer.do_lower_case:
        texts = [t.lower() for t in texts]

    words_per_doc: List[List[str]] = []
    pretok_offsets: Optional[List[List[Tuple[int, int]]]] = None if is_pretokenized else []
    for text in texts:
        if is_pretokenized:
            words_per_doc.append(text.split())
        else:
            tuples = pretokenize(text)
            words_per_doc.append([w for w, _ in tuples])
            pretok_offsets.append([off for _, off in tuples])
    texts_pretokenized = [" ".join(ws) for ws in words_per_doc]

    results: List[List[Dict[str, str]]] = []
    for i, words in enumerate(words_per_doc):
        slices = tokenizer.encode_words(words, pad=False)
        slice_probas = [
            tagger.tag_slice_proba(s, tokenizer.tokenizer_type) for s in slices
        ]
        tokens = spans.merge_slices(slices)
        probas = spans.merge_slices(slice_probas)

        word_preds = spans.merge_subtokens(
            tokens, probas, tokenizer.special_tokens, tokenizer.tokenizer_type
        )
        records = spans.restore_unknown_tokens(word_preds, texts_pretokenized[i])
        records = [  # assert_typing (api/model.py:1507-1528)
            {k: (v if k == "tag" and not stringify_tags else str(v))
             for k, v in r.items()}
            for r in records
        ]
        records = spans.merge_tokens_to_words(records)
        if pretok_offsets is not None:
            records = spans.unpretokenize(records, pretok_offsets[i])
        records = spans.strip_sentencepiece_marker(records)
        results.append(records)

    return results
