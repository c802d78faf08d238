"""Deterministic WordPiece tokenizer (no network, no transformers dep).

Stands in for the HuggingFace fast tokenizer of the reference
(nerblackbox/modules/ner_training/data_preprocessing/tools/
input_examples_to_tensors.py:110-119): greedy longest-prefix WordPiece with
'##' continuations, [UNK] for unmatchable words, fixed-length slices with
[CLS]/[SEP]/[PAD] and overflow (stride 0).  The default vocabulary contains
all printable ASCII characters (plus their '##' continuations) and the
closed corpus vocabulary, so ASCII words always tokenize and any word with
a non-ASCII character maps to [UNK] — exercising the reference's
restore_unknown_tokens path (api/model.py:1261-1504).
"""

from __future__ import annotations

import string as _string
from typing import Dict, List, Optional, Sequence, Tuple

PAD, UNK, CLS, SEP = "[PAD]", "[UNK]", "[CLS]", "[SEP]"
SPECIAL_TOKENS = [CLS, SEP, PAD]

# SentencePiece-convention twin (RoBERTa/GPT2-style): word-INITIAL
# pieces carry the 'Ġ' marker, continuations are unmarked — the inverse
# of WordPiece's '##'; specials are <s>/</s>/<pad>
# (reference: api/model.py:1243-1254, token_tags.py:334-352)
SP_MARK = "Ġ"  # 'Ġ'
SP_BOS, SP_EOS, SP_PAD = "<s>", "</s>", "<pad>"
SP_SPECIAL_TOKENS = [SP_BOS, SP_EOS, SP_PAD]
_ALL_SPECIALS = frozenset(SPECIAL_TOKENS + SP_SPECIAL_TOKENS)


def group_subtokens(subtokens, tokenizer_type: str = "WordPiece"):
    """(words, word_of) for one slice under either piece convention —
    the ONE grouping shared by every slice tagger (gazetteer, numpy,
    trained), so word reconstruction cannot drift between models.
    word_of[i] == -1 marks special tokens."""
    words: List[str] = []
    word_of: List[int] = []
    if tokenizer_type == "WordPiece":
        for tok in subtokens:
            if tok in _ALL_SPECIALS:
                word_of.append(-1)
            elif tok.startswith("##") and words:
                words[-1] += tok[2:]
                word_of.append(len(words) - 1)
            else:
                words.append(UNK if tok == UNK else tok)
                word_of.append(len(words) - 1)
    elif tokenizer_type == "SentencePiece":
        for tok in subtokens:
            if tok in _ALL_SPECIALS:
                word_of.append(-1)
            elif tok.startswith(SP_MARK) or not words:
                w = tok[len(SP_MARK):] if tok.startswith(SP_MARK) else tok
                words.append(UNK if w == UNK else w)
                word_of.append(len(words) - 1)
            else:
                words[-1] += tok
                word_of.append(len(words) - 1)
    else:
        raise ValueError(f"unknown tokenizer_type {tokenizer_type!r}")
    return words, word_of

# closed vocabulary of the synthetic web-page corpus (TESTDATA.md documents
# tables) plus a few common english words; keeps most words whole-piece.
_CORPUS_WORDS = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "join", "batch", "window", "spark", "order", "data", "column",
    "small", "line", "customer", "query", "merge", "sort", "group", "big",
    "stream", "vector", "filter", "the", "a", "dup",
    "finns", "i", "stockholm", "center", "ai",
]


def _default_vocab() -> Dict[str, int]:
    vocab: Dict[str, int] = {}

    def add(tok: str) -> None:
        if tok not in vocab:
            vocab[tok] = len(vocab)

    for tok in SPECIAL_TOKENS + [UNK]:
        add(tok)
    for ch in _string.printable:
        if not ch.isspace():
            add(ch)
            add(f"##{ch}")
    for word in _CORPUS_WORDS:
        add(word)
        add(f"##{word}")
    return vocab


class WordPieceTokenizer:
    """Greedy longest-match WordPiece over a fixed vocabulary."""

    tokenizer_type = "WordPiece"
    do_lower_case = False

    def __init__(
        self,
        vocab: Optional[Dict[str, int]] = None,
        max_seq_length: int = 1024,
        max_pieces_per_word: int = 100,
    ):
        self.vocab = vocab if vocab is not None else _default_vocab()
        self.max_seq_length = max_seq_length
        self.max_pieces_per_word = max_pieces_per_word
        self.special_tokens = list(SPECIAL_TOKENS)
        # slice framing tokens; the SentencePiece subclass swaps these
        self._bos, self._eos, self._pad = CLS, SEP, PAD
        self._word_cache: Dict[str, List[str]] = {}

    # -- word -> pieces -----------------------------------------------------
    def tokenize_word(self, word: str) -> List[str]:
        """Greedy longest-prefix match; whole word -> [UNK] on any failure.

        Memoized per word: tokenization is pure, word frequency is
        Zipfian, and callers never mutate the returned list."""
        cached = self._word_cache.get(word)
        if cached is not None:
            return cached
        pieces = self._tokenize_word_uncached(word)
        if len(self._word_cache) < 262_144:
            self._word_cache[word] = pieces
        return pieces

    def _tokenize_word_uncached(self, word: str) -> List[str]:
        pieces: List[str] = []
        pos = 0
        while pos < len(word):
            if len(pieces) >= self.max_pieces_per_word:
                return [UNK]
            end = len(word)
            piece = None
            while end > pos:
                cand = word[pos:end]
                if pos > 0:
                    cand = f"##{cand}"
                if cand in self.vocab:
                    piece = cand
                    break
                end -= 1
            if piece is None:
                return [UNK]
            pieces.append(piece)
            pos = end
        return pieces if pieces else [UNK]

    # -- words -> fixed-length slices ----------------------------------------
    def encode_words(self, words: Sequence[str], pad: bool = True) -> List[List[str]]:
        """Tokenize pre-split words into >=1 fixed-length slices.

        Each slice is [CLS] + pieces + [SEP] (+ [PAD] to max_seq_length);
        overflow continues in the next slice with no stride, mirroring the
        reference's return_overflowing_tokens=True, stride=0 encoding.

        ``pad=False`` omits the [PAD] tail.  Downstream semantics are
        invariant (every special token is dropped by the subtoken merge;
        tag/proba entries at [PAD] positions pair with [PAD] tokens and
        vanish with them), but the padded tail DOMINATES the python hot
        path on realistic slice fills — the pipeline runs unpadded and
        padding stays the default for the reference-shaped contract
        (padding='max_length', input_examples_to_tensors.py:110-119)."""
        flat: List[str] = []
        for w in words:
            flat.extend(self.tokenize_word(w))
        body = self.max_seq_length - 2
        slices: List[List[str]] = []
        if not flat:
            flat = []  # empty text still produces one (empty) slice
        for off in range(0, max(len(flat), 1), body):
            chunk = flat[off: off + body]
            padded = [self._bos] + chunk + [self._eos]
            if pad:
                padded += [self._pad] * (self.max_seq_length - len(padded))
            slices.append(padded)
        return slices


def _default_sp_vocab() -> Dict[str, int]:
    """SentencePiece-convention twin of _default_vocab: every printable
    ASCII character and corpus word exists both word-initially (with
    the Ġ marker) and as an unmarked continuation, so the two
    tokenizers cover the SAME set of words — any word either tokenizer
    can spell, the other can too, and both send non-ASCII to [UNK]."""
    vocab: Dict[str, int] = {}

    def add(tok: str) -> None:
        if tok not in vocab:
            vocab[tok] = len(vocab)

    for tok in SP_SPECIAL_TOKENS + [UNK]:
        add(tok)
    for ch in _string.printable:
        if not ch.isspace():
            add(f"{SP_MARK}{ch}")
            add(ch)
    for word in _CORPUS_WORDS:
        add(f"{SP_MARK}{word}")
        add(word)
    return vocab


class SentencePieceTokenizer(WordPieceTokenizer):
    """Ġ-convention greedy tokenizer: word-initial pieces are
    'Ġ'-marked, continuations unmarked, slices framed <s>…</s> + <pad>.
    Inherits the per-word memo and the overflow slicing; only the piece
    convention and the framing differ.  An unmatchable word becomes
    'Ġ[UNK]' (the marker keeps the word boundary through
    merge_subtokens; the [UNK]-restore path then reconstructs the
    surface exactly as in the WordPiece pipeline)."""

    tokenizer_type = "SentencePiece"

    def __init__(
        self,
        vocab: Optional[Dict[str, int]] = None,
        max_seq_length: int = 1024,
        max_pieces_per_word: int = 100,
    ):
        super().__init__(
            vocab if vocab is not None else _default_sp_vocab(),
            max_seq_length, max_pieces_per_word,
        )
        self.special_tokens = list(SP_SPECIAL_TOKENS)
        self._bos, self._eos, self._pad = SP_BOS, SP_EOS, SP_PAD

    def _tokenize_word_uncached(self, word: str) -> List[str]:
        unk = [f"{SP_MARK}{UNK}"]
        pieces: List[str] = []
        pos = 0
        while pos < len(word):
            if len(pieces) >= self.max_pieces_per_word:
                return unk
            end = len(word)
            piece = None
            while end > pos:
                cand = word[pos:end]
                if pos == 0:
                    cand = f"{SP_MARK}{cand}"
                if cand in self.vocab:
                    piece = cand
                    break
                end -= 1
            if piece is None:
                return unk
            pieces.append(piece)
            pos = end
        return pieces if pieces else unk


_DEFAULT: Optional[WordPieceTokenizer] = None
_DEFAULT_SP: Optional[SentencePieceTokenizer] = None


def default_tokenizer() -> WordPieceTokenizer:
    """Process-wide singleton (executor-local cache, SURVEY §4.3.4)."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = WordPieceTokenizer()
    return _DEFAULT


def default_sp_tokenizer() -> SentencePieceTokenizer:
    """Process-wide singleton for the Ġ-convention twin."""
    global _DEFAULT_SP
    if _DEFAULT_SP is None:
        _DEFAULT_SP = SentencePieceTokenizer()
    return _DEFAULT_SP
