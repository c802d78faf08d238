"""Whitespace+punctuation pre-tokenization with char offsets.

Equivalent of the HuggingFace ``BertPreTokenizer`` the reference calls via
``tokenizer.backend_tokenizer.pre_tokenizer.pre_tokenize_str`` in
nerblackbox/modules/ner_training/data_preprocessing/data_preprocessor.py:350-355:
split on whitespace, isolate each punctuation character as its own word,
return ``[(word, (char_start, char_end)), ...]`` offsets into the original
text.  Punctuation/whitespace predicates follow the public BERT tokenizer
definition (ASCII punct blocks + Unicode category P*, whitespace + Zs).
"""

from __future__ import annotations

import unicodedata
from typing import List, Tuple

WordTuple = Tuple[str, Tuple[int, int]]


def is_punctuation(ch: str) -> bool:
    cp = ord(ch)
    if (
        33 <= cp <= 47
        or 58 <= cp <= 64
        or 91 <= cp <= 96
        or 123 <= cp <= 126
    ):
        return True
    return unicodedata.category(ch).startswith("P")


def is_whitespace(ch: str) -> bool:
    if ch in (" ", "\t", "\n", "\r"):
        return True
    return unicodedata.category(ch) == "Zs"


# per-char class cache: 0 = word char, 1 = whitespace, 2 = punctuation.
# The predicates above are pure, so memoizing them is behavior-neutral;
# real text draws from a small alphabet, making this the hot-loop win.
_CHAR_CLASS: dict = {}


def _char_class(ch: str) -> int:
    cls = _CHAR_CLASS.get(ch)
    if cls is None:
        cls = 1 if is_whitespace(ch) else 2 if is_punctuation(ch) else 0
        if len(_CHAR_CLASS) < 65536:
            _CHAR_CLASS[ch] = cls
    return cls


def pretokenize(text: str) -> List[WordTuple]:
    """Split ``text`` into words with char offsets.

    >>> pretokenize("ai-center finns")
    [('ai', (0, 2)), ('-', (2, 3)), ('center', (3, 9)), ('finns', (10, 15))]
    """
    words: List[WordTuple] = []
    start = None
    for i, ch in enumerate(text):
        cls = _char_class(ch)
        if cls == 1:  # whitespace
            if start is not None:
                words.append((text[start:i], (start, i)))
                start = None
        elif cls == 2:  # punctuation
            if start is not None:
                words.append((text[start:i], (start, i)))
                start = None
            words.append((ch, (i, i + 1)))
        else:
            if start is None:
                start = i
    if start is not None:
        words.append((text[start:], (start, len(text))))
    return words
