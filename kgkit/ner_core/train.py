"""Seeded numpy training for the TrainedTagger head (no torch; the only
randomness is a fixed-seed Mersenne corpus sampler).

Distant supervision: a synthetic word corpus drawn uniformly over the
web-page word pool (``train_pages`` — full bigram coverage, variable
lengths) is labeled by the gazetteer rule tagger, and a two-layer
(relu) softmax head is fit on the feature-hashed context embeddings
(kgkit.ner_core.trained) by full-batch gradient descent: md5-derived
init + fixed step count + float64 math = bit-reproducible on a given
BLAS.

The point is NOT to clone the gazetteer: EMB_DIM=32 with N_HASH=4
hashed dims per key cannot linearly separate every (prev, word, next)
pattern — hash collisions force a small, structural error rate, so the
fitted model genuinely DISAGREES with the rule system on some pages
(the reference lifecycle's reality: api/model.py predictions are not
rule-derived).  tools/train_tagger.py trains, quantizes to the 1/1024
grid (TrainedTagger's exact-float32 precondition), reports
accuracy/divergence, and writes the packaged checkpoint.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np

from kgkit.ner_core.tagger import DEFAULT_GAZETTEER, GazetteerTagger
from kgkit.ner_core.trained import (
    EMB_DIM,
    N_CH,
    N_HIDDEN,
    Q,
    TrainedTagger,
    attention_mix,
    embed_key,
)

# the pool of kgkit.sources.pages._WORDS — duplicated deliberately:
# this module must stay Spark-free (it runs in plain pytest / CLI), and
# a test pins the two lists equal.
SYNTH_WORDS = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "join", "batch", "window", "spark", "order", "data", "column",
    "small", "line", "customer", "query", "merge", "sort", "group", "big",
    "stream", "vector", "filter", "the", "a",
]


def synth_words(
    n_pages: int,
    seed: int = 42,
    words_per_page: int = 40,
    zipf_hub_every: int = 3,
    pct_empty: int = 5,
    n_filler: int = 20,
) -> List[List[str]]:
    """Word lists of the synthetic corpus — the exact arithmetic of
    kgkit.sources.pages.synth_pages, evaluated in python ints."""
    pool = SYNTH_WORDS + [f"w{i:03d}" for i in range(n_filler)]
    n_words = len(pool)
    pages = []
    for pid in range(n_pages):
        if pid % 100 < pct_empty:
            pages.append(["the", "big", "data", "value"])
            continue
        words = [
            pool[(pid * 2654435761 + pos * 40503 + seed) % n_words]
            for pos in range(1, words_per_page + 1)
        ]
        if pid % zipf_hub_every == 0:
            words += ["join", "join", "spark", "join"]
        pages.append(words)
    return pages


def train_pages(n_pages: int = 4000, seed: int = 20260817,
                n_filler: int = 6) -> List[List[str]]:
    """Training corpus with FULL bigram coverage: uniform seeded draws
    over the word pool (random.Random — CPython Mersenne twister, bit-
    deterministic), variable page lengths for boundary contexts.

    synth_words (the throughput fixture's twin) is the WRONG training
    distribution: its multiplicative mix steps through the pool with a
    fixed stride (40503 % |pool|), so consecutive-word patterns are
    nearly deterministic and a head fit on it memorizes the stride
    instead of the gazetteer rules — 99.9%% there, 87%% on the driver
    corpus.  Uniform sampling covers every (prev, word, next) pattern
    the driver corpus draws."""
    import random

    rng = random.Random(seed)
    pool = SYNTH_WORDS + [f"w{i:03d}" for i in range(n_filler)]
    return [
        [rng.choice(pool) for _ in range(rng.randint(3, 60))]
        for _ in range(n_pages)
    ]


def _ascii_printable(w: str) -> bool:
    return all(0x21 <= ord(c) <= 0x7E for c in w)


def normalize_words(words: Sequence[str]) -> List[str]:
    """The model-key view of a word list: lowercase; words outside the
    printable-ASCII WordPiece vocabulary become '[unk]' (the token the
    pipeline's _words_of_slice yields for them)."""
    return [w.lower() if _ascii_printable(w) else "[unk]" for w in words]


def featurize_page(words: Sequence[str],
                   cache: Dict[str, np.ndarray]) -> np.ndarray:
    """[len(words), N_CH*EMB_DIM] features, '' at boundaries — the same
    keys TrainedTagger.forward_scaled builds per subtoken (bigram
    channels, the unigram, the trigram conjunction, and the attention
    mix as its TRUE rational value num/den: training in floats, then
    quantized weights transfer to the multiplied-through int forward
    because the logits differ only by the positive per-position
    scale)."""
    lowered = normalize_words(words)
    n = len(lowered)
    X = np.zeros((n, N_CH * EMB_DIM), dtype=np.float64)
    anum, aden = attention_mix(lowered)
    for i, w in enumerate(lowered):
        nxt = lowered[i + 1] if i + 1 < n else ""
        prv = lowered[i - 1] if i > 0 else ""
        keys = (f"{w}|{nxt}", f"{prv}|{w}", w, f"{prv}|{w}|{nxt}")
        for ch, key in enumerate(keys):
            vec = cache.get(key)
            if vec is None:
                vec = cache[key] = embed_key(key).astype(np.float64)
            X[i, ch * EMB_DIM:(ch + 1) * EMB_DIM] = vec
        X[i, 4 * EMB_DIM:] = anum[i] / float(aden[i])
    return X


def training_set(
    n_pages: int = 3000, extra_pages: Sequence[Sequence[str]] = (),
) -> Tuple[np.ndarray, np.ndarray, List[str]]:
    """(X, y, classes): features + gazetteer labels over the synthetic
    corpus (plus any extra word-list pages, e.g. the planted OOV pages
    so '[unk]' contexts are seen in training)."""
    gaz = GazetteerTagger(DEFAULT_GAZETTEER)
    classes = gaz.annotation_classes
    cls_id = {c: i for i, c in enumerate(classes)}
    cache: Dict[str, np.ndarray] = {}
    xs, ys = [], []
    for words in list(train_pages(n_pages)) + [list(p) for p in extra_pages]:
        norm = normalize_words(words)
        tags = gaz._tag_words(list(norm))
        xs.append(featurize_page(words, cache))
        ys.append(np.array([cls_id[t] for t in tags], dtype=np.int64))
    return np.concatenate(xs), np.concatenate(ys), classes


def quantize_head(W: np.ndarray, b: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Snap to the 1/Q grid (exact-arithmetic precondition)."""
    Wq = np.rint(W * Q)
    bq = np.rint(b * Q)
    assert np.abs(Wq).max() < 2 ** 15 and np.abs(bq).max() < 2 ** 15
    return Wq / Q, bq / Q


def _det_init(rows: int, cols: int, scale: float = 0.25) -> np.ndarray:
    """Deterministic dense init on the 1/Q grid from md5 bytes — no RNG
    object, so the recipe is bit-reproducible on any machine (and the
    hidden layer's symmetry is broken without a seed file).  Values are
    uniform-ish in [-scale, scale]."""
    import hashlib

    out = np.empty((rows, cols), dtype=np.float64)
    for i in range(rows):
        h = hashlib.md5(f"mlp-init:{i}".encode()).digest()
        # stretch one digest into cols values via int chunks
        acc = int.from_bytes(h, "big")
        for j in range(cols):
            acc = (acc * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            out[i, j] = ((acc >> 16) % (2 * Q + 1)) - Q  # [-Q, Q]
    return np.rint(out * scale) / Q  # on-grid, in [-scale, scale]


def fit_mlp_head(
    X: np.ndarray,
    y: np.ndarray,
    n_classes: int,
    hidden: int = N_HIDDEN,
    iters: int = 800,
    lr: float = 0.7,
    l2: float = 1e-4,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Full-batch two-layer (relu) softmax classifier, deterministic:
    md5-derived W1 init (symmetry breaking without RNG state), zero
    init elsewhere, fixed step count, float64 math."""
    n, d = X.shape
    W1 = _det_init(d, hidden)
    b1 = np.zeros(hidden, dtype=np.float64)
    W2 = np.zeros((hidden, n_classes), dtype=np.float64)
    b2 = np.zeros(n_classes, dtype=np.float64)
    Y = np.zeros((n, n_classes), dtype=np.float64)
    Y[np.arange(n), y] = 1.0
    for _ in range(iters):
        Z1 = X @ W1 + b1
        H = np.maximum(Z1, 0.0)
        z = H @ W2 + b2
        z -= z.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        g = (p - Y) / n                      # [n, L]
        gH = g @ W2.T                        # [n, hidden]
        gZ1 = gH * (Z1 > 0)                  # relu mask
        W2 -= lr * (H.T @ g + l2 * W2)
        b2 -= lr * g.sum(axis=0)
        W1 -= lr * (X.T @ gZ1 + l2 * W1)
        b1 -= lr * gZ1.sum(axis=0)
    return W1, b1, W2, b2


def train_default_head(n_pages: int = 4000) -> TrainedTagger:
    """The packaged-checkpoint recipe: synthetic corpus + 30 copies of
    the planted OOV pages, 800 full-batch GD steps (lr 0.7) on the
    attention-channel two-layer head, all four weight arrays quantized
    to the 1/Q grid."""
    from kgkit.sources.planted import PLANTED_NER_TEXTS

    extra = [t.split(" ") for t in PLANTED_NER_TEXTS] * 30
    X, y, classes = training_set(n_pages, extra_pages=extra)
    W1, b1, W2, b2 = fit_mlp_head(X, y, len(classes))
    W1q, b1q = quantize_head(W1, b1)
    W2q, b2q = quantize_head(W2, b2)
    return TrainedTagger(W1q, b1q, W2q, b2q, classes)


def page_accuracy_and_divergence(
    model: TrainedTagger, pages: Sequence[Sequence[str]]
) -> Tuple[float, int, int]:
    """(token accuracy vs gazetteer, n divergent tokens, n divergent
    pages) of the model's word-level argmax over ``pages``."""
    gaz = GazetteerTagger(DEFAULT_GAZETTEER)
    cls_id = {c: i for i, c in enumerate(model.annotation_classes)}
    cache: Dict[str, np.ndarray] = {}
    n_tok = n_bad = n_pages_bad = 0
    for words in pages:
        norm = normalize_words(words)
        want = np.array([cls_id[t] for t in gaz._tag_words(list(norm))])
        h = np.maximum(featurize_page(words, cache) @ model.W1 + model.b1, 0.0)
        z = h @ model.W2 + model.b2
        got = z.argmax(axis=1)
        bad = int((got != want).sum())
        n_tok += len(words)
        n_bad += bad
        n_pages_bad += bad > 0
    return 1.0 - n_bad / max(n_tok, 1), n_bad, n_pages_bad
