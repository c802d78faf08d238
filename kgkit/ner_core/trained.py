"""TRAINED numpy token-classification head — the non-distilled M1/M2/M3 path.

Where kgkit.ner_core.nn_tagger.NumpyTagger is a provably-lossless
distillation of the gazetteer (its argmax can never disagree with the
rule tagger), this model is the real thing the reference lifecycle
implies (nerblackbox/api/model.py:464-505): a checkpoint of weights fit
by seeded gradient descent on a synthetic distantly-supervised corpus
(tools/train_tagger.py), whose predictions CAN and DO disagree with the
gazetteer — the whole W1-W8 post-processing lifecycle downstream of it
therefore runs on genuinely model-derived tags, and the DuckDB oracle
checks the forward pass itself (embedding lookup -> matmul -> argmax /
softmax re-computed relationally, kgkit/oracles.py trained CTEs).

Architecture (identical feature definition in numpy and SQL):
  * four context channels per word position — (word|next), (prev|word),
    (word), and the trigram CONJUNCTION (prev|word|next) — with '' at
    slice boundaries and '[unk]' for words the WordPiece vocabulary
    cannot tokenize, exactly the view ``_words_of_slice`` gives the
    distilled model.  The trigram channel is what makes the head more
    than a sum of pairwise cues: a pattern that only holds when BOTH
    neighbours match (e.g. X between two specific words) is linearly
    representable through its hashed key, so the error profile is no
    longer token-local;
  * FEATURE-HASHED sparse sign embeddings: key k activates N_HASH=4
    dims of an EMB_DIM=32-wide channel with ±1 signs, both derived from
    md5(k) hex bytes — md5 is the one hash Spark-side python and DuckDB
    evaluate identically, which is what makes the forward pass itself
    oracle-checkable (the distilled model's gaussian-noise embeddings
    were not);
  * an ATTENTION channel (r5): one self-attention-style mixing layer
    over ALL words of the slice (api/model.py:464-505's contextual
    mixing is attention over the sequence, not a fixed window).  Query
    / key / value vectors are salt-hashed embeddings (``q|w``, ``k|w``,
    ``v|w``); the attention weight of position j at position i is
    2^clip(q_i·k_j, 0, SMAX), normalized by the per-position sum D_i.
    Base-2 exponential normalization IS a temperature-scaled softmax
    (2^s = e^{s·ln2}) — chosen because it keeps every attention weight
    a power-of-two INTEGER, so the mixed channel is a rational with a
    shared positive denominator D_i and exactness survives (below).
    The receptive field is therefore the whole slice: every word
    attends at least uniformly to the document (all weights >= 2^0),
    and harder wherever the hashed query/key dot fires;
  * a TWO-LAYER head (r4): z1 = X @ W1 + b1 -> h = relu(z1) ->
    logits = h @ W2 + b2 over H=32 hidden units.  The nonlinearity is
    what a linear head structurally lacks: hidden units fire on
    CONJUNCTIONS of hashed context features and the second layer reads
    them out, so the model is no longer a sum of per-feature votes.

Exact cross-engine arithmetic: all weights are QUANTIZED to 1/Q grids
(Wq integer, |Wq| < 2^15).  The attention-mixed channel makes the true
logits rationals with per-position denominator D_i, so the forward
pass computes in the MULTIPLIED-THROUGH space: every feature of
position i is scaled by D_i (context channels become D_i·x, the
attention channel is the integer numerator), biases become b·D_i, and
because relu commutes with a positive scale and argmax is invariant to
it, the scaled logits decide tags exactly.  All scaled quantities are
int64 INTEGERS (in units of 1/Q after layer 1, 1/Q^2 after layer 2)
and numpy computes them in int64 — bit-equal to the BIGINT arithmetic
of the SQL oracle by construction, independent of summation order.
Magnitude bound: |x| <= N_HASH·D_i with D_i <= seq·2^SMAX < 2^16, so
|z1_s| < 160·2^18·2^15 + 2^31 < 2^41 and |z2_s| < 32·2^41·2^15 + 2^41
< 2^62 — inside int64 and DuckDB BIGINT.  True logits (for softmax
probas) are z2_s / (D_i·Q^2): one IEEE double division of exactly-
representable integers, correctly rounded identically in numpy and
DuckDB.  Argmax (numpy takes the FIRST maximal index == ORDER BY z
DESC, cls_id ASC) matches tie-for-tie.
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict, List, Optional, Sequence

import numpy as np

from kgkit.ner_core.nn_tagger import NumpyTagger

EMB_DIM = 32       # dims per channel
N_CTX = 4          # context channels: (w|n), (p|w), (w), (p|w|n)
N_CH = 5           # + the attention-mixed channel -> 160 features
N_HASH = 4         # active dims per feature key
N_HIDDEN = 32      # relu units of the two-layer head
Q = 1024           # weight quantization grid (power of two: /Q is exact)
Z_GRID = Q * Q     # scaled logits: integers in units of 1/Q^2
SMAX = 6           # attention score clip -> weights in {2^0 .. 2^6}

_ODD_HEX = set("13579bdf")

DEFAULT_CKPT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "checkpoints", "trained_v4.npz"
)


def feature_dims(key: str) -> List[tuple]:
    """The N_HASH (dim, sign) activations of a feature key.

    dim_i = int(md5hex[2i:2i+2], 16) % EMB_DIM   for i in 0..N_HASH-1
    sign_i = +1 iff md5hex[8+i] is an odd hex digit else -1

    The same bytes are read by the oracle SQL
    (kgkit/oracles.py trained_contrib fragment) — change BOTH or neither.
    """
    h = hashlib.md5(key.encode("utf-8")).hexdigest()
    return [
        (int(h[2 * i: 2 * i + 2], 16) % EMB_DIM,
         1 if h[8 + i] in _ODD_HEX else -1)
        for i in range(N_HASH)
    ]


def embed_key(key: str) -> np.ndarray:
    """Dense EMB_DIM vector of one key (duplicate dims accumulate)."""
    v = np.zeros(EMB_DIM, dtype=np.float32)
    for dim, sign in feature_dims(key):
        v[dim] += sign
    return v


_QKV_CACHE: Dict[str, np.ndarray] = {}


def _qkv(role: str, word: str) -> np.ndarray:
    """Salt-hashed int64 query/key/value embedding of a word
    (``md5('q|'+w)`` etc — the same byte-slicing as feature_dims, so the
    SQL twin reuses the tcontrib fragment with a salted key)."""
    k = f"{role}|{word}"
    v = _QKV_CACHE.get(k)
    if v is None:
        v = embed_key(k).astype(np.int64)
        if len(_QKV_CACHE) < 262_144:
            _QKV_CACHE[k] = v
    return v


def attention_mix(lowered_words: Sequence[str]):
    """(num int64 [n, EMB_DIM], den int64 [n]) of the base-2-softmax
    attention mix over a word sequence: weight(i, j) =
    2^clip(q_i·k_j, 0, SMAX), num_i = sum_j weight·v_j, den_i =
    sum_j weight.  The true mixed channel is num/den; callers keep the
    pair so the forward pass can multiply through by den (module
    docstring)."""
    n = len(lowered_words)
    if n == 0:
        return (np.zeros((0, EMB_DIM), dtype=np.int64),
                np.zeros(0, dtype=np.int64))
    Qm = np.stack([_qkv("q", w) for w in lowered_words])
    Km = np.stack([_qkv("k", w) for w in lowered_words])
    Vm = np.stack([_qkv("v", w) for w in lowered_words])
    scores = np.clip(Qm @ Km.T, 0, SMAX)          # [n, n] ints in 0..SMAX
    weights = np.int64(1) << scores.astype(np.int64)
    return weights @ Vm, weights.sum(axis=1)


class TrainedTagger:
    """Checkpoint-loaded trained head with the NumpyTagger surface
    (tag_slice / tag_slice_proba / annotation_classes / forward /
    decode_argmax / decode_proba / id2label)."""

    def __init__(self, W1: np.ndarray, b1: np.ndarray, W2: np.ndarray,
                 b2: np.ndarray, classes: Sequence[str]):
        W1 = np.asarray(W1, dtype=np.float64)
        b1 = np.asarray(b1, dtype=np.float64)
        W2 = np.asarray(W2, dtype=np.float64)
        b2 = np.asarray(b2, dtype=np.float64)
        L = len(classes)
        if (W1.shape != (N_CH * EMB_DIM, N_HIDDEN) or b1.shape != (N_HIDDEN,)
                or W2.shape != (N_HIDDEN, L) or b2.shape != (L,)):
            raise ValueError(
                f"bad trained head shapes {W1.shape}/{b1.shape}/"
                f"{W2.shape}/{b2.shape}"
            )
        for arr in (W1 * Q, b1 * Q, W2 * Q, b2 * Q):
            if not (np.array_equal(arr, np.rint(arr))
                    and np.abs(arr).max() < 2 ** 15):
                raise ValueError(
                    "trained weights must lie on the 1/%d grid with "
                    "|Wq| < 2^15 (the exact-arithmetic precondition of "
                    "the oracle twin)" % Q
                )
        self.W1, self.b1, self.W2, self.b2 = W1, b1, W2, b2
        self.annotation_classes: List[str] = list(classes)
        self.id2label: Dict[int, str] = dict(enumerate(self.annotation_classes))
        self.label2id = {v: k for k, v in self.id2label.items()}
        self._emb_cache: Dict[str, np.ndarray] = {}

    # -- embedding ---------------------------------------------------------
    def _embed(self, key: str) -> np.ndarray:
        vec = self._emb_cache.get(key)
        if vec is None:
            vec = embed_key(key)
            if len(self._emb_cache) < 262_144:
                self._emb_cache[key] = vec
        return vec

    # -- M1: forward pass --------------------------------------------------
    def forward_scaled(
        self,
        slices: Sequence[Sequence[str]],
        tokenizer_type: str = "WordPiece",
    ):
        """subtoken slices -> (z_scaled int64 [n, seq, L], den int64
        [n, seq]): logits·den·Q^2 in pure int64 arithmetic — the exact
        integers the SQL oracle computes in BIGINT (module docstring).
        Features are word-keyed (the shared grouping handles either
        piece convention); attention runs over the slice's WORDS, so the
        oracle's document-level pair grid matches (single-slice docs,
        assert_oracle_bounds).  Special-token positions carry zero
        features and den=1 (bias decides, unscaled)."""
        n = len(slices)
        seq = max((len(s) for s in slices), default=0)
        W1q = np.rint(self.W1 * Q).astype(np.int64)
        b1q = np.rint(self.b1 * Q).astype(np.int64)
        W2q = np.rint(self.W2 * Q).astype(np.int64)
        b2q = np.rint(self.b2 * Q).astype(np.int64)
        X = np.zeros((n, seq, N_CH * EMB_DIM), dtype=np.int64)
        den = np.ones((n, seq), dtype=np.int64)
        for si, subtokens in enumerate(slices):
            words, word_of = NumpyTagger._words_of_slice(subtokens, tokenizer_type)
            lowered = [w.lower() for w in words]
            anum, aden = attention_mix(lowered)
            for pos, wi in enumerate(word_of):
                if wi < 0:
                    continue  # special token: zero features -> bias decides
                w = lowered[wi]
                nxt = lowered[wi + 1] if wi + 1 < len(lowered) else ""
                prv = lowered[wi - 1] if wi > 0 else ""
                d = int(aden[wi])
                den[si, pos] = d
                X[si, pos, 0:EMB_DIM] = d * self._embed(f"{w}|{nxt}")
                X[si, pos, EMB_DIM:2 * EMB_DIM] = d * self._embed(f"{prv}|{w}")
                X[si, pos, 2 * EMB_DIM:3 * EMB_DIM] = d * self._embed(w)
                X[si, pos, 3 * EMB_DIM:4 * EMB_DIM] = (
                    d * self._embed(f"{prv}|{w}|{nxt}")
                )
                X[si, pos, 4 * EMB_DIM:] = anum[wi]
        flat_den = den.reshape(n * seq, 1)
        z1 = (X.reshape(n * seq, N_CH * EMB_DIM) @ W1q
              + b1q[None, :] * flat_den)                  # units 1/Q
        h = np.maximum(z1, 0)
        z2 = h @ W2q + (b2q[None, :] * Q) * flat_den      # units 1/Q^2
        return (z2.reshape(n, seq, len(self.annotation_classes)), den)

    def forward(
        self,
        slices: Sequence[Sequence[str]],
        tokenizer_type: str = "WordPiece",
    ) -> np.ndarray:
        """True logits [n_slices, seq, num_labels] as float64:
        z_scaled / (den·Q^2) — one correctly-rounded IEEE division of
        exact integers, matching the oracle's division bit-for-bit.
        Use forward_scaled for tagging (argmax on the ints)."""
        z_scaled, den = self.forward_scaled(slices, tokenizer_type)
        return z_scaled / (den[:, :, None].astype(np.float64) * Z_GRID)

    # -- M2/M3 decode: identical semantics to the distilled model ----------
    decode_argmax = NumpyTagger.decode_argmax
    decode_proba = NumpyTagger.decode_proba
    _content_len = staticmethod(NumpyTagger._content_len)
    tag_slice_proba = NumpyTagger.tag_slice_proba

    def tag_slice(
        self, subtokens: Sequence[str], tokenizer_type: str = "WordPiece"
    ) -> List[str]:
        """Argmax on the SCALED int64 logits (per-position scale is
        positive, so argmax is unchanged) — never through the float
        division, so a rounding tie can't drift from the BIGINT
        oracle."""
        n = self._content_len(subtokens)
        z_scaled, _ = self.forward_scaled([subtokens[:n]], tokenizer_type)
        tags = self.decode_argmax(z_scaled)[0][:n]
        return tags + ["O"] * (len(subtokens) - n)

    def _pad_dist(self):
        cached = getattr(self, "_pad_dist_cache", None)
        if cached is None:
            z = np.maximum(self.b1, 0.0) @ self.W2 + self.b2
            cached = self.decode_proba(
                z.reshape(1, 1, len(self.annotation_classes))
            )[0][0]
            self._pad_dist_cache = cached
        return cached

    # -- S7 checkpoint lifecycle -------------------------------------------
    def save(self, path: str) -> None:
        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            kind=np.array("trained"),
            W1=self.W1, b1=self.b1, W2=self.W2, b2=self.b2,
            classes=np.array(self.annotation_classes),
            emb_dim=np.int64(EMB_DIM),
            n_ch=np.int64(N_CH),
            n_hidden=np.int64(N_HIDDEN),
            n_hash=np.int64(N_HASH),
            q=np.int64(Q),
            smax=np.int64(SMAX),
        )

    @classmethod
    def load(cls, path: str) -> "TrainedTagger":
        ckpt = np.load(path if path.endswith(".npz") else path + ".npz")
        if str(ckpt.get("kind", "")) != "trained":
            raise ValueError(f"{path} is not a trained-head checkpoint")
        if (int(ckpt["emb_dim"]) != EMB_DIM or int(ckpt["n_hash"]) != N_HASH
                or int(ckpt.get("n_ch", 3)) != N_CH or int(ckpt["q"]) != Q
                or "W1" not in ckpt
                or int(ckpt.get("smax", -1)) != SMAX
                or int(ckpt.get("n_hidden", 0)) != N_HIDDEN):
            raise ValueError(
                f"checkpoint {path} was written for a different feature "
                "spec — retrain with tools/train_tagger.py"
            )
        return cls(ckpt["W1"], ckpt["b1"], ckpt["W2"], ckpt["b2"],
                   [str(c) for c in ckpt["classes"]])


_DEFAULT: Optional[TrainedTagger] = None


def default_trained_tagger() -> TrainedTagger:
    """Process-wide singleton over the packaged checkpoint (executor-
    local model cache, SURVEY §4.3.4); the checkpoint file ships with
    the package (it lives inside kgkit/), so --py-files delivery covers
    it on a real cluster."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = TrainedTagger.load(DEFAULT_CKPT)
    return _DEFAULT


# oracle preconditions (kgkit/oracles.py _trained_tags_cte): the SQL
# twin recomputes the forward pass with DOCUMENT-level lag/lead
# contexts and assumes every printable-ASCII word WordPiece-tokenizes
# to real pieces.  Both assumptions have bounds the current corpora sit
# far inside; tests/test_trained.py asserts them over every test corpus
# so a corpus change fails loudly instead of silently drifting from the
# oracle.  Production text outside the bounds takes the multi-slice
# path, which the oracle does not model.
_MAX_ASCII_WORD = 99    # >= 100 pieces -> [UNK] (wordpiece cap), but the
                        # oracle keys lower(word) for any '^[!-~]+$' match
_MAX_DOC_CHARS = 1022   # pieces-per-doc <= chars-per-doc; one slice holds
                        # 1022 content subtokens, and multi-slice docs use
                        # slice-bounded '' contexts the SQL does not


def assert_oracle_bounds(texts: Sequence[str]) -> None:
    """Raise if a document could diverge from the trained-head SQL
    oracle: a multi-slice doc (conservatively: > 1022 chars, since a
    word never yields more pieces than characters) or a printable-ASCII
    word long enough to hit the tokenizer's [UNK] piece cap."""
    for t in texts:
        if t is None:
            continue
        if len(t) > _MAX_DOC_CHARS:
            raise ValueError(
                f"document of {len(t)} chars may span WordPiece slices; "
                "the trained-head oracle assumes single-slice documents "
                f"(<= {_MAX_DOC_CHARS} chars is the safe bound)"
            )
        for w in t.split(" "):
            if len(w) > _MAX_ASCII_WORD and w.isascii() and w.isprintable():
                raise ValueError(
                    f"printable-ASCII word of {len(w)} chars exceeds the "
                    f"tokenizer's piece cap; the oracle would key "
                    "lower(word) while the model sees [UNK]"
                )
