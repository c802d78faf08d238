"""Web-corpus quality filtering — Gopher-style rules, repetition
signals, PII detect/scrub.

These are the pre-training-data quality operators a 100-TB Common-Crawl
pipeline runs between ingestion and dedup (Rae et al. 2021 "Scaling
Language Models: ... Gopher", appendix A1.1 — public paper; the
reference repo stops at NER, so these are pipeline extensions, not
ports).

Scale design: every signal is a pure column expression evaluated in one
projection over the scan (no shuffle, no UDF, whole-stage codegen), with
two exceptions that are explicitly shuffle-shaped:

  * ``top_ngram_stats`` aggregates (doc_id, ngram) — partial (map-side)
    aggregation applies and doc_id in the key kills skew, so the shuffle
    is proportional to distinct ngrams per doc, not corpus size.
  * nothing else shuffles.

All rules are threshold-parameterized; the defaults follow the Gopher
paper where the signal exists on plain text (no markup-specific rules —
the input_hint table's ``text`` column is already extracted text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a real (if small) English stopword list — Gopher's rule is
# "contains >= 2 of a fixed stop set"; this is that set.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with",
             "a", "in")

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}[.]\d{1,3}[.]\d{1,3}[.]\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def gopher_quality(docs: DataFrame,
                   min_words: int = 30, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   min_alpha_frac: float = 0.8,
                   min_stopwords: int = 2) -> DataFrame:
    """(doc_id, signals..., keep int) — Gopher rule battery per doc.

    Signals (all computed in ONE codegen'd projection over the scan):
      n_words, mean_word_len, frac_alpha_words (words containing an
      ASCII letter), n_stopwords (hits in STOPWORDS), symbol_ratio
      ('#' or '...' occurrences per word), frac_bullet_lines (lines
      starting with -, *, or bullet), frac_ellipsis_lines (lines ending
      in '...').  keep = 1 iff every rule passes.
    """
    w = _words()
    n_words = F.size(w)
    word_lens = F.transform(w, lambda x: F.length(x))
    mean_wl = (
        F.aggregate(word_lens, F.lit(0), lambda a, x: a + x)
        / n_words.cast("double")
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_sym = (F.regexp_count(F.col("text"), F.lit("#"))
             + F.regexp_count(F.col("text"), F.lit(r"\.\.\.")))
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    n_ellip = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$")))

    sig = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(n_alpha / n_words.cast("double"), 6).alias("frac_alpha_words"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(n_sym / n_words.cast("double"), 6).alias("symbol_ratio"),
        F.round(n_bullet / n_lines.cast("double"), 6).alias("frac_bullet_lines"),
        F.round(n_ellip / n_lines.cast("double"), 6).alias("frac_ellipsis_lines"),
    )
    keep = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("frac_alpha_words") >= min_alpha_frac)
        & (F.col("n_stopwords") >= min_stopwords)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
    )
    return sig.withColumn("keep", keep.cast("int"))


def top_ngram_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, top_ngram, top_ngram_n, top_ngram_char_frac) — the most
    frequent word n-gram per document and the fraction of the document's
    characters it covers (Gopher's repetition filter drops docs whose
    top 2-gram covers > 0.2 of characters).

    Shape (guide §2.4 — remove the shuffle outright): the n-gram
    multiset of a document lives entirely in its own row, so the
    per-doc top-1 is a WITHIN-ROW computation — sort the gram array
    and fold it once, tracking the current run length and the best
    (count, gram) seen.  Zero exchanges (this used to explode to an
    (doc, ngram) stream, groupBy-count it and window-sort for top-1:
    two shuffles of the gram stream for a per-row answer).  O(g log g)
    per document, embarrassingly parallel at any corpus size.  Tie
    rule unchanged: highest count, then lexicographically LARGEST gram
    (the old window ordered (cnt DESC, ngram DESC)) — the fold scans
    ascending sorted grams and replaces on strictly-better count or
    equal-count-larger-gram, which lands on the same winner.
    """
    w = _words()
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
    # single-pass fold over the sorted gram array: track the current
    # run length and the best (count, gram) seen — one struct state per
    # element, zero exchanges.  (A run-start/array_max formulation with
    # nested HOFs measured identically once its intermediates were
    # materialized, and is more fragile: multi-referenced nested HOF
    # expressions re-evaluate per element in the interpreted path.)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("bc"), F.lit("").alias("bg"),
    )

    def _step(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run2 > acc["bc"]) | ((run2 == acc["bc"]) & (x > acc["bg"]))
        return F.struct(
            x.alias("prev"), run2.alias("run"),
            F.when(better, run2).otherwise(acc["bc"]).alias("bc"),
            F.when(better, x).otherwise(acc["bg"]).alias("bg"),
        )

    best = F.aggregate(F.array_sort(grams), init, _step)
    return (
        docs.filter(F.size(_words()) >= n)
        .select(
            "doc_id",
            F.length("text").alias("n_chars_t"),
            best.alias("_b"),
        )
        .select(
            "doc_id",
            F.col("_b.bg").alias("top_ngram"),
            F.col("_b.bc").cast("long").alias("top_ngram_n"),
            F.round(
                (F.col("_b.bc") * F.length(F.col("_b.bg")))
                / F.col("n_chars_t").cast("double"), 6
            ).alias("top_ngram_char_frac"),
        )
    )


def plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII into the synthetic corpus (the
    driver's documents are PII-free word soup) so the detector has
    positives — same construction as dedup.planted_near_dups.  Every
    7th doc gets an email, every 11th an IPv4, every 13th a phone."""
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.concat(
                F.lit(" contact user"), d.cast("string"),
                F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.concat(
                F.lit(" from 10."), (d % 256).cast("string"),
                F.lit(".0.1"))).otherwise(F.lit("")),
            F.when(d % 13 == 0, F.lit(" call 555-0142")).otherwise(F.lit("")),
        ),
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, scrubbed_hash) — count PII
    matches and hash the scrubbed text (emails -> <EMAIL>, IPs -> <IP>,
    phones -> <PHONE>).  Patterns are RE2-safe (no backrefs/lookaround)
    so the DuckDB oracle runs the identical regexes.  Pure projection:
    no shuffle, no UDF."""
    t = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"),
        PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


# GPT-2-style pretokenizer regex, lookahead-free so the IDENTICAL
# pattern runs on Java regex (Spark) and RE2 (DuckDB oracle): BPE
# vocabularies segment on contractions / letter runs / digit runs /
# punctuation runs, each optionally space-prefixed.
BPE_RE = (
    "'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_distinct_bpe, chars_per_token) — token
    counting with a BPE-ish pretokenizer regex (the unit LLM data
    budgets are measured in), vs the whitespace counts of token_count.
    One regexp_extract_all per doc, pure projection."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe"),
        F.when(n > 0, F.round(F.length("text") / n.cast("double"), 6))
        .alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# unicode canonicalization (NFC) — pre-dedup text normalization
# ---------------------------------------------------------------------------

# deterministic decomposed-fixture suffix: 'café århus' with the accents
# as COMBINING characters (NFD: e+U+0301, a+U+030A) — planted into every
# 7th doc so normalization actually fires on the synthetic (ASCII)
# corpus.  The DuckDB oracle builds the identical literal from this
# constant.
NFD_SUFFIX = " cafe\u0301 a\u030Arhus"
NFD_EVERY = 7
NFD_ID_OFFSET = 300_000


def plant_decomposed(docs: DataFrame) -> DataFrame:
    """documents + a copy of every NFD_EVERY-th doc with a decomposed
    (NFD) unicode suffix — the normalization fixture."""
    copies = docs.filter(F.col("doc_id") % NFD_EVERY == 0).select(
        (F.col("doc_id") + NFD_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NFD_SUFFIX)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(copies)


def unicode_nfc(docs: DataFrame) -> DataFrame:
    """(doc_id, changed, n_before, n_after, nfc_md5) — NFC unicode
    canonicalization of the text column.

    Web text mixes precomposed and combining-character encodings of the
    SAME string ('é' vs 'e'+U+0301); every downstream equality — exact
    dedup hashes, shingles, alias matching — silently misses across the
    two forms, so canonicalization runs BEFORE dedup in a real pipeline.
    Spark has no built-in normalizer, so this is one Arrow mapInPandas
    pass over unicodedata.normalize (mapInPandas, not a scalar UDF, so
    the normalization runs exactly once per row however many output
    columns derive from it); the DuckDB oracle uses native
    nfc_normalize — both implement Unicode canonical composition, and
    the md5 of the normalized text is the cross-engine witness."""
    import pandas as pd

    schema = ("doc_id long, changed boolean, n_before long, "
              "n_after long, nfc_md5 string")

    def batches(it):
        import hashlib
        import unicodedata

        for pdf in it:
            nf = pdf["text"].map(lambda t: unicodedata.normalize("NFC", t))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "changed": (pdf["text"] != nf),
                "n_before": pdf["text"].str.len(),
                "n_after": nf.str.len(),
                "nfc_md5": nf.map(
                    lambda t: hashlib.md5(t.encode("utf-8")).hexdigest()
                ),
            })

    return docs.select("doc_id", "text").mapInPandas(batches, schema)
