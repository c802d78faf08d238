"""Deduplication operators for web-scale corpora (training-data pipeline).

No analog in the reference (nerblackbox stops at span extraction); these
are the corpus-hygiene stages a 10^12-document Common-Crawl pipeline
runs BEFORE mention detection.  All variants are pure column expressions
or key-partitioned joins — no UDFs, no driver loops:

  * exact        — md5(text) groupBy (kgkit.queries dedup_exact)
  * MinHash+LSH  — word-shingles -> k hex-string min-hashes -> banded
                   signatures -> bucket join -> exact-Jaccard verify.
                   Only documents sharing a band collide; the shuffle is
                   keyed by (band_idx, band_hash) — uniform unless the
                   corpus is pathologically boilerplate-heavy, in which
                   case buckets over `max_bucket` members are dropped
                   whole (boilerplate class, not pair candidates) with
                   the dropped mass reported via observation metrics.
  * n-gram Jaccard (exact) — inverted-index self-join on shingles with a
                   document-frequency cap (stop-shingle pruning) so hot
                   shingles cannot skew the join.
  * embedding cosine — sign-LSH bucketing over deterministic integer
                   hyperplanes, exact cosine verify inside buckets
                   (kgkit/operators/similarity.py shares the bucketer).

MinHash hashes each shingle ONCE (md5 prefix -> 28-bit fingerprint) and
derives the k permutations by (a_i x + b_i) mod P integer mixing — md5
is the one hash both Spark and the DuckDB oracle evaluate identically,
and the arithmetic stays under 2^59 so neither engine overflows.

``incremental_near_dups`` is the recrawl shape: a new snapshot batch is
deduped AGAINST the existing corpus index (band-table equi-join), never
corpus x corpus again.
"""

from __future__ import annotations

from typing import Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def with_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, sh ARRAY<STRING>, n_sh) —
    distinct word n-gram shingles.  Documents with fewer than ``n``
    words are dropped (no full shingle exists); the DuckDB oracle CTEs
    apply the same guard so both engines agree on short docs."""
    sh = F.expr(
        f"array_distinct(transform(sequence(0, size(split(text,' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split(text,' '), i + 1, {n}))))"
    )
    return (
        docs.filter(F.expr(f"size(split(text, ' ')) >= {n}"))
        .select("doc_id", sh.alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


def planted_near_dups(docs: DataFrame, every: int = 5, id_offset: int = 100_000) -> DataFrame:
    """documents + a perturbed copy of every ``every``-th doc (suffix
    appended, id shifted) — a deterministic near-duplicate fixture used
    by the dedup queries and their DuckDB oracles."""
    copies = docs.filter(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate suffix tail")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(copies)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MINHASH_P = 2_147_483_647  # 2^31 - 1, prime


def minhash_family(k: int):
    """Deterministic universal-hash family h_i(x) = (a_i x + b_i) mod P
    over 28-bit shingle fingerprints: x < 2^28 and a_i < P keep every
    product under 2^59 — no 64-bit overflow on either engine (DuckDB
    ERRORS on BIGINT overflow where the JVM wraps, so staying in range
    is a correctness requirement for the oracle twin, not a style
    choice)."""
    return [(999_983 * i + 1_299_721, 777_777 * i + 7) for i in range(k)]


def minhash_signature(shingled: DataFrame, k: int = 8) -> DataFrame:
    """Adds mh0..mh{k-1}: min over shingles of k permutation hashes.

    ONE md5 per shingle (the 28-bit prefix becomes an integer
    fingerprint); the k families are derived by integer mixing, not k
    re-hashes — round 1 salted and re-md5'd every shingle k times, i.e.
    8x the hash work on the dominant primitive of this operator."""
    d = F.expr(
        "transform(sh, s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint))"
    )
    out = shingled.withColumn("_d", d)
    for i, (a, b) in enumerate(minhash_family(k)):
        out = out.withColumn(
            f"mh{i}",
            F.expr(f"array_min(transform(_d, x -> (x * {a}L + {b}L) % {MINHASH_P}L))"),
        )
    return out.drop("_d")


def lsh_band_table(signed: DataFrame, bands: int = 4, rows: int = 2) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per band; a band's hash
    is the md5 of its concatenated signature slice."""
    entries = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]))
            .alias("band_hash"),
        )
        for b in range(bands)
    ]
    return signed.select(
        "doc_id", F.explode(F.array(*entries)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")


def _cap_buckets(band_table: DataFrame, max_bucket: int,
                 observation=None, keys=("band_idx", "band_hash"),
                 id_col: str = "doc_id") -> DataFrame:
    """Drop band buckets with more than ``max_bucket`` members — the
    boilerplate skew guard: a bucket of size m yields m(m-1)/2 pairs,
    so one site template shared by 10^8 pages would go quadratic.  A
    bucket over the cap holds documents more alike than any Jaccard
    threshold distinguishes (they agree on a whole band of minhashes
    en masse); treating them as a boilerplate CLASS rather than pair
    candidates is the standard LSH degeneracy handling.

    ``keys``/``id_col`` parameterize the bucket key so every bucketed
    candidate generator shares one guard: MinHash bands here, and the
    sign-LSH embedding buckets in kgkit.operators.similarity
    (embedding_near_dups), which round 3 shipped uncapped.

    Truncation is never silent: pass a ``pyspark.sql.Observation`` to
    receive (buckets_dropped, band_rows_dropped) as free observation
    metrics on the first action — no extra job, unlike an eager count.

    Shape (guide §2.3 — aggregate before you shuffle): bucket sizes
    are a partial-aggregated groupBy over the bucket key; oversized
    buckets (rare by construction — boilerplate degeneracy) form a
    tiny blocklist that BROADCAST anti-joins back onto the band table.
    This replaces the former full-row window count, which shuffled and
    sorted every band row by the bucket key just to annotate sizes.
    The helper scans ``band_table`` twice (sizes + probe), so callers
    persist it first when its lineage is expensive — every caller in
    this repo does.  The observation rides the sizes aggregate: the
    same (buckets_dropped, band_rows_dropped) values, without the old
    row_number marker trick."""
    sizes = band_table.groupBy(*keys).agg(F.count("*").alias("_bsz"))
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.sum(
                F.when(F.col("_bsz") > max_bucket, 1).otherwise(0)
            ).alias("buckets_dropped"),
            F.sum(
                F.when(F.col("_bsz") > max_bucket, F.col("_bsz"))
                .otherwise(0)
            ).alias("band_rows_dropped"),
        )
    bad = sizes.filter(F.col("_bsz") > max_bucket).select(*keys)
    # a USING-list join reorders columns (keys first) — re-project to
    # the input's column order (CLAUDE.md gotcha)
    return band_table.join(
        F.broadcast(bad), list(keys), "left_anti"
    ).select(*band_table.columns)


def candidate_pairs(band_table: DataFrame, max_bucket: int = 1000,
                    observation=None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket.
    The self-join is keyed on (band_idx, band_hash) — colliding docs
    only; buckets larger than ``max_bucket`` are dropped entirely (see
    ``_cap_buckets``; ``observation`` surfaces the dropped mass).

    The band table is repartitioned by the bucket key and persisted
    BEFORE capping: its lineage (minhash HOF lambdas) does not
    canonicalize into a ReusedExchange, so without the persist the
    cap's sizes aggregate and both join sides would recompute the
    signatures — and the cached key-partitioning is exactly what the
    sizes groupBy and the self-join require, so neither adds an
    exchange (one shuffle of the band table total).  The pairs come
    back as an eager localCheckpoint and the cache is released."""
    band_table = band_table.repartition("band_idx", "band_hash").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        band_table.count()  # populate eagerly (the fan-out discipline)
        capped = _cap_buckets(band_table, max_bucket, observation)
        a = capped.select(
            F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
        )
        b = capped.select(
            F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"
        )
        return (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .localCheckpoint()
        )
    finally:
        band_table.unpersist()


def verify_jaccard(pairs: DataFrame, shingled: DataFrame, threshold: float,
                   shingled_b: DataFrame = None) -> DataFrame:
    """Exact Jaccard on candidate pairs via array intersect/union sizes.
    ``shingled_b`` lets the two pair sides come from different corpora
    (incremental dedup); default is the self-join case."""
    if shingled_b is None:
        shingled_b = shingled
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingled_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    observation=None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: (doc_a, doc_b, jaccard) near-dup pairs.

    ``shingled`` feeds both the signature path and the exact-Jaccard
    verify (twice, as both join sides); caching it avoids re-running
    the shingling HOFs 3x (no ReusedExchange for lambda plans).
    ``max_bucket``/``observation`` are the boilerplate-bucket skew cap
    and its dropped-mass reporting (see ``candidate_pairs``)."""
    shingled = with_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        shingled.count()  # eager: three consumers (signature + both
        # verify sides) otherwise race the unpopulated cache and re-run
        # the shingling HOFs (the assemble_triples discipline)
        bandt = lsh_band_table(minhash_signature(shingled, k), bands, rows)
        pairs = candidate_pairs(bandt, max_bucket=max_bucket,
                                observation=observation)
        return verify_jaccard(pairs, shingled, threshold).localCheckpoint()
    finally:
        shingled.unpersist()


def dup_clusters(pairs: DataFrame, id_a: str = "doc_a",
                 id_b: str = "doc_b") -> DataFrame:
    """Near-dup pairs -> (doc_id, canonical_id): transitive duplicate
    clusters.  Pair similarity is NOT an equivalence relation until
    closed — a chain A~B, B~C must collapse to ONE survivor even though
    (A, C) never appeared as a pair, otherwise a greedy pairwise drop
    keeps both ends of every chain.  Runs
    ``canonicalize.connected_components`` (small-graph union-find, else
    pointer-jumping rounds with a graph-sized shuffle width and a
    per-round localCheckpoint) over the BIGINT doc_ids in natural
    order; canonical = smallest member.  Only
    docs appearing in >= 1 pair come back — singletons are their own
    canonical by definition, so the caller's keep-filter is
    ``doc_id == canonical_id OR doc_id not in clusters``.

    Scale: the pair graph is sparse by construction (every generator in
    this module caps degenerate buckets), so the CC loop iterates on a
    frame orders of magnitude below corpus size; a path in id order
    converges in O(log n) rounds (pinned in tests/test_canonicalize.py)."""
    from kgkit.operators.canonicalize import connected_components

    # materialize the pair frame ONCE: connected_components consumes
    # its edges three times up front (count + both union branches), and
    # the candidate-join/verify lineage above a pair generator has no
    # ReusedExchange (the repo-wide persist-at-fanout rule) — without
    # this the most expensive stage of the dedup pipeline runs 3x
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint()
    cc = connected_components(edges)
    return cc.select(
        F.col("entity_id").alias("doc_id"), "canonical_id"
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via an inverted-index
    self-join on shingles.  ``max_df`` drops shingles occurring in more
    than that many documents (stop-shingle pruning): a boilerplate
    shingle shared by millions of pages would otherwise quadratically
    dominate the join — the standard skew guard for this operator.

    The exploded (doc_id, shingle) index fans out four ways (df counts,
    both join sides, per-doc sizes); HOF-lambda plans don't canonicalize
    into a ReusedExchange, so it is cached; uncached, the
    split+md5 shingling recomputes 4x.  MEMORY_AND_DISK keeps the scale
    path spill-safe."""
    ex = (
        with_shingles(docs, n)
        .select("doc_id", F.explode("sh").alias("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        ex.count()  # eager: four consumers (df counts, both join
        # sides, per-doc sizes) otherwise race the unpopulated cache
        # and re-run the shingling (the assemble_triples discipline)
        df_counts = ex.groupBy("s").agg(F.count("*").alias("df_"))
        kept = ex.join(
            df_counts.filter(F.col("df_") <= max_df), "s"
        ).select("doc_id", "s")

        a = kept.select(F.col("doc_id").alias("doc_a"), "s")
        b = kept.select(F.col("doc_id").alias("doc_b"), "s")
        inter = (
            a.join(b, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
        # per-doc shingle counts derived from the SAME cached index (sh
        # is already distinct per doc), not a second shingling pass
        sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        return (
            inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("n_sh", "n_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_sh", "n_b"), "doc_b")
            .select(
                "doc_a", "doc_b",
                F.round(
                    F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b")
                       - F.col("n_inter")).cast("double"),
                    6,
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .localCheckpoint()
        )
    finally:
        ex.unpersist()


# ---------------------------------------------------------------------------
# incremental (snapshot-vs-corpus) dedup
# ---------------------------------------------------------------------------


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 8,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """(corpus_doc_id, new_doc_id, jaccard) — near-dups of a NEW batch
    against an EXISTING corpus, the recrawl shape of web-scale dedup:
    the corpus band table is computed once when the corpus is indexed
    (at 10^12 docs it lives as a bucketed table keyed on
    (band_idx, band_hash)); each new snapshot (~10^9 docs) computes
    bands for ITS documents only and probes by equi-join.  The join is
    corpus-bands x batch-bands — never corpus x corpus (already
    deduped when indexed) and never batch x batch (that is the next
    snapshot's corpus-vs-batch problem once the batch is merged) — so
    per-snapshot work is O(batch) + one shuffle of the (tiny) batch
    band table against the bucketed index, not a re-pairing of the
    whole corpus.  ``max_bucket`` caps the CORPUS side's bucket size
    (the side that can be boilerplate-degenerate at 10^12 docs); each
    kept corpus bucket then contributes at most max_bucket pairs per
    colliding batch row, so no bucket goes quadratic."""
    # both shingle frames feed the signature path and a verify side
    # (the fan-out discipline); the cap scans the corpus band table
    # twice (sizes + probe), so it is cached key-partitioned and the
    # sizes aggregate needs no exchange
    sh_c = with_shingles(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    sh_b = with_shingles(batch).persist(StorageLevel.MEMORY_AND_DISK)
    bands_c = (
        lsh_band_table(minhash_signature(sh_c, k), bands, rows)
        .repartition("band_idx", "band_hash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        for df in (sh_c, sh_b, bands_c):
            df.count()  # populate eagerly, shingles first
        bt_c = _cap_buckets(bands_c, max_bucket).select(
            F.col("doc_id").alias("corpus_doc_id"), "band_idx", "band_hash"
        )
        bt_b = lsh_band_table(minhash_signature(sh_b, k), bands, rows).select(
            F.col("doc_id").alias("new_doc_id"), "band_idx", "band_hash"
        )
        cand = (
            bt_c.join(bt_b, ["band_idx", "band_hash"])
            .select("corpus_doc_id", "new_doc_id")
            .distinct()
        )
        pairs = cand.select(
            F.col("corpus_doc_id").alias("doc_a"),
            F.col("new_doc_id").alias("doc_b"),
        )
        return verify_jaccard(pairs, sh_c, threshold, shingled_b=sh_b).select(
            F.col("doc_a").alias("corpus_doc_id"),
            F.col("doc_b").alias("new_doc_id"),
            "jaccard",
        ).localCheckpoint()
    finally:
        for df in (sh_c, sh_b, bands_c):
            df.unpersist()


# ---------------------------------------------------------------------------
# winnowing substring dedup (Schleimer/Wilkerson/Aiken, MOSS)
# ---------------------------------------------------------------------------

def winnow_fingerprints(docs: DataFrame, k: int = 16, window: int = 8) -> DataFrame:
    """(doc_id, fp, pos, gram) winnowed character-k-gram fingerprints.

    The winnowing guarantee: any substring shared EXACTLY between two
    documents of length >= t = window + k - 1 contributes at least one
    identical selected fingerprint to both — so exact-substring
    duplication (licence blocks, quoted passages, mirrored fragments)
    is detectable from ~1/window of the k-gram hashes, unlike MinHash
    which needs whole-document similarity.

    Plan: pure column expressions, zero shuffle — per doc, the hash
    array is built by one transform over the char positions (md5
    7-hex-prefix int, the shingle fingerprint used by minhash), the
    window minimum keeps (hash, pos) structs, and array_distinct
    collapses the run-length repetition winnowing produces.  Each
    survivor carries its k-gram CHARACTERS (`gram` = text[pos:pos+k],
    the exact value the 28-bit fp hashes), so pair verification compares
    grams on the candidate row instead of re-joining full document
    text — k characters of proxy per fingerprint rather than whole
    payloads through the verify joins (guide §8)."""
    hs = F.expr(
        f"transform(sequence(0, greatest(length(text) - {k}, -1)), "
        f"i -> named_struct("
        f"'fp', cast(conv(substring(md5(substring(text, i + 1, {k})), 1, 7), 16, 10) as bigint), "
        f"'pos', i))"
    )
    wins = F.expr(
        f"array_distinct(transform(sequence(0, size(_hs) - {window}), "
        f"j -> array_min(slice(_hs, j + 1, {window}))))"
    )
    return (
        docs.select("doc_id", "text")
        .filter(F.length("text") >= k + window - 1)
        .withColumn("_hs", hs)
        .select("doc_id", "text", F.explode(wins).alias("w"))
        .select(
            "doc_id",
            F.col("w.fp").alias("fp"),
            F.col("w.pos").alias("pos"),
            F.expr(f"substring(text, w.pos + 1, {k})").alias("gram"),
        )
    )


def substring_dup_pairs(
    docs: DataFrame,
    k: int = 16,
    window: int = 8,
    min_shared: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) pairs sharing >= min_shared VERIFIED
    winnowed fingerprints — exact-substring duplication candidates.

    Same scale skeleton as the MinHash band join: equi-join on the
    fingerprint (colliding docs only), the ``max_bucket`` guard drops
    degenerate fingerprints (a boilerplate k-gram present in every page
    would square the join), and verification is FUSED INTO THE JOIN
    KEY: candidates equi-join on (fp, gram) where ``gram`` is the
    actual k-gram characters carried on the fingerprint row, so a 28-bit
    hash collision never even materializes a join-output row and no
    join back to document text is needed (guide §8: every shuffle but
    the last moves a lightweight proxy — k characters/row here, vs whole
    documents through the former two verify joins).  The cap still
    keys on fp alone (its observed bucket sizes keep their exact
    values; gram equality implies fp equality, so (fp, gram) matches
    == byte-verified fp matches)."""
    # repartition by (fp, gram) + persist BEFORE capping: the winnow
    # HOFs are the hottest primitive of this operator, and the cached
    # key-partitioning is exactly the self-join's key — both join
    # sides ride the cache with ZERO further exchanges (measured: the
    # fp-only partitioning left the (fp, gram)-keyed SMJ re-shuffling
    # both sides).  The cap's sizes aggregate re-keys to fp, but that
    # is a partial-aggregated stream of narrow (fp, count) rows, not
    # full fingerprint rows.
    fps = (
        winnow_fingerprints(docs, k, window)
        .repartition("fp", "gram")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        fps.count()  # populate eagerly (the fan-out discipline)
        capped = _cap_buckets(fps, max_bucket, keys=("fp",), id_col="doc_id")
        a = capped.select(F.col("doc_id").alias("doc_a"), "fp", "gram")
        b = capped.select(F.col("doc_id").alias("doc_b"), "fp", "gram")
        verified = (
            a.join(b, ["fp", "gram"])
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
        return (
            verified.select("doc_a", "doc_b", "fp").distinct()
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .localCheckpoint()
        )
    finally:
        fps.unpersist()


# ---------------------------------------------------------------------------
# benchmark decontamination (train/test overlap removal)
# ---------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    min_hits: int = 1,
) -> Tuple[DataFrame, DataFrame]:
    """Remove training documents that overlap an evaluation benchmark —
    the GPT-3-style n-gram decontamination every serious pretraining
    corpus runs (13-gram exact-substring overlap is the published
    convention; lowering ``n`` tightens, ``min_hits`` requires that
    many distinct contaminated n-grams before a doc drops).

    Returns (clean_corpus, contamination_report) where the report is
    (doc_id, n_hits, example) — one row per DROPPED doc with a sample
    offending n-gram, because a decontamination pass that cannot show
    WHY it dropped a document is unauditable.

    Scale shape: benchmark suites are small (10^4-10^6 n-grams), so
    their distinct shingle set BROADCASTS; the corpus-side n-gram
    stream (one explode in the scan projection) inner-joins it
    map-side — no shuffle of corpus text, cost = one corpus scan, the
    same budget as the quality battery.  Both frames use the shared
    ``with_shingles`` word-n-gram normalization, so the oracle CTEs
    replay it verbatim (tests/test_decontaminate.py)."""
    bench_sh = (
        with_shingles(benchmarks.select("doc_id", "text"), n=n)
        .select(F.explode("sh").alias("sh"))
        .distinct()
    )
    corpus_sh = with_shingles(corpus.select("doc_id", "text"), n=n).select(
        "doc_id", F.explode("sh").alias("sh")
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("sh").alias("example"),
        )
        .filter(F.col("n_hits") >= min_hits)
    )
    clean = corpus.join(hits.select("doc_id"), "doc_id", "left_anti")
    return clean, hits
