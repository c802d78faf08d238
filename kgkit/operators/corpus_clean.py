"""End-to-end corpus cleaning — the hygiene stages COMPOSED.

Every stage exists as an oracled operator; what a production
training-data pipeline actually runs is their composition, with
per-stage drop accounting so nobody discovers months later that a
filter silently ate 40% of the corpus.  Stage order follows the
standard cost gradient (cheapest, highest-yield first):

    1. URL canonical dedup — keep one doc per canonical resource
       (scan projection + one groupBy on the canonical key)
    2. exact dedup        — keep the min-id doc per md5(text)
    3. near-dup removal   — MinHash+LSH pairs; of each duplicate pair
       the LARGER id is dropped (greedy right-drop — the standard
       approximation to clique collapse) via an anti-join whose build
       side AQE sizes at runtime
    4. quality filter     — the Gopher rule battery's keep flag

Accounting: ``clean_corpus`` returns (cleaned_df, stats) where stats
carries the per-stage kept/dropped counts.  Counting is one eager
count per stage boundary — four small jobs on frames the next stage
consumes anyway (each boundary is an eager ``localCheckpoint``, so
the count reads the checkpointed blocks the next stage also reads:
the accounting is almost free, and silently-lazy accounting that
nobody forces is worse than none).

Boundaries are also LINEAGE CUTS.  persist() alone leaves the full
logical plan in place, and every hygiene stage references its input
TWICE (the keep-set aggregate + the join-back), so the composed plan
TREE would double per stage — five stages over a deep upstream
lineage (WARC extraction + boilerplate strip) made AQE's plan-string
rendering alone OOM a driver.  A checkpoint replaces the plan with a
LogicalRDD leaf, so plan size stays O(stage).  Its blocks are
executor-local (a lost executor re-fails the job rather than
recomputing — acceptable for one composed batch job) and are freed by
GC once the frame is dropped; ``unpersist()`` does not release them."""

from __future__ import annotations

from typing import Dict, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def keep_min_id(df: DataFrame, key) -> DataFrame:
    """Keep the min-doc_id row per dedup key — the scale-safe shape
    (kgkit.queries._dedup_exact_q): a NARROW (key, doc_id) projection
    groupBys with map-side combine, then the full rows semi-join on
    doc_id alone (unique survivors, uniform bigint key).  A
    Window.partitionBy(key) would instead shuffle FULL rows by the key
    with no partial aggregation — one mega-duplicated boilerplate page
    funnels its whole mass through a single task at 100 TB
    (tests/test_corpus_clean.py pins the plan shape)."""
    keep = (
        df.select(key.alias("_k"), "doc_id")
        .groupBy("_k")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return df.join(keep, "doc_id", "left_semi")


def clean_corpus(
    docs: DataFrame,
    url_col: str = "url",
    near_dup_threshold: float = 0.5,
    quality_kwargs: dict = None,
    near_dup_strategy: str = "greedy",
    quality_clf=None,
    benchmarks: DataFrame = None,
    decontaminate_n: int = 13,
) -> Tuple[DataFrame, Dict[str, object]]:
    """docs(doc_id, url?, text) -> (cleaned docs, per-stage stats).

    ``url_col=None`` (or a missing column) skips stage 1.

    ``near_dup_strategy``: ``'greedy'`` (default, the oracled shape —
    of each pair the larger id drops; cheap, but a chain A~B~C keeps
    both ends) or ``'clusters'`` (dedup.dup_clusters: transitive
    closure via connected components, keep exactly the min member per
    duplicate cluster — the principled collapse, one CC loop extra).

    ``quality_clf``: an optional trained
    ``quality_clf.QualityClassifier`` — adds a fifth stage (the CCNet
    composition: dedup -> rules -> trained model) that keeps docs the
    model scores positive; same plan budget as stage 4 (a broadcast
    weight join + one groupBy inside the scorer, then a doc_id join).

    ``benchmarks``: an optional (doc_id, text) evaluation suite — adds
    benchmark decontamination as the LAST stage (the published n-gram
    convention, ``decontaminate_n``-grams; dedup.decontaminate):
    overlap is judged on exactly the text that ships.  Broadcast-only,
    one extra corpus scan."""
    from kgkit.operators.dedup import minhash_near_dups
    from kgkit.operators.text_quality import gopher_quality

    # materialize the INPUT once (lineage cut + block-backed): the
    # accounting count was already paying a full pass over the input
    # lineage, and stage 1's keep-aggregate + semi-join-back then
    # re-ran that lineage twice more (no ReusedExchange across the two
    # differently-pruned sides) — measured 3.2 s of stage-1 boundary at
    # sf0.1, ~1 s once the input reads blocks.  Same byte class as the
    # stage-1 boundary that was already materialized.
    docs = docs.localCheckpoint()
    stats: Dict[str, object] = {"input": docs.count()}

    cur = docs
    # -- 1. URL canonical dedup ------------------------------------------
    if url_col and url_col in docs.columns:
        from kgkit.operators.urls import canonical_url_col

        # non-canonicalizable urls must NOT collapse into one dedup
        # group: that covers SQL NULLs AND shared junk placeholders
        # ('', 'N/A', '-' — ubiquitous in crawl metadata), either of
        # which would silently drop every such doc but one.  A url the
        # canonicalizer rejects is not evidence of resource identity,
        # so fall back straight to a per-row unique doc:// key —
        # identical-content junk-url docs still collapse in stage 2.
        key = F.coalesce(
            canonical_url_col(F.col(url_col)),
            F.concat(F.lit("doc://"), F.col("doc_id")),
        )
        cur = keep_min_id(cur, key)
    cur = cur.localCheckpoint()
    stats["after_url_dedup"] = cur.count()

    # -- 2. exact dedup ---------------------------------------------------
    cur = keep_min_id(cur, F.md5("text")).localCheckpoint()
    stats["after_exact_dedup"] = cur.count()

    # -- 3. near-dup removal ----------------------------------------------
    if near_dup_strategy not in ("greedy", "clusters"):
        raise ValueError(f"unknown near_dup_strategy {near_dup_strategy!r}")
    pairs = minhash_near_dups(
        cur.select("doc_id", "text"), threshold=near_dup_threshold
    )
    if near_dup_strategy == "clusters":
        from kgkit.operators.dedup import dup_clusters

        drop = (
            dup_clusters(pairs)
            .filter(F.col("doc_id") != F.col("canonical_id"))
            .select("doc_id")
        )
    else:
        drop = pairs.select(
            F.greatest("doc_a", "doc_b").alias("doc_id")
        ).distinct()
    # no broadcast hint: the drop list is usually tiny but is NOT
    # bounded (a heavily-mirrored crawl can shed millions of ids) —
    # AQE picks broadcast when the built side is actually small
    cur = cur.join(drop, "doc_id", "left_anti").localCheckpoint()
    stats["after_near_dedup"] = cur.count()

    # -- 4. quality filter -------------------------------------------------
    q = gopher_quality(
        cur.select("doc_id", "text"), **(quality_kwargs or {})
    ).select("doc_id", "keep")
    cur = (
        cur.join(q, "doc_id").filter(F.col("keep") == 1).drop("keep")
        .localCheckpoint()
    )
    stats["after_quality"] = cur.count()

    boundaries = [
        ("input", "after_url_dedup", "dropped_url_dedup"),
        ("after_url_dedup", "after_exact_dedup", "dropped_exact"),
        ("after_exact_dedup", "after_near_dedup", "dropped_near_dup"),
        ("after_near_dedup", "after_quality", "dropped_quality"),
    ]

    # -- 5. trained model filter (optional) --------------------------------
    if quality_clf is not None:
        from kgkit.operators.quality_clf import quality_clf_score

        keep = (
            quality_clf_score(cur.select("doc_id", "text"), quality_clf)
            .filter(F.col("keep") == 1)
            .select("doc_id")
        )
        cur = cur.join(keep, "doc_id", "left_semi").localCheckpoint()
        stats["after_clf"] = cur.count()
        boundaries.append(("after_quality", "after_clf", "dropped_clf"))

    # -- 6. benchmark decontamination (optional, LAST: eval overlap
    #       must be judged on the text that will actually ship) -------
    if benchmarks is not None:
        from kgkit.operators.dedup import decontaminate

        _, report = decontaminate(
            cur.select("doc_id", "text"), benchmarks, n=decontaminate_n
        )
        report = report.localCheckpoint()  # consumed twice: filter + audit
        # anti-join the HITS report directly (decontaminate's own
        # clean frame would cost a redundant second join), and surface
        # the auditability the report exists for: a sample of dropped
        # docs with their offending n-grams rides along in stats
        cur = cur.join(
            report.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint()
        last = boundaries[-1][1]
        stats["after_decontamination"] = cur.count()
        stats["contamination_examples"] = [
            [r["doc_id"], r["n_hits"], r["example"]]
            for r in report.orderBy(F.desc("n_hits"), "doc_id")
            .limit(5).collect()
        ]
        boundaries.append(
            (last, "after_decontamination", "dropped_contaminated")
        )

    for a, b, key in boundaries:
        stats[key] = stats[a] - stats[b]
    return cur, stats
