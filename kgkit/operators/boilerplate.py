"""Per-host boilerplate line removal — the RefinedWeb/CCNet line-level
dedup stage: a line occurring on >= ``min_docs`` distinct pages of the
SAME host (nav menus, cookie banners, copyright footers) is template
chrome, not content, and is stripped from every page of that host.

Two passes, each in its scale-right shape:

* **Pass 1 (line stats)** explodes the corpus to (host, line) grain —
  the honest cost of line-level dedup — and counts distinct documents
  per (host, line-hash) with the two-level groupBy discipline of a
  COUNT DISTINCT rewrite: first (host, lh, doc_id)
  (map-side combine on 16-byte digests, never the line text), then
  (host, lh).  The Zipf mega-host's rows split across reducers by the
  line digest, so the head never funnels through one task.

* **Pass 2 (removal)** never explodes and never shuffles the corpus:
  the boilerplate relation collapses to one (host, array-of-hashes)
  row per affected host — bounded by hosts x over-threshold lines, the
  broadcast-sized output of a frequency filter — and cleaning becomes
  a single per-row projection (``filter`` over the split lines with an
  ``array_contains`` membership probe against the broadcast array).
  A giant per-host template set would call for a map-typed probe; the
  array is right for the nav/footer cardinalities this targets.

The whole operator is built-in expressions — no python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NL = "\n"


def host_line_counts(docs: DataFrame) -> DataFrame:
    """(host, lh, n_docs): distinct documents of the host containing
    the line (keyed by md5 digest; duplicate lines within one document
    count once)."""
    lines = docs.select(
        "doc_id", "host",
        F.explode(F.split("text", NL)).alias("line"),
    )
    per_doc = (
        lines.groupBy("host", F.md5("line").alias("lh"), "doc_id")
        .agg(F.count("*").alias("_n"))
    )
    return per_doc.groupBy("host", "lh").agg(
        F.count("*").cast("long").alias("n_docs")
    )


def remove_boilerplate_lines(docs: DataFrame, min_docs: int = 5) -> DataFrame:
    """docs(doc_id, host, text) -> (doc_id, host, n_kept, n_removed,
    clean_text) with every >= min_docs-document line of the host
    removed.  Line order is preserved; a fully-templated page keeps
    doc identity with clean_text = ''."""
    host_boiler = (
        host_line_counts(docs)
        .filter(F.col("n_docs") >= min_docs)
        .groupBy("host")
        .agg(F.collect_list("lh").alias("boiler_lhs"))
    )
    bl = F.coalesce(F.col("boiler_lhs"), F.array().cast("array<string>"))
    all_lines = F.split("text", NL)
    kept = F.filter(all_lines, lambda l: ~F.array_contains(bl, F.md5(l)))
    return (
        docs.join(F.broadcast(host_boiler), "host", "left")
        .select(
            "doc_id",
            "host",
            F.size(kept).cast("long").alias("n_kept"),
            (F.size(all_lines) - F.size(kept)).cast("long")
            .alias("n_removed"),
            F.array_join(kept, NL).alias("clean_text"),
        )
    )


def with_template_lines(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line fixture over the synthetic corpus (the
    driver texts carry no newlines): Zipf hosts (half the pages on one
    mega-site, the rest over 19 tail hosts), a per-host banner line, the
    document's own words re-flowed into 6-word body lines, and a
    footer on every third document.  The DuckDB oracle rebuilds the
    identical strings — change both or neither."""
    host = (
        F.when(F.col("doc_id") % 2 == 0, F.lit("mega.example.org"))
        .otherwise(F.concat(F.lit("h"), (F.col("doc_id") % 19).cast("string"),
                            F.lit(".example.net")))
    )
    w = F.split("text", " ")
    n_lines = F.ceil(F.size(w) / F.lit(6)).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(w, i * 6 + 1, 6), " "),
        ),
        NL,
    )
    text = F.concat(
        F.lit("site "), host, F.lit(" navigation menu" + NL),
        body,
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(NL + "copyright "), host)).otherwise(F.lit("")),
    )
    return docs.select("doc_id", host.alias("host"), text.alias("text"))
