"""Link graph + host authority — the web-graph quality signal.

A 100-TB webtext pipeline weights documents by the authority of their
host (Common-Crawl harmonic-centrality ranks, OpenWebText's karma
filter): crawl hygiene needs to know which hosts the web itself vouches
for.  Reference parallel: nerblackbox has no web-graph stage (its
inputs are curated datasets); this family is part of the LLM-pipeline
surface kgkit adds on top (SURVEY §2.3).

Scale shape, in three tiers that shrink by orders of magnitude each:

1. ``page_links`` — href extraction is a JVM regexp projection over the
   page scan (no Python; the WARC payload is already in memory), one
   explode.  Page-level output is corpus-sized: never materialized, it
   flows straight into the host aggregation.
2. ``host_edges`` — one groupBy on (src_host, dst_host).  Map-side
   combine collapses the page fan-in before the shuffle, so what
   shuffles is the HOST×HOST edge frame (~10^7 rows for the whole web,
   vs ~10^11 pages).
3. ``pagerank`` — iterates on the host graph only, with shuffle width
   sized to the GRAPH (the connected_components discipline,
   canonicalize.py): log-ish rounds of a join+groupBy on a frame a
   million times smaller than the corpus, each round localCheckpointed
   to cut lineage.

Integer exactness: ranks live on a 2^40 grid and every update is pure
BIGINT (multiply, sum, integer ``div``), so the recurrence is
bit-identical between Spark and the DuckDB oracle
(oracles._host_authority_sql) and the driver hash-checks the final
ranks exactly — the same no-cross-engine-floats rule as the trained
head and the k-means centroids.  Dangling hosts (no out-links) leak
their damped mass by design (the rank vector is a fixpoint ranking, not
a probability simplex); both engines implement the identical variant.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: rank grid — large enough that Q div n keeps ~28 bits of precision
#: even at n = 10^7 hosts, small enough that damping-numerator products
#: (num * sum-of-contribs <= num * Q ~ 2^47) never approach int64.
Q_GRID = 1 << 40

_HREF_RE = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"']*)["']"""


def hrefs_col(html: Column) -> Column:
    """All <a href> targets of an HTML column, as an array — a single
    JVM ``regexp_extract_all`` so extraction stays in the scan
    projection (same budget class as html_text_col)."""
    return F.regexp_extract_all(html, F.lit(_HREF_RE), 1)


def resolve_href_col(src_url: Column, href: Column) -> Column:
    """Resolve one href against its source page URL (NULL = drop).

    Absolute http(s) targets pass through; protocol-relative (//h/p)
    take the source scheme; root-relative (/p) resolve against the
    source origin.  Everything else — mailto:/javascript:/fragment/
    directory-relative — is NULL: at crawl scale those are link-graph
    noise, and directory-relative resolution needs the full RFC 3986
    merge that belongs in a recrawl frontier, not a ranking signal."""
    scheme = F.lower(F.try_parse_url(src_url, F.lit("PROTOCOL")))
    origin = F.concat(
        scheme, F.lit("://"),
        F.lower(F.try_parse_url(src_url, F.lit("HOST"))),
    )
    return (
        F.when(href.rlike(r"(?i)^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
    )


def page_links(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """(url, html) -> (src_url, dst_url), one row per resolvable href
    (resolution rules: ``resolve_href_col``)."""
    exploded = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(hrefs_col(F.col(html_col))).alias("href"),
    )
    resolved = resolve_href_col(F.col("src_url"), F.col("href"))
    return (
        exploded.select("src_url", resolved.alias("dst_url"))
        .filter(F.col("dst_url").isNotNull())
    )


_ANCHOR_RE = (
    r"""(?is)<a\s[^>]*href\s*=\s*["']([^"']*)["'][^>]*>(.*?)</a>"""
)


def anchor_texts(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """(url, html) -> (src_url, dst_url, anchor): one row per
    resolvable href carrying visible anchor text.

    Anchor text is the classic web-scale ALIAS source: the web labels
    every linked resource with the surface forms people use for it —
    exactly what the KG linking stage's alias dictionary wants (the
    reference ships a static dictionary; this mines one from the
    corpus).  Extraction is two ``regexp_extract_all`` passes over the
    same pattern zipped positionally (still one JVM projection);
    anchor bodies are normalized like page text (nested tags stripped,
    entities unescaped, whitespace collapsed — warc.html_text_col) and
    lowercased; empty anchors (the pure link-graph case) drop out."""
    from kgkit.sources.warc import html_text_col

    pat = F.lit(_ANCHOR_RE)
    exploded = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(F.col(html_col), pat, 1).alias("href"),
                F.regexp_extract_all(F.col(html_col), pat, 2).alias("raw"),
            )
        ).alias("a"),
    )
    return (
        exploded.select(
            "src_url",
            resolve_href_col(
                F.col("src_url"), F.col("a.href")
            ).alias("dst_url"),
            F.lower(html_text_col(F.col("a.raw"))).alias("anchor"),
        )
        .filter(F.col("dst_url").isNotNull() & (F.col("anchor") != ""))
    )


def alias_counts(anchors: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) -> (dst_url, alias, n_refs): the
    alias dictionary the web provides for each resource, weighted by
    reference count.  One aggregation with map-side combine — the
    corpus-sized anchor stream collapses to (resource × surface-form)
    before the only shuffle; at 100 TB the result is the broadcast-
    sized table the linking stage consumes."""
    return (
        anchors.groupBy(
            F.col("dst_url"), F.col("anchor").alias("alias")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_refs"))
    )


def with_anchor_html(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) -> + (url, html): a deterministic anchor-rich
    page per doc, built entirely IN Spark expressions — no driver loop,
    and the oracle replays the identical string arithmetic in SQL
    (oracles: anchor_aliases).  Fixed-modulus link targets (997) avoid
    any corpus-count scalar; doc i carries one absolute cross-host
    anchor with plain text and one root-relative anchor whose body
    exercises the normalizer (nested tag, double-escaped entity,
    padding whitespace)."""
    i = F.col("doc_id")
    j1 = (i * 7 + 1) % 997
    j2 = (i * 3 + 2) % 997
    s = lambda c: c.cast("string")  # noqa: E731 — local shorthand
    url = F.concat(
        F.lit("https://w"), s(i % 8), F.lit(".example.org/d/"), s(i)
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
        F.lit('<a href="https://w'), s(j1 % 8),
        F.lit('.example.org/d/'), s(j1),
        F.lit('">entity '), s(j1 % 40), F.lit("</a>"),
        F.lit('<a href="/d/'), s(j2),
        F.lit('"> <b>Entity '), s(j2 % 40),
        F.lit("</b> &amp; News </a></body></html>"),
    )
    return docs.withColumn("url", url).withColumn("html", html)


def host_edges(links: DataFrame) -> DataFrame:
    """(src_url, dst_url) -> (src, dst, weight): host-level link
    counts.  Self-host edges are dropped — intra-site navigation says
    nothing about authority (and at host granularity it is most of the
    raw link mass).  One aggregation; partial (map-side) combine does
    the corpus-to-graph collapse before the only shuffle."""
    src = F.lower(F.try_parse_url(F.col("src_url"), F.lit("HOST")))
    dst = F.lower(F.try_parse_url(F.col("dst_url"), F.lit("HOST")))
    return (
        links.select(src.alias("src"), dst.alias("dst"))
        .filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def _local_pagerank(spark, edge_rows, iters, num, den, q_grid, node_type):
    """Driver-side twin of the distributed recurrence for SMALL
    collected edge lists — every step is the same non-negative BIGINT
    arithmetic (Spark's ``div`` == python ``//`` on non-negatives), so
    the ranks are bit-identical to the loop's
    (tests/test_linkgraph.py::TestPagerankLocalPath pins it)."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_w: dict = {}
    nodes: set = set()
    for s, d, w in edge_rows:
        out_w[s] = out_w.get(s, 0) + w
        nodes.add(s)
        nodes.add(d)
    schema = StructType([
        StructField("node", node_type, True),
        StructField("rank_q", LongType(), True),
    ])
    if not nodes:
        return spark.createDataFrame([], schema)
    n = len(nodes)
    r0 = q_grid // n
    base = ((den - num) * r0) // den
    ranks = {v: r0 for v in nodes}
    for _ in range(iters):
        contrib: dict = {}
        for s, d, w in edge_rows:
            contrib[d] = contrib.get(d, 0) + (ranks[s] * w) // out_w[s]
        ranks = {
            v: base + (num * contrib.get(v, 0)) // den for v in nodes
        }
    return spark.createDataFrame(
        sorted(ranks.items()), schema
    )


def pagerank(edges: DataFrame, iters: int = 5,
             damping: Tuple[int, int] = (85, 100),
             q_grid: int = Q_GRID,
             local_threshold: int = 100_000) -> DataFrame:
    """edges(src, dst, weight) -> (node, rank_q): ``iters`` rounds of
    the integer-exact PageRank recurrence on the 1/q_grid grid::

        n         = |nodes|
        r_0(v)    = Q div n
        base      = ((den - num) * (Q div n)) div den
        c_t(v)    = sum over in-edges (u,v,w) of (r_t(u) * w) div out_w(u)
        r_{t+1}(v) = base + (num * c_t(v)) div den

    with damping = (num, den) = 85/100.  Every step is BIGINT, so the
    result is bit-identical to the oracle's unrolled SQL CTE chain.
    Fixed iteration count (not convergence-tested) keeps the plan
    deterministic; 5 rounds ranks a host web to well under the grid's
    resolution of interest (contribs contract by 0.85 per round).

    The graph frame is tiny relative to the corpus: the edge table is
    repartitioned to the edge count (~100k edges/partition, the
    connected_components discipline), the per-round aggregates run at
    the session's shuffle width (AQE coalesces them), and each
    iteration is localCheckpointed so lineage stays O(1).
    """
    num, den = damping
    spark = edges.sparkSession
    if local_threshold > 0:
        # scale-adaptive local path (the connected_components
        # discipline): one bounded take decides the gate AND delivers
        # the edges; a graph small enough to collect runs the exact
        # BIGINT recurrence driver-side instead of iters driver-paced
        # join rounds.  Bit-identical ranks (non-negative div == //).
        head = edges.select("src", "dst", "weight").take(local_threshold + 1)
        if len(head) <= local_threshold:
            return _local_pagerank(
                spark, [(r["src"], r["dst"], r["weight"]) for r in head],
                iters, num, den, q_grid, edges.schema["src"].dataType,
            )
    n_edges = edges.count()
    n_parts = max(1, min(64, n_edges // 100_000))
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    e = (
        edges.join(out_w, "src")
        .select("src", "dst", "weight", "out_w")
        .repartition(n_parts, "src")
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_q", F.lit(0).cast("long"))
    r0 = q_grid // n
    base = ((den - num) * r0) // den
    ranks = nodes.withColumn("rank_q", F.lit(r0).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst"),
                F.expr("rank_q * weight div out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                F.expr(
                    f"{base}L + ({num}L * coalesce(contrib, 0L)) div {den}L"
                ).cast("long").alias("rank_q"),
            )
            .localCheckpoint()
        )
    return ranks


def host_authority(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html", iters: int = 5,
                   damping: Tuple[int, int] = (85, 100),
                   q_grid: int = Q_GRID) -> DataFrame:
    """The composed signal: pages -> link extraction -> host graph ->
    integer PageRank, joined with each host's in/out link mass.
    Returns (host, rank_q, out_w, in_w) — the frame a quality gate
    joins (broadcast — it is host-sized) onto the corpus."""
    # fan-out: edges feeds pagerank + out_w + in_w.  Materialize the
    # host-sized frame once so the corpus-wide extraction lineage (WARC
    # parse UDF) is not replayed per branch (no ReusedExchange above
    # mapInArrow — the repo-wide persist-at-fanout rule).
    edges = host_edges(page_links(pages, url_col, html_col)).localCheckpoint()
    ranks = pagerank(edges, iters=iters, damping=damping, q_grid=q_grid)
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    in_w = edges.groupBy("dst").agg(F.sum("weight").alias("in_w"))
    return (
        ranks.join(out_w, ranks.node == out_w.src, "left")
        .join(in_w, ranks.node == in_w.dst, "left")
        .select(
            F.col("node").alias("host"),
            "rank_q",
            F.coalesce("out_w", F.lit(0)).cast("long").alias("out_w"),
            F.coalesce("in_w", F.lit(0)).cast("long").alias("in_w"),
        )
    )


def _undirected_simple(edges: DataFrame) -> DataFrame:
    """(src, dst, ...) -> distinct undirected simple edges (a, b) with
    a < b: direction, weights, duplicates and self-loops collapse."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _triangles_from_und(und: DataFrame) -> DataFrame:
    """(node, n_triangles) from a distinct (a, b) a<b edge set — the
    degree-oriented (node-iterator++) formulation, the one that scales:
    every edge is oriented from its lower-(degree, id) endpoint to the
    higher, turning the graph into a DAG whose out-degrees are
    O(sqrt(m)); wedges are then built only at the orientation source,
    so total wedge work is O(m^1.5) REGARDLESS of hub skew — a celebrity
    node's million neighbors never meet pairwise at the celebrity,
    because almost all its edges orient AWAY from it.  Three
    equi-joins, no window, no cartesian (plan-pinned); nodes in no
    triangle are absent.  ``ranked`` (the degree-oriented DAG) is consumed THREE times (both
    wedge arms + the closing-edge probe), so it is eagerly
    localCheckpointed — the multi-branch fan-out discipline; it is
    edge-set sized, orders of magnitude below any corpus."""
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    ranked = (
        sym.join(deg.withColumnRenamed("a", "_n1"),
                 F.col("a") == F.col("_n1"))
        .withColumnRenamed("d", "da")
        .join(deg.select(F.col("a").alias("_n2"),
                         F.col("d").alias("db")),
              F.col("b") == F.col("_n2"))
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("lo"), F.col("b").alias("hi"))
        .localCheckpoint()
    )
    o1 = ranked.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    o2 = ranked.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = o1.join(o2, "x").filter(F.col("y") < F.col("z"))
    tri = wedges.join(
        ranked.select(
            F.least("lo", "hi").alias("y"), F.greatest("lo", "hi").alias("z")
        ),
        ["y", "z"],
    ).select("x", "y", "z")
    per_corner = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    return per_corner.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def graph_stats(edges: DataFrame) -> dict:
    """Global shape summary of a graph (host graph or entity graph):
    nodes, undirected simple edges, triangles, wedges (open+closed
    2-paths), and the global clustering coefficient 3T/W — one
    driver-side dict of aggregates (everything underneath is
    distributed; only scalars collect).  The deduped edge set feeds
    BOTH the degree aggregate and the triangle pass, so it is
    materialized once (eager localCheckpoint — the fan-out
    discipline); coalesce keeps an empty graph at integer zeros, not
    JSON nulls."""
    und = _undirected_simple(edges).localCheckpoint()
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0)).alias("edges"),
        F.coalesce(
            F.sum(F.expr("d * (d - 1) / 2")).cast("long"), F.lit(0)
        ).alias("wedges"),
    ).collect()[0]
    n_tri = (
        _triangles_from_und(und).agg(F.sum("n_triangles")).collect()[0][0]
        or 0
    ) // 3
    cc = (3.0 * n_tri / agg["wedges"]) if agg["wedges"] else 0.0
    return {
        "nodes": agg["nodes"], "edges": agg["edges"],
        "triangles": int(n_tri), "wedges": agg["wedges"],
        "global_clustering": round(cc, 6),
    }
