"""Link graph + host authority (kgkit/operators/linkgraph.py).

Differential strategy, same as every exact-arithmetic operator here:
a pure-python twin of the integer PageRank recurrence is compared
bit-for-bit with the Spark result (the DuckDB oracle then re-proves the
same recurrence end-to-end over the WARC fixture in check_oracles).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

Q = 1 << 40


def _pagerank_twin(edges, iters=5, num=85, den=100, q_grid=Q):
    """Pure-python twin of linkgraph.pagerank: edges = [(src, dst, w)]."""
    out_w: dict = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    r0 = q_grid // n
    base = ((den - num) * r0) // den
    rank = {v: r0 for v in nodes}
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += (rank[s] * w) // out_w[s]
        rank = {v: base + (num * contrib[v]) // den for v in nodes}
    return rank


class TestHrefExtraction:
    def test_absolute_relative_and_noise(self, spark):
        from kgkit.operators.linkgraph import page_links

        html = (
            '<html><body>'
            '<a href="https://other.org/x">t</a>'
            '<a href="HTTP://CASED.ORG/Y">t</a>'
            "<a href='/rel/path'>single quotes</a>"
            '<a href="//proto.org/p">protocol-relative</a>'
            '<a href="mailto:x@y.z">mail</a>'
            '<a href="javascript:void(0)">js</a>'
            '<a href="#frag">fragment</a>'
            '<a href="dir/relative">dropped</a>'
            '<a class="k" href="https://attr.org/a">attrs before href</a>'
            "</body></html>"
        )
        df = spark.createDataFrame(
            [("https://src.example.org/page/1", html)], "url string, html string"
        )
        got = sorted(r["dst_url"] for r in page_links(df).collect())
        assert got == sorted([
            "https://other.org/x",
            "HTTP://CASED.ORG/Y",
            "https://src.example.org/rel/path",
            "https://proto.org/p",
            "https://attr.org/a",
        ])

    def test_host_edges_drop_self_and_weight(self, spark):
        from kgkit.operators.linkgraph import host_edges

        links = spark.createDataFrame(
            [
                ("https://a.org/1", "https://b.org/x"),
                ("https://a.org/2", "https://b.org/y"),
                ("https://a.org/3", "https://A.ORG/self"),
                ("https://b.org/1", "https://a.org/z"),
            ],
            "src_url string, dst_url string",
        )
        got = {(r["src"], r["dst"]): r["weight"]
               for r in host_edges(links).collect()}
        assert got == {("a.org", "b.org"): 2, ("b.org", "a.org"): 1}


class TestPagerank:
    def _run(self, spark, edges, **kw):
        from kgkit.operators.linkgraph import pagerank

        df = spark.createDataFrame(edges, "src string, dst string, weight long")
        got = {r["node"]: r["rank_q"] for r in pagerank(df, **kw).collect()}
        return got

    def test_matches_python_twin_exactly(self, spark):
        edges = [
            ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
            ("c", "a", 1), ("d", "a", 5), ("d", "c", 2),
        ]
        assert self._run(spark, edges) == _pagerank_twin(edges)

    def test_dangling_and_weighted_skew(self, spark):
        # z has no out-links (dangling: damped mass leaks, both sides
        # agree); hub receives wildly skewed weights
        edges = [
            ("a", "hub", 100), ("b", "hub", 1), ("c", "hub", 7),
            ("hub", "z", 1), ("a", "b", 1),
        ]
        got = self._run(spark, edges, iters=7)
        twin = _pagerank_twin(edges, iters=7)
        assert got == twin
        # hub out-ranks its own sources; z (hub's sole target, fed the
        # whole damped hub mass each round) tops even hub
        assert got["hub"] > max(got["a"], got["b"], got["c"])
        assert got["z"] > got["hub"]

    def test_mass_bounded_by_grid(self, spark):
        edges = [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)]
        got = self._run(spark, edges)
        # a cycle has no dangling leak: only floor losses, < 1 grid
        # unit per integer division per node per round
        assert Q - 3 * 3 * 6 <= sum(got.values()) <= Q

    def test_fixture_formula_end_to_end(self, spark):
        """host_authority over a mini WARC fixture == twin over the
        planted anchor formula (the oracle's own reconstruction)."""
        from kgkit.operators.linkgraph import host_authority
        from kgkit.sources.warc import read_warc, synth_warc_fixture

        glob = synth_warc_fixture(
            spark, "/root/testdata/sf0.001", out_dir="/tmp/kgkit_lg_fix"
        )
        pages = (
            read_warc(spark, glob)
            .filter((F.col("warc_type") == "response")
                    & (F.col("mime") == "text/html")
                    & F.col("http_status").between(200, 299))
            .select("url", F.col("payload").cast("string").alias("html"))
        )
        got = {r["host"]: (r["rank_q"], r["out_w"], r["in_w"])
               for r in host_authority(pages).collect()}

        docs = [r["doc_id"] for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").select("doc_id").collect()]
        n = len(docs)
        ew: dict = {}
        for i in docs:
            for j in ((7 * i + 1) % n, (13 * i + 5) % n):
                s, d = f"w{i % 8}.example.org", f"w{j % 8}.example.org"
                if s != d:
                    ew[(s, d)] = ew.get((s, d), 0) + 1
        edges = [(s, d, w) for (s, d), w in ew.items()]
        twin = _pagerank_twin(edges)
        out_w: dict = {}
        in_w: dict = {}
        for s, d, w in edges:
            out_w[s] = out_w.get(s, 0) + w
            in_w[d] = in_w.get(d, 0) + w
        assert got == {
            v: (twin[v], out_w.get(v, 0), in_w.get(v, 0)) for v in twin
        }

    def test_entity_authority_over_relation_graph(self, spark):
        """entity_authority == twin over the pair-collapsed edges:
        predicate surfaces merge into one weighted edge, self-loops
        drop, and the recurrence is the same BIGINT grid."""
        from kgkit.operators.relations import entity_authority

        rel = spark.createDataFrame(
            [
                ("Q1", "is a", "Q2", 3), ("Q1", "powers the", "Q2", 2),
                ("Q2", "uses", "Q3", 4), ("Q3", "and the", "Q1", 1),
                ("Q4", "has a", "Q1", 5), ("Q2", "big", "Q2", 9),
            ],
            "subj string, pred string, obj string, n long",
        )
        got = {r["node"]: r["rank_q"]
               for r in entity_authority(rel).collect()}
        # surfaces collapse: Q1->Q2 weight 5; the Q2->Q2 self-loop is
        # dropped entirely (it must not appear as a node either)
        edges = [("Q1", "Q2", 5), ("Q2", "Q3", 4), ("Q3", "Q1", 1),
                 ("Q4", "Q1", 5)]
        assert got == _pagerank_twin(edges)

    def test_resolution_differential_fuzz(self, spark):
        """Batched differential: page_links' JVM resolution rules vs a
        pure-python twin over ~400 generated (src, href) shapes — one
        Spark job, per-row comparison (a per-example Spark call would
        be pathologically slow under hypothesis)."""
        from urllib.parse import urlsplit

        from kgkit.operators.linkgraph import page_links

        srcs = [
            "https://a.example.org/x/y",
            "http://UPPER.Host:8080/p",
            "https://user:pw@sec.org/q?k=v",
            "http://plain.com",
        ]
        hrefs = [
            "https://abs.org/p", "HTTPS://abs.org/P", "http://abs.org",
            "//cdn.org/lib.js", "//cdn.org", "/", "/root", "/a/b?c=d#e",
            "relative/path", "../up", "mailto:a@b.c", "javascript:x()",
            "#frag", "", "ftp://files.org/f", "https//typo.org",
            "  /spaces", "/ok#frag", "//",
        ]

        def twin(src, href):
            if href.lower().startswith(("https://", "http://")):
                return href
            parts = urlsplit(src)
            scheme = (parts.scheme or "").lower()
            host = (parts.hostname or "").lower()
            if href.startswith("//"):
                return f"{scheme}:{href}"
            if href.startswith("/"):
                return f"{scheme}://{host}{href}"
            return None

        # unique subdomain per case so src_url is a join key (the twin
        # parses the same mutated string, so expectations stay aligned)
        cases = [
            (s.replace("://", f"://c{i}."), h)
            for i, (s, h) in enumerate(
                (s, h) for s in srcs for h in hrefs
            )
        ]
        html = [
            (i, s, f'<p>x</p><a href="{h}">t</a>')
            for i, (s, h) in enumerate(cases)
        ]
        df = spark.createDataFrame(html, "i long, url string, html string")
        got = {}
        for r in page_links(df, "url", "html").join(
            df.select("i", F.col("url").alias("src_url")), "src_url"
        ).collect():
            got.setdefault(r["i"], []).append(r["dst_url"])
        for i, (s, h) in enumerate(cases):
            want = twin(s, h)
            if '"' in h:
                continue  # quote inside the attribute — not generated
            if want is None:
                assert i not in got, (s, h, got.get(i))
            else:
                assert got.get(i) == [want], (s, h, want, got.get(i))

    def test_anchors_invisible_to_text_extraction(self, spark):
        """The planted anchors must not perturb warc_pages' visible
        text (the warc_pages oracle stays byte-exact)."""
        from kgkit.sources.warc import html_text_col

        df = spark.createDataFrame(
            [(
                '<html><body><p>hello world</p>'
                '<a href="https://x.org/1"></a><a href="/d/2"></a>'
                "<!-- nav --></body></html>",
            )],
            "html string",
        )
        assert df.select(
            html_text_col(F.col("html")).alias("t")
        ).first()["t"] == "hello world"


class TestAnchorAliases:
    def test_extraction_and_normalization(self, spark):
        from kgkit.operators.linkgraph import anchor_texts

        html = (
            '<a href="https://t.org/a"> <b>Spark</b> &amp; SQL </a>'
            '<a href="/b">Nested <i>emphasis</i>here</a>'
            '<a href="https://t.org/c"></a>'  # empty: link-graph only
            '<a href="mailto:x@y">mailed</a>'  # unresolvable: dropped
        )
        df = spark.createDataFrame(
            [("https://src.org/p", html)], "url string, html string"
        )
        got = {(r["dst_url"], r["anchor"])
               for r in anchor_texts(df).collect()}
        assert got == {
            ("https://t.org/a", "spark & sql"),
            ("https://src.org/b", "nested emphasis here"),
        }

    def test_alias_counts_aggregate(self, spark):
        from kgkit.operators.linkgraph import alias_counts

        anchors = spark.createDataFrame(
            [("s1", "https://t.org/a", "alpha"),
             ("s2", "https://t.org/a", "alpha"),
             ("s3", "https://t.org/a", "beta"),
             ("s4", "https://t.org/b", "alpha")],
            "src_url string, dst_url string, anchor string",
        )
        got = {(r["dst_url"], r["alias"]): r["n_refs"]
               for r in alias_counts(anchors).collect()}
        assert got == {
            ("https://t.org/a", "alpha"): 2,
            ("https://t.org/a", "beta"): 1,
            ("https://t.org/b", "alpha"): 1,
        }

    def test_fixture_formula_twin(self, spark):
        """alias_counts over with_anchor_html == the oracle's formula,
        recomputed in python for a slice of docs."""
        from kgkit.operators.linkgraph import (
            alias_counts, anchor_texts, with_anchor_html,
        )

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(60)
        )
        got = {(r["dst_url"], r["alias"]): r["n_refs"]
               for r in alias_counts(
                   anchor_texts(with_anchor_html(docs))).collect()}
        want: dict = {}
        for r in docs.collect():
            i = r["doc_id"]
            j1, j2 = (7 * i + 1) % 997, (3 * i + 2) % 997
            k1 = (f"https://w{j1 % 8}.example.org/d/{j1}",
                  f"entity {j1 % 40}")
            k2 = (f"https://w{i % 8}.example.org/d/{j2}",
                  f"entity {j2 % 40} & news")
            for k in (k1, k2):
                want[k] = want.get(k, 0) + 1
        assert got == want


class TestAuthorityWeightedMixing:
    def test_rank_tiers_drive_mixture_sample(self, spark):
        """The 100-TB curation composition, pinned end to end: host
        authority (PageRank over the WARC fixture's planted graph) ->
        per-host quality tier -> deterministic per-tier mixture
        sampling of the page corpus.  All existing operators; the test
        pins that the tiers derive from the rank order and that the
        sample is reproducible and tier-monotone."""
        from kgkit.operators.linkgraph import host_authority
        from kgkit.operators.sampling import mixture_sample
        from kgkit.sources.warc import (
            read_warc,
            synth_warc_fixture,
            warc_pages,
        )

        glob = synth_warc_fixture(
            spark, "/root/testdata/sf0.001", out_dir="/tmp/kgkit_mix_fix"
        )
        raw = (
            read_warc(spark, glob)
            .filter((F.col("warc_type") == "response")
                    & (F.col("mime") == "text/html")
                    & F.col("http_status").between(200, 299))
            .select("url", F.col("payload").cast("string").alias("html"))
        )
        auth = host_authority(raw).localCheckpoint()  # fan-out: 2 users
        # top half of hosts by rank = head tier (deterministic:
        # percent_rank over the 8 fixture hosts)
        from pyspark.sql import Window

        tiers = auth.select(
            "host",
            F.when(
                F.percent_rank().over(
                    Window.orderBy(F.col("rank_q").desc(), "host")
                ) < 0.5,
                F.lit("head"),
            ).otherwise(F.lit("tail")).alias("tier"),
        )
        pages = warc_pages(spark, glob).select(
            F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
            .alias("host"),
            F.xxhash64("url").alias("doc_id"),
        )
        mixed = pages.join(F.broadcast(tiers), "host")
        out1 = mixture_sample(mixed, {"head": 0.8, "tail": 0.2}, "tier")
        out2 = mixture_sample(mixed, {"head": 0.8, "tail": 0.2}, "tier")
        r1 = sorted((r["doc_id"], r["replica"]) for r in out1.collect())
        assert r1 == sorted(
            (r["doc_id"], r["replica"]) for r in out2.collect()
        )  # bit-reproducible
        kept = out1.groupBy("tier").count().collect()
        n_by_tier = {r["tier"]: r["count"] for r in kept}
        tot = {r["tier"]: r["count"]
               for r in mixed.groupBy("tier").count().collect()}
        # authority-weighted: the head tier keeps a larger share
        assert n_by_tier["head"] / tot["head"] > n_by_tier["tail"] / tot["tail"]


class TestPagerankLocalPath:
    """The small-graph local path must return bit-identical ranks to
    the distributed recurrence (non-negative BIGINT div == //)."""

    def test_local_equals_distributed(self, spark):
        from kgkit.operators.linkgraph import pagerank

        edges = spark.createDataFrame(
            [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1),
             ("d", "a", 5)],
            "src string, dst string, weight long",
        )
        local = {tuple(r) for r in pagerank(edges).collect()}
        dist = {tuple(r) for r in
                pagerank(edges, local_threshold=0).collect()}
        assert local == dist

    def test_empty_graph(self, spark):
        from kgkit.operators.linkgraph import pagerank

        edges = spark.createDataFrame(
            [], "src string, dst string, weight long")
        assert pagerank(edges).collect() == []
