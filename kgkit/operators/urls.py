"""URL canonicalization + crawl-politeness operators (crawl hygiene).

A recrawl pipeline over web pages dedups URL variants before it dedups
content: scheme/host case, default ports, fragments, tracking
parameters, and query-parameter order all produce distinct strings for
the same resource.  ``canonical_url_col`` normalizes all of that as ONE
JVM-side column expression (parse_url + regexp + sort_array — no
python in the hot path, codegen-friendly at any scale); the pure-python
twin ``canonicalize_url`` is the unit-testable spec.

``RobotsRules`` parses robots.txt bodies (the subset every crawler
implements: User-agent groups, Allow/Disallow with longest-match
precedence, '*' wildcards, '$' anchors) into the host rule table that
``robots_apply`` evaluates over a url column; it works on bodies
already fetched (kgkit fetches nothing, like S5).

These are registry-slot-free by design: the driver's correctness gate
caps at 50 queries (kgkit/queries.py), so this family is pinned by
unit + Spark-fixture tests (tests/test_urls.py) with the python spec
as the oracle.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple
from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

# query parameters that never change the resource (tracking/session)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "mc_eid", "ref", "sessionid", "phpsessid",
)
_TRACKING_RE = "|".join(TRACKING_PARAMS)


# ---------------------------------------------------------------------------
# pure-python spec (the unit-test oracle)
# ---------------------------------------------------------------------------

def canonicalize_url(url: str) -> Optional[str]:
    """Canonical form: lowercase scheme+host, default port stripped,
    fragment dropped, tracking params dropped, remaining query params
    sorted, empty path -> '/'.  Returns None for non-http(s) URLs."""
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    try:
        # .port raises ValueError for non-numeric / out-of-range ports
        # ('http://h:abc/', 'http://h:99999/') — the JVM twin yields
        # NULL for those, so the spec must return None, not raise
        port = parts.port
    except ValueError:
        return None
    default = {"http": 80, "https": 443}[scheme]
    netloc = host if port in (None, default) else f"{host}:{port}"
    path = parts.path or "/"
    params = [
        p for p in parts.query.split("&")
        if p and p.split("=")[0].lower() not in TRACKING_PARAMS
    ]
    query = "&".join(sorted(params))
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


# ---------------------------------------------------------------------------
# JVM-side column expression (the scale path)
# ---------------------------------------------------------------------------

def canonical_url_col(url: Column) -> Column:
    """``canonicalize_url`` as one codegen'd column expression.

    Whole-stage-codegen friendly: parse_url/regexp/sort_array only, no
    UDF — at 100 TB this runs inside the scan projection.  NULL for
    non-http(s) inputs, matching the python spec."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # try_parse_url: ANSI-mode parse_url THROWS on malformed input;
    # the try_ variant yields NULL, which the final when() maps to the
    # python spec's None
    hostport = F.lower(F.try_parse_url(u, F.lit("HOST")))
    # parse_url(HOST) keeps no port; pull it separately (the optional
    # userinfo@ group keeps the match anchored on the REAL host — a
    # user:pass@ prefix must not eat the authority before the port)
    port = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/@:?#]*:(\d+)", 1)
    # compare and emit the port NUMERICALLY: the python spec goes
    # through urlsplit().port (an int), so ':080' is the default port
    # and ':08080' canonicalizes to ':8080' — a string comparison would
    # silently split dedup groups between the two engines
    port_n = port.try_cast("bigint")
    default_port = F.when(scheme == "http", F.lit(80)).otherwise(F.lit(443))
    netloc = F.when(
        (port == "") | (port_n == default_port), hostport
    ).otherwise(F.concat(hostport, F.lit(":"), port_n.cast("string")))
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when((path.isNull()) | (path == ""), F.lit("/")).otherwise(path)
    rawq = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(rawq, "&"),
                lambda p: (p != "") & ~F.lower(p).rlike(
                    f"^({_TRACKING_RE})(=|$)"
                ),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme, F.lit("://"), netloc, path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    # out-of-range ports (e.g. :99999) are invalid URLs: the python
    # spec's urlsplit().port rejects them, so the column must too
    port_ok = (port == "") | (port_n <= F.lit(65535))
    return F.when(
        scheme.isin("http", "https")
        & hostport.isNotNull() & (hostport != "") & port_ok,
        canon,
    )


def url_dedup_keys(df, url_col: str = "url"):
    """(canonical_url, n_variants, variants) — the URL-level dedup pass
    a recrawl runs before content dedup.  One groupBy on the canonical
    key (map-side combine; no skew beyond genuinely popular resources)."""
    return (
        df.select(canonical_url_col(F.col(url_col)).alias("canonical_url"),
                  F.col(url_col))
        .filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.sort_array(F.collect_set(url_col)).alias("variants"),
        )
    )


# ---------------------------------------------------------------------------
# robots.txt (politeness rules over fetched bodies)
# ---------------------------------------------------------------------------

class RobotsRules:
    """Parsed robots.txt for one user-agent: Allow/Disallow with the
    standard longest-match precedence (Allow wins ties), '*' wildcards
    and '$' end anchors (the Google/RFC 9309 semantics)."""

    def __init__(self, body: str, user_agent: str = "*"):
        self.rules: List[Tuple[bool, str]] = []  # (allow, pattern)
        ua = user_agent.lower()
        groups: List[Tuple[List[str], List[Tuple[bool, str]]]] = []
        agents: List[str] = []
        rules: List[Tuple[bool, str]] = []
        saw_rule = False
        for raw in body.splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            field, _, value = line.partition(":")
            field = field.strip().lower()
            value = value.strip()
            if field == "user-agent":
                if saw_rule:
                    groups.append((agents, rules))
                    agents, rules, saw_rule = [], [], False
                agents.append(value.lower())
            elif field in ("allow", "disallow") and value != "":
                rules.append((field == "allow", value))
                saw_rule = True
            elif field == "disallow" and value == "":
                saw_rule = True  # empty Disallow: allow all (no rule)
        groups.append((agents, rules))
        # most specific agent group wins; fall back to '*'
        best_len = -1
        for ags, rs in groups:
            for a in ags:
                if a == "*" and best_len < 0:
                    self.rules = rs
                elif a != "*" and a in ua and len(a) > best_len:
                    best_len = len(a)
                    self.rules = rs

    @staticmethod
    def _pattern_to_re(pat: str) -> str:
        anchored = pat.endswith("$")
        if anchored:
            pat = pat[:-1]
        rx = re.escape(pat).replace(r"\*", ".*")
        return "^" + rx + ("$" if anchored else "")

    def allowed(self, path: str) -> bool:
        best: Tuple[int, bool] = (-1, True)  # (match length, allow)
        for allow, pat in self.rules:
            if re.match(self._pattern_to_re(pat), path):
                # longest pattern wins; Allow wins exact ties
                key = (len(pat), allow)
                if key[0] > best[0] or (key[0] == best[0] and allow):
                    best = key
        return best[1]


def robots_rules_df(spark, robots_bodies: Dict[str, str],
                    user_agent: str = "*"):
    """{host: robots.txt body} -> (host, allow, plen, rx) rule table.

    Parsing runs driver-side (one robots.txt per HOST — the table is
    host-count sized, broadcastable by construction); each pattern is
    compiled to an anchored regex string once here so the distributed
    evaluation below is a pure JVM ``regexp_like``, no python per row."""
    rows = []
    for host, body in sorted(robots_bodies.items()):
        for allow, pat in RobotsRules(body, user_agent).rules:
            rows.append((host.lower(), bool(allow), len(pat),
                         RobotsRules._pattern_to_re(pat)))
    return spark.createDataFrame(
        rows, "host string, allow boolean, plen int, rx string"
    )


def robots_apply(urls_df, rules_df, url_col: str = "url",
                 id_col: str = "doc_id"):
    """Add an ``allowed`` boolean column: RFC 9309 longest-match
    (Allow wins exact ties) of each URL's path against its host's
    rules; hosts with no rules (or unparseable URLs) default to
    allowed.

    Scale shape: broadcast the rule table (host-count sized), fan out
    urls x matching-host rules map-side, then ONE window over the
    unique ``id_col`` picks the longest match — no skewed key (the
    window key is the unique row id; fan-out is bounded by rules per
    host), no join-back, the url stream shuffles once."""
    from pyspark.sql import Window

    u = F.col(url_col)
    host = F.lower(F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1))
    path0 = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    # underscore-rename the rule columns BEFORE the join: the cleanup
    # drop below must never eat caller-owned columns that happen to be
    # named host/allow/plen/rx (host is a natural column in this
    # codebase — the boilerplate and link-graph families key on it)
    rules = rules_df.select(
        F.col("host").alias("_rhost"),
        F.col("allow").alias("_allow"),
        F.col("plen").alias("_plen"),
        F.col("rx").alias("_rx"),
    )
    fanned = (
        urls_df.withColumn("_host", host)
        .withColumn("_path", path)
        .join(F.broadcast(rules), F.col("_host") == F.col("_rhost"),
              "left")
        .withColumn(
            "_hit",
            F.when(F.expr("regexp_like(_path, _rx)"),
                   F.struct(F.col("_plen").alias("plen"),
                            F.col("_allow").alias("allow"))),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_hit").isNotNull().desc(),
        F.col("_plen").desc_nulls_last(),
        F.col("_allow").desc_nulls_last(),
    )
    return (
        fanned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn(
            "allowed", F.coalesce(F.col("_hit.allow"), F.lit(True))
        )
        .drop("_host", "_path", "_hit", "_rn",
              "_rhost", "_allow", "_plen", "_rx")
    )


# ---------------------------------------------------------------------------
# deterministic fixtures (oracle-replayable arithmetic)
# ---------------------------------------------------------------------------

def with_messy_urls(docs):
    """(doc_id, ...) -> + url: deterministic messy-variant URLs.

    Resource id = doc_id div 2 (consecutive ids share a canonical
    resource), variant form cycles by doc_id % 4 — covering scheme/host
    case, default port, tracking params, unsorted query params; every
    20th+1 doc gets a schemeless junk string (canonicalizes to NULL).
    The SAME arithmetic is replayed by kgkit.oracles in SQL."""
    rid = F.expr("doc_id div 2")
    base = F.concat(F.lit("http://site.example.com/r/"), rid)
    upper = F.concat(F.lit("HTTP://Site.Example.COM:80/r/"), rid,
                     F.lit("?utm_source=feed"))
    url = (
        F.when(F.col("doc_id") % 20 == 1, F.lit("notaurl"))
        .when(F.col("doc_id") % 4 == 0, base)
        .when(F.col("doc_id") % 4 == 1, upper)
        .when(F.col("doc_id") % 4 == 2, F.concat(base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(base, F.lit("?a=1&b=2&fbclid=x9")))
    )
    return docs.withColumn("url", url)


# one robots.txt per fixture host; h1 is deny-all-except-docs, h3 has
# no robots at all (default allowed), the rest share the standard mix
# of prefix rules, a longest-match Allow override, a wildcard and an
# anchored extension rule
SYNTH_ROBOTS = {
    "h0.example.net": (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
        "Disallow: /*.pdf$\nDisallow: /tmp/*\n"
    ),
    "h1.example.net": "User-agent: *\nDisallow: /\nAllow: /docs/\n",
    "h2.example.net": (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
        "Disallow: /*.pdf$\nDisallow: /tmp/*\n"
    ),
    "h4.example.net": (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
        "Disallow: /*.pdf$\nDisallow: /tmp/*\n"
    ),
}


def with_crawl_urls(docs):
    """(doc_id, ...) -> + url over 5 hosts x 7 path families, chosen to
    exercise every SYNTH_ROBOTS rule (prefix deny, longest-match allow,
    wildcard, anchored $, deny-all host, robots-less host)."""
    host = F.concat(F.lit("https://h"), F.col("doc_id") % 5,
                    F.lit(".example.net"))
    path = (
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("/public/a"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 1,
              F.concat(F.lit("/private/x"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 2,
              F.concat(F.lit("/private/ok"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 3,
              F.concat(F.lit("/files/r"), F.col("doc_id"), F.lit(".pdf")))
        .when(F.col("doc_id") % 7 == 4,
              F.concat(F.lit("/tmp/cache/"), F.col("doc_id")))
        .when(F.col("doc_id") % 7 == 5, F.lit("/"))
        .otherwise(F.concat(F.lit("/docs/guide"), F.col("doc_id")))
    )
    return docs.withColumn("url", F.concat(host, path))


def robots_rules_values_sql(user_agent: str = "*") -> str:
    """SYNTH_ROBOTS as a DuckDB VALUES literal (host, allow, plen, rx) —
    generated from the SAME parser + pattern compiler the Spark rule
    table uses, so both engines evaluate identical regexes."""
    rows = []
    for host, body in sorted(SYNTH_ROBOTS.items()):
        for allow, pat in RobotsRules(body, user_agent).rules:
            rx = RobotsRules._pattern_to_re(pat).replace("'", "''")
            rows.append(
                f"('{host}', {'TRUE' if allow else 'FALSE'}, {len(pat)}, '{rx}')"
            )
    return "(VALUES " + ", ".join(rows) + ")"
