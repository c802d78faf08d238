"""WARC source — the native file format of web crawls (ISO 28500).

A webtext pipeline's upstream is Common-Crawl-style WARC: concatenated
records, each a WARC header block (CRLF-separated ``Name: value``
lines), a blank line, ``Content-Length`` bytes of payload, and a
trailing blank pair.  For ``response`` records the payload is the raw
HTTP response (status line + headers + body).

Spark mapping: one WARC file is one unsplittable unit (records have no
sync markers and production crawls gzip per-record members, so any
reader consumes a whole member stream) — exactly the shape
``binaryFile`` + ``mapInArrow`` handles.  Parallelism at 100 TB comes
from the CORPUS shape, not intra-file splits: a crawl is tens of
thousands of ~1 GB segment files, so the scan parallelizes file-per-task
with zero shuffle; ``spark.sql.files.maxPartitionBytes`` never has to
split a member.  The parse itself is bytes-in/rows-out python (Arrow
batched), the same budget class as the NER UDF.

HTML -> text extraction (``html_text_col``) is a JVM-side regexp
pipeline (drop script/style/comments, strip tags, unescape the common
entities, collapse whitespace): stays in the scan projection like the
URL canonicalizer, no python.

No fetching happens here (sandbox has no egress — S5); ``write_warc``
produces spec-shaped fixture files so the parser is exercised on real
record framing, including multi-record files and malformed members.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgkit.functions.records import explode_records

WARC_SCHEMA = (
    "path string, record_idx int, warc_type string, url string, "
    "warc_date string, http_status int, mime string, payload binary"
)


# ---------------------------------------------------------------------------
# fixture writer (pure python — the spec twin the parser is tested on)
# ---------------------------------------------------------------------------

def write_warc(records, path: str) -> None:
    """records: iterable of dicts with url, body (str/bytes), optional
    warc_type / status / mime / date.  Writes one spec-shaped WARC file."""
    out = bytearray()
    for i, r in enumerate(records):
        body = r["body"].encode("utf-8") if isinstance(r["body"], str) else r["body"]
        status = int(r.get("status", 200))
        mime = r.get("mime", "text/html")
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {mime}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii") + body
        date = r.get("date", datetime(2026, 1, 1, tzinfo=timezone.utc)
                     .strftime("%Y-%m-%dT%H:%M:%SZ"))
        header = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r.get('warc_type', 'response')}\r\n"
            f"WARC-Record-ID: <urn:uuid:fixture-{i}>\r\n"
            f"WARC-Date: {date}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode("ascii")
        out += header + http + b"\r\n\r\n"
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def fixture_anchors(i: int, n: int, shards: int = 8) -> str:
    """Deterministic outlinks for doc ``i`` of ``n``: two absolute
    cross-host anchors and one root-relative (same-host) anchor.  The
    formula is shared verbatim with the ``host_authority`` oracle
    (oracles.py), which rebuilds the expected host graph straight from
    ``documents``.  Anchors are EMPTY — they carry no visible text, so
    ``html_text_col`` output (and the byte-exact ``warc_pages``
    oracle) is unchanged."""
    j1 = (7 * i + 1) % n
    j2 = (13 * i + 5) % n
    j3 = (3 * i + 2) % n
    return (
        f'<a href="https://w{j1 % shards}.example.org/d/{j1}"></a>'
        f'<a href="https://w{j2 % shards}.example.org/d/{j2}"></a>'
        f'<a href="/d/{j3}"></a>'
    )


def synth_warc_fixture(spark: SparkSession, sf_dir: str,
                       out_dir: Optional[str] = None, shards: int = 8) -> str:
    """Deterministic WARC fixture derived from the documents table: one
    HTML response record per doc whose visible text is exactly
    ``doc {id} {text}`` (title + body; script/comment distractors are
    stripped) and whose body carries the ``fixture_anchors`` outlinks,
    sharded into ``shards`` segment files by doc_id % shards, plus a
    404 and a text/plain record every 50th doc (both filtered by
    ``warc_pages``).  Driver-side python by design — this WRITES the
    fixture the distributed reader is checked on; the oracle recomputes
    the expected pages straight from ``documents``.
    Returns the glob for ``read_warc``/``warc_pages``."""
    import os

    base = out_dir or os.path.join(
        "/tmp", "kgkit_warc_fixture", os.path.basename(sf_dir.rstrip("/"))
    )
    os.makedirs(base, exist_ok=True)
    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    segs: dict = {i: [] for i in range(shards)}
    for r in docs:
        i, t = r["doc_id"], r["text"]
        html = (
            f"<html><head><title>doc {i}</title><script>var a=1;</script>"
            f"</head><body><p>{t}</p>{fixture_anchors(i, len(docs), shards)}"
            f"<!-- nav --></body></html>"
        )
        recs = segs[i % shards]
        recs.append({"url": f"https://w{i % shards}.example.org/d/{i}",
                     "body": html})
        if i % 50 == 0:
            recs.append({"url": f"https://w{i % shards}.example.org/d/{i}",
                         "body": "gone", "status": 404})
            recs.append({"url": f"https://w{i % shards}.example.org/raw/{i}",
                         "body": f"plain {i}", "mime": "text/plain"})
    for s, recs in segs.items():
        write_warc(recs, os.path.join(base, f"seg{s}.warc"))
    return os.path.join(base, "*.warc")


# ---------------------------------------------------------------------------
# parser (bytes of one file -> records)
# ---------------------------------------------------------------------------

def parse_warc_bytes(data: bytes) -> List[dict]:
    """Parse one WARC member stream.  Malformed members (bad version
    line, missing/overrunning Content-Length) end the parse of that
    stream rather than raising — a crawl segment's tail truncation must
    not poison the whole batch; completed records are kept."""
    records: List[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        end_hdr = data.find(b"\r\n\r\n", pos)
        if end_hdr < 0:
            break
        header_block = data[pos:end_hdr].decode("utf-8", errors="replace")
        lines = header_block.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            break
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get("content-length", ""))
        except ValueError:
            break
        payload_start = end_hdr + 4
        if payload_start + length > n:
            break  # truncated tail
        payload = data[payload_start:payload_start + length]
        status, mime, body = _split_http(payload, fields.get("content-type", ""))
        records.append({
            "warc_type": fields.get("warc-type", ""),
            "url": fields.get("warc-target-uri", ""),
            "warc_date": fields.get("warc-date", ""),
            "http_status": status,
            "mime": mime,
            "payload": body,
        })
        pos = payload_start + length
    return records


def _split_http(payload: bytes, warc_content_type: str
                ) -> Tuple[Optional[int], str, bytes]:
    """response records carry an HTTP message: split status/headers
    from the body; other record types pass through whole."""
    if "msgtype=response" not in warc_content_type.replace(" ", ""):
        return None, warc_content_type, payload
    end = payload.find(b"\r\n\r\n")
    if end < 0 or not payload.startswith(b"HTTP/"):
        return None, "", payload
    head = payload[:end].decode("utf-8", errors="replace").split("\r\n")
    try:
        status = int(head[0].split(" ")[1])
    except (IndexError, ValueError):
        status = None
    mime = ""
    for line in head[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            mime = v.strip().split(";")[0].strip()
    return status, mime, payload[end + 4:]


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------

def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """path (glob of .warc files) -> one row per record.

    binaryFile scan (file-per-task — see module docstring for why WARC
    is unsplittable and why that is the right parallelism for a crawl
    corpus) -> Arrow-batched python parse."""
    return _records(spark.read.format("binaryFile").load(path))


_RECORD_FIELDS = ("warc_type", "url", "warc_date", "http_status", "mime",
                  "payload")


def _parse_members():
    """``explode_records`` factory (no worker singletons): the compute
    parses each file's bytes into record tuples in WARC_SCHEMA order."""
    return lambda contents: [
        [tuple(r[k] for k in _RECORD_FIELDS) for r in parse_warc_bytes(c)]
        for c in contents
    ]


def _records(files: DataFrame) -> DataFrame:
    """binaryFile rows -> WARC records, shared by the batch scan and the
    streaming source (mapInArrow runs identically on both)."""
    return explode_records(
        files, ["path"], "content", WARC_SCHEMA, _parse_members
    )


# binaryFile's fixed source schema — streaming file sources need it
# spelled out (no schema inference on readStream)
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming twin of read_warc: crawl segments become micro-batches
    as the crawler lands them (file source over the segment directory).
    Each segment file appears in exactly one micro-batch — the
    precondition the downstream incremental KG stream relies on."""
    return _records(
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


# ---------------------------------------------------------------------------
# HTML -> text (JVM-side, scan-projection class)
# ---------------------------------------------------------------------------

# '&amp;' must unescape LAST: doubly-escaped entities ('&amp;lt;',
# which renders as the literal text '&lt;') would otherwise be
# double-unescaped into '<', corrupting byte-identity-sensitive text
_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def html_text_col(html: Column) -> Column:
    """Visible text of an HTML column: drop script/style/comments,
    strip tags, unescape the common entities, collapse whitespace —
    all built-in string expressions (Spark regexp_replace is global).
    A boilerplate-quality extractor (readability scoring, DOM
    segmentation) is out of scope; this is the normalization tier the
    quality/dedup operators consume."""
    t = F.regexp_replace(html, r"(?is)<(script|style)\b[^>]*>.*?</\1>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, rep in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """The full ingestion shape: WARC records -> the (url, text) pages
    table the NER/dedup/quality pipelines consume.  Keeps 2xx HTML
    responses only; text extraction is JVM-side."""
    return pages_of_records(read_warc(spark, path))


def warc_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming twin of warc_pages — same record parse, same JVM
    projection, over read_warc_stream.  Feed this to
    streaming/kg_stream.py::IncrementalKGStream.attach for live
    crawl-to-KG construction."""
    return pages_of_records(
        read_warc_stream(spark, path, max_files_per_trigger)
    )


def pages_of_records(recs: DataFrame) -> DataFrame:
    """records -> (url, text), batch or streaming (stateless
    filter + projection)."""
    return (
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("http_status").between(200, 299)
            & (F.col("mime") == "text/html")
        )
        .select(
            "url",
            html_text_col(
                F.col("payload").cast("string")
            ).alias("text"),
        )
        .filter(F.length("text") > 0)
    )
