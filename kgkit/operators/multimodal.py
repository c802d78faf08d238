"""Multimodal column handling: opaque binary media + typed metadata.

A web-scale training-data pipeline carries image/audio/video payloads as
opaque BINARY columns next to typed metadata, decoding only at the point
of use.  In the pages table the ``html`` column plays that role
(input_hint: html BINARY).  ``media_metadata`` derives the typed
metadata with native expressions alone — no UDF, no decode — for the
``media_stats`` registry query.  kgkit depends on no image or audio
codec, so no operator decodes pixels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def media_metadata(pages: DataFrame) -> DataFrame:
    """Typed metadata over the opaque binary column — pure native
    expressions, no UDF, no decode: (url, media_type, n_bytes, digest)."""
    return pages.select(
        "url",
        F.lit("text/html").alias("media_type"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("digest"),
    )
