"""The prediction-file sink (SURVEY §2.2 K3): Model.predict_on_file
(nerblackbox api/model.py:282-307), distributed.

Predictions are written in the reference's standard JSONL shape —
{"text", "tags": [{char_start, char_end, token, tag}]}
(data_preprocessor.py:318-345) — built with ``struct`` /
``collect_list`` column expressions, no UDFs, so the sink runs at any
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TAG_STRUCT = T.StructType([
    T.StructField("char_start", T.IntegerType()),
    T.StructField("char_end", T.IntegerType()),
    T.StructField("token", T.StringType()),
    T.StructField("tag", T.StringType()),
])


def write_predictions_jsonl(pages: DataFrame, mentions: DataFrame, path: str) -> None:
    """K3 prediction-file sink (Model.predict_on_file, api/model.py:282-307):
    one {"text", "tags": [predictions]} line per page; pages with no
    mentions get an empty tags array."""
    tags = (
        mentions.groupBy("url")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("char_start").cast("int").alias("char_start"),
                        F.col("char_end").cast("int").alias("char_end"),
                        F.col("surface").alias("token"),
                        F.col("tag").alias("tag"),
                    )
                )
            ).alias("tags")
        )
    )
    (
        pages.select("url", "text")
        .join(tags, "url", "left")
        .select(
            "text",
            F.coalesce("tags", F.array().cast(T.ArrayType(TAG_STRUCT))).alias("tags"),
        )
        .write.mode("overwrite")
        .json(path)
    )


def predict_on_file(
    spark, input_file: str, output_file: str, model: str = "gazetteer"
) -> None:
    """Model.predict_on_file (api/model.py:282-307), distributed: JSONL
    of {"text": ...} lines in, {"text", "tags": [predictions]} lines
    out — the reference's per-line driver loop becomes read -> one
    Arrow-UDF prediction pass -> grouped sink, so a 100 TB input is a
    partitioned scan instead of a python for-loop over open()."""
    from kgkit.operators.mentions import detect_mentions

    pages = (
        spark.read.json(input_file, schema="text string")
        .select(
            F.concat(F.lit("line://"),
                     (F.monotonically_increasing_id()).cast("string"))
            .alias("url"),
            "text",
        )
    )
    write_predictions_jsonl(pages, detect_mentions(pages, model=model),
                            output_file)
