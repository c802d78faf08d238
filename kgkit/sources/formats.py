"""Annotated-corpus formats: pretokenized CSV and standard JSONL, plus
the prediction-file sink.

Reference parity (SURVEY §2.1 S1/S2, §2.2 K1/K2):
  * pretokenized CSV  — headerless ``tags \\t text``
    (nerblackbox csv_reader.py:105-122, base_formatter.py:215-236)
  * standard JSONL    — {"text", "tags": [{char_start, char_end, token,
    tag}]} (data_preprocessor.py:318-345)

The converters are column expressions over nested arrays — ``struct``
/ ``collect_list`` — no UDFs, so they run at any scale.
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

JSONL_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("tags", T.ArrayType(TAG_STRUCT)),
])


# ---------------------------------------------------------------------------
# S1/K1 — pretokenized CSV (tags \t text, headerless)
# ---------------------------------------------------------------------------

def read_pretokenized_csv(spark, path: str) -> DataFrame:
    return (
        spark.read.csv(path, sep="\t", header=False,
                       schema="tags string, text string")
    )


def write_pretokenized_csv(df: DataFrame, path: str) -> None:
    df.select("tags", "text").write.mode("overwrite").csv(path, sep="\t")


# ---------------------------------------------------------------------------
# S2/K2 — standard JSONL
# ---------------------------------------------------------------------------

def read_standard_jsonl(spark, path: str) -> DataFrame:
    return spark.read.json(path, schema=JSONL_SCHEMA)


def write_standard_jsonl(df: DataFrame, path: str) -> None:
    df.select("text", "tags").write.mode("overwrite").json(path)


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
