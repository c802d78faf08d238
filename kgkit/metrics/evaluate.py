"""Model.evaluate_on_dataset lifecycle on Spark (SURVEY §3.2;
reference api/model.py:617-968).

    dataset (pretokenized CSV / standard JSONL / pages table)
      -> word-level prediction (stage-1 Arrow UDF, is_pretokenized path)
      -> flatten ground truth + predictions to one token stream
      -> kgkit.metrics.ner_metrics -> EVALUATION_DICT

One UDF pass + one confusion aggregation + one chunk join — the
reference's per-subset loops collapse into the fan-out assembly."""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgkit.functions.records import explode_records
from kgkit.metrics.ner_metrics import evaluation_dict


def _pred_word_tags(ds: DataFrame) -> DataFrame:
    """(seq_id, text) -> (seq_id, pos, pred) via the deterministic
    word-level predictor (is_pretokenized=True, api/model.py:833-835)."""

    def make():
        from kgkit.ner_core import predict
        from kgkit.ner_core.tagger import default_gazetteer
        from kgkit.ner_core.wordpiece import default_tokenizer

        tok, tag = default_tokenizer(), default_gazetteer()

        def compute(texts):
            results = predict(
                texts, level="word", is_pretokenized=True,
                tokenizer=tok, tagger=tag,
            )
            return [[(r["tag"],) for r in records] for records in results]

        return compute

    return explode_records(
        ds, ["seq_id"], "text", "seq_id string, pos long, pred string", make
    )


def token_stream_from_csv(ds: DataFrame) -> DataFrame:
    """(tags, text) pretokenized rows -> (seq_id, pos, true, pred).

    Every input row is scored — duplicated examples each contribute,
    exactly like the reference's _evaluate_on_csv (api/model.py:784-861)
    which iterates the full dataframe.  seq_id = content hash + a
    per-duplicate index; rows inside a duplicate group are byte-identical
    so the (nondeterministic) index assignment within the group cannot
    change any (seq_id, tags, text) tuple."""
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("|", "tags", "text"))
    dup_idx = F.row_number().over(Window.partitionBy(h).orderBy(F.lit(1)))
    with_id = ds.select(
        F.concat(h, F.lit("#"), dup_idx.cast("string")).alias("seq_id"),
        "tags", "text",
    )
    truth = with_id.select(
        "seq_id",
        F.posexplode(F.split("tags", " ")).alias("pos", "true"),
    ).withColumn("pos", F.col("pos").cast("long"))
    preds = _pred_word_tags(with_id)
    return truth.join(preds, ["seq_id", "pos"], "inner")


def evaluate_on_dataset(
    ds: DataFrame,
    scheme: str = "bio",
    classes: Optional[List[str]] = None,
    derived_from_jsonl: bool = False,
) -> Dict[str, Dict[str, Dict[str, float]]]:
    """Pretokenized-CSV-shaped DataFrame (tags, text) -> EVALUATION_DICT.

    JSONL datasets are first pretokenized to this shape by the caller
    (the reference converts jsonl -> csv the same way,
    api/model.py:743-782)."""
    stream = token_stream_from_csv(ds)
    return evaluation_dict(stream, scheme=scheme, classes=classes)
