"""Round-2 ingestion operators: S4 HF layouts."""

from __future__ import annotations

from kgkit.sources.hf_datasets import (
    ENT_CLASS_LABELS,
    ingest_charspan,
    ingest_pretokenized,
)


class TestHfIngestUnits:
    def test_charspan_normalization_ehealth_example(self, spark):
        """The reference docstring's ehealth_kd case
        (huggingface_datasets_formatter.py:321-348): document offset 95
        for 'mayoría' in 'La mayoría de ...' normalizes to 3."""
        ds = spark.createDataFrame(
            [("s1", "La mayoría de nada",
              [("mayoría", 1, 95, 102),
               ("uno días", 0, 64170, 64183),   # disconnected: len 8 != 13
               ("nada", 2, 106, 110)])],
            "sentence_id string, sentence string, entities array<struct<"
            "ent_text string, ent_label int, start_character long, "
            "end_character long>>",
        )
        rows = {r["token"]: r for r in ingest_charspan(ds).collect()}
        assert set(rows) == {"mayoría", "nada"}  # disconnected dropped
        assert (rows["mayoría"]["char_start"], rows["mayoría"]["char_end"]) == (3, 10)
        assert rows["mayoría"]["tag"] == ENT_CLASS_LABELS[1]
        assert (rows["nada"]["char_start"], rows["nada"]["char_end"]) == (14, 18)
        # byte identity after normalization
        assert "La mayoría de nada"[3:10] == "mayoría"
        assert "La mayoría de nada"[14:18] == "nada"

    def test_charspan_empty_entities_no_rows(self, spark):
        ds = spark.createDataFrame(
            [("s1", "nothing here", [])],
            "sentence_id string, sentence string, entities array<struct<"
            "ent_text string, ent_label int, start_character long, "
            "end_character long>>",
        )
        assert ingest_charspan(ds).count() == 0

    def test_pretokenized_classlabel_decode(self, spark):
        ds = spark.createDataFrame(
            [("s1", ["spark", "is", "fast"], [5, 0, 0])],
            "sentence_id string, tokens array<string>, ner_tags array<int>",
        )
        got = [(r["pos"], r["token"], r["tag"])
               for r in ingest_pretokenized(ds).orderBy("pos").collect()]
        assert got == [(0, "spark", "I-OP"), (1, "is", "O"), (2, "fast", "O")]
