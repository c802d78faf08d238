"""The prediction-file sink: standard-JSONL round trip, and
Model.predict_on_file parity (K3)."""

from __future__ import annotations

import tempfile

SAMPLE = [
    {
        "text": "\n2020-05-20 John Doe pratar.",
        "tags": [
            {"char_start": 1, "char_end": 11, "token": "2020-05-20", "tag": "PI"},
            {"char_start": 12, "char_end": 20, "token": "John Doe", "tag": "PI"},
        ],
    },
    {"text": "inga taggar här", "tags": []},
    {
        "text": "spark kör join",
        "tags": [{"char_start": 10, "char_end": 14, "token": "join", "tag": "OP"}],
    },
]


class TestCsvJsonl:
    def test_jsonl_roundtrip(self, spark):
        """The sink writes the reference's standard JSONL shape: read
        back under that schema, every line is the page's text with its
        spans in offset order, and a page without spans keeps an empty
        tags array."""
        from pyspark.sql import types as T

        from kgkit.sources.formats import TAG_STRUCT, write_predictions_jsonl

        pages = spark.createDataFrame(
            [(f"doc://{i}", r["text"]) for i, r in enumerate(SAMPLE)],
            "url string, text string",
        )
        mentions = spark.createDataFrame(
            [(f"doc://{i}", t["char_start"], t["char_end"], t["token"], t["tag"])
             for i, r in enumerate(SAMPLE) for t in reversed(r["tags"])],
            "url string, char_start long, char_end long, surface string, "
            "tag string",
        )
        schema = T.StructType([
            T.StructField("text", T.StringType()),
            T.StructField("tags", T.ArrayType(TAG_STRUCT)),
        ])
        with tempfile.TemporaryDirectory() as d:
            write_predictions_jsonl(pages, mentions, f"{d}/out")
            back = spark.read.schema(schema).json(f"{d}/out")
            got = sorted(
                (r["text"], tuple(map(tuple, r["tags"])))
                for r in back.collect()
            )
        want = sorted(
            (r["text"], tuple(tuple(t.values()) for t in r["tags"]))
            for r in SAMPLE
        )
        assert got == want


class TestFunctionsTags:
    def test_write_predictions_jsonl(self, spark):
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.formats import write_predictions_jsonl
        from kgkit.sources.pages import load_pages, pages_for_mentions

        pages = pages_for_mentions(load_pages(spark, "/root/testdata/sf0.001")).limit(50)
        pages = pages.cache()
        mentions = detect_mentions(pages)
        with tempfile.TemporaryDirectory() as d:
            write_predictions_jsonl(pages, mentions, f"{d}/preds")
            back = spark.read.json(f"{d}/preds")
            assert back.count() == 50
            n_tags = back.selectExpr("sum(size(tags)) s").collect()[0]["s"]
            assert n_tags == mentions.count()


class TestPredictOnFile:
    def test_file_in_predictions_out(self, spark, tmp_path):
        """Model.predict_on_file parity (api/model.py:282-307): every
        input line comes back with its predictions; no-entity lines get
        an empty tags array; offsets are byte-identical."""
        import json

        from kgkit.sources.formats import predict_on_file

        inp = tmp_path / "in.jsonl"
        inp.write_text(
            "\n".join(json.dumps({"text": t}) for t in [
                "the spark hash join runs",
                "no entities in this line",
                "customer table scan begins",
            ]) + "\n"
        )
        out = str(tmp_path / "out")
        predict_on_file(spark, str(inp), out)
        lines = [json.loads(l) for l in
                 spark.read.text(out + "/*.json").rdd.map(lambda r: r[0]).collect()]
        by_text = {l["text"]: l["tags"] for l in lines}
        assert len(by_text) == 3
        assert by_text["no entities in this line"] == []
        got = {(t["token"], t["tag"]) for t in by_text["the spark hash join runs"]}
        assert got == {("spark", "TECH"), ("hash join", "OP")}
        for text, tags in by_text.items():
            for t in tags:
                assert text[t["char_start"]:t["char_end"]] == t["token"]
