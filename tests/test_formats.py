"""Sources/sinks: pretokenized CSV, standard JSONL and the prediction
file (S1-S2, K1-K3), plus the column-level tag helpers (P4, P10, X1)."""

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


def _sample_df(spark):
    from kgkit.sources.formats import JSONL_SCHEMA

    return spark.createDataFrame(
        [(r["text"], [tuple(t.values()) for t in r["tags"]]) for r in SAMPLE],
        JSONL_SCHEMA,
    )


class TestCsvJsonl:
    def test_jsonl_roundtrip(self, spark):
        from kgkit.sources.formats import read_standard_jsonl, write_standard_jsonl

        df = _sample_df(spark)
        with tempfile.TemporaryDirectory() as d:
            write_standard_jsonl(df, f"{d}/out")
            back = read_standard_jsonl(spark, f"{d}/out")
            got = sorted(
                (r["text"], tuple(map(tuple, r["tags"] or [])))
                for r in back.collect()
            )
            want = sorted(
                (r["text"], tuple(tuple(t.values()) for t in r["tags"]))
                for r in SAMPLE
            )
            assert got == want

    def test_csv_roundtrip(self, spark):
        from kgkit.sources.formats import read_pretokenized_csv, write_pretokenized_csv

        df = spark.createDataFrame(
            [("O B-PER I-PER", "hej John Doe"), ("O", "hejsan")],
            "tags string, text string",
        )
        with tempfile.TemporaryDirectory() as d:
            write_pretokenized_csv(df, f"{d}/out")
            back = read_pretokenized_csv(spark, f"{d}/out")
            assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


class TestFunctionsTags:
    def test_apply_tag_mapping(self, spark):
        from pyspark.sql import functions as F

        from kgkit.functions.tags import apply_tag_mapping

        df = spark.createDataFrame(
            [("B-PER",), ("B-ORG",), ("0",), ("O",)], "tag string"
        )
        got = [
            r["m"]
            for r in df.select(
                apply_tag_mapping(
                    F.col("tag"), {"B-PER": "B-PI"}, default_to_o=True
                ).alias("m")
            ).collect()
        ]
        assert got == ["B-PI", "O", "O", "O"]
        got2 = [
            r["m"]
            for r in df.select(
                apply_tag_mapping(F.col("tag"), {"B-PER": "B-PI"}).alias("m")
            ).collect()
        ]
        assert got2 == ["B-PI", "B-ORG", "O", "O"]

    def test_shift_spans(self, spark):
        from pyspark.sql import functions as F

        from kgkit.functions.tags import shift_spans

        df = spark.createDataFrame(
            [([(10, 14, "join", "OP")], 10)],
            "tags array<struct<char_start:int,char_end:int,token:string,tag:string>>, delta int",
        )
        [r] = df.select(shift_spans(F.col("tags"), F.col("delta")).alias("t")).collect()
        assert tuple(r["t"][0]) == (0, 4, "join", "OP")

    def test_seeded_shuffle_deterministic(self, spark):
        from kgkit.functions.tags import seeded_shuffle

        df = spark.range(50).withColumnRenamed("id", "k")
        a = [r["k"] for r in seeded_shuffle(df, "k", 4).collect()]
        b = [r["k"] for r in seeded_shuffle(df, "k", 4).collect()]
        c = [r["k"] for r in seeded_shuffle(df, "k", 5).collect()]
        assert a == b and a != c and sorted(a) == list(range(50))

    def test_split_fractions(self, spark):
        from kgkit.functions.tags import split_fractions

        df = spark.range(1000).withColumnRenamed("id", "k")
        out = split_fractions(
            df, "k", {"train": (0.0, 0.8), "val": (0.8, 0.9), "test": (0.9, 1.0)}
        )
        counts = {r["phase"]: r["count"] for r in out.groupBy("phase").count().collect()}
        assert set(counts) == {"train", "val", "test"}
        assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
        assert sum(counts.values()) == 1000

    def test_write_predictions_jsonl(self, spark):
        from kgkit.operators.mentions import detect_mentions
        from kgkit.sources.formats import read_standard_jsonl, write_predictions_jsonl
        from kgkit.sources.pages import load_pages, pages_for_mentions

        pages = pages_for_mentions(load_pages(spark, "/root/testdata/sf0.001")).limit(50)
        pages = pages.cache()
        mentions = detect_mentions(pages)
        with tempfile.TemporaryDirectory() as d:
            write_predictions_jsonl(pages, mentions, f"{d}/preds")
            back = read_standard_jsonl(spark, f"{d}/preds")
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
