"""The row-to-records boundary (kgkit.functions.records.explode_records)
and the null-text contract of the stage-1 UDFs built on it."""

from __future__ import annotations


def _chars(df, keys, schema):
    """explode_records with a toy compute: one (char, code) record per
    character.  ``make`` is nested so it pickles by value (workers
    cannot import this test module)."""
    from kgkit.functions.records import explode_records

    def make():
        return lambda texts: [[(c, ord(c)) for c in t] for t in texts]

    return explode_records(df, keys, "text", schema, make)


class TestExplodeRecords:
    def test_numbers_records_and_repeats_keys(self, spark):
        df = spark.createDataFrame(
            [("a", 1, "xy", "dropped"), ("b", 2, "", "dropped"),
             ("c", 3, "z", "dropped")],
            "k string, n long, text string, other string",
        )
        out = _chars(df, ["k", "n"],
                     "k string, n long, i int, ch string, code int")
        assert out.columns == ["k", "n", "i", "ch", "code"]
        assert sorted(map(tuple, out.collect())) == [
            ("a", 1, 0, "x", 120), ("a", 1, 1, "y", 121), ("c", 3, 0, "z", 122),
        ]

    def test_a_batch_without_records_is_empty(self, spark):
        df = spark.createDataFrame([("a", ""), ("b", "")],
                                   "k string, text string")
        out = _chars(df, ["k"], "k string, i int, ch string, code int")
        assert out.collect() == []


class TestNullText:
    """``text`` is nullable in PAGE_SCHEMA: a null page yields no rows,
    like an empty one, and never fails the job."""

    ROWS = [("doc://1", "spark hash join stream"),
            ("doc://3", "the customer sort merge table scan")]

    def _check(self, spark, op):
        with_null = spark.createDataFrame(
            self.ROWS + [("doc://2", None)], "url string, text string")
        without = spark.createDataFrame(self.ROWS, "url string, text string")
        want = sorted(map(tuple, op(without).collect()))
        assert want
        assert sorted(map(tuple, op(with_null).collect())) == want

    def test_detect_mentions(self, spark):
        from kgkit.operators.mentions import detect_mentions

        self._check(spark, detect_mentions)

    def test_word_tags(self, spark):
        from kgkit.operators.mentions import word_tags

        self._check(spark, word_tags)
