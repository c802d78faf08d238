"""Metric truth-table tests — the reference's own CSV fixtures.

The reference pins its metric engine with per-sequence expected values in
nerblackbox/tests/test_data/test_ner_metrics_{token,entity}.csv (harness:
nerblackbox/tests/test_ner_metrics.py:14-47, tolerance ±0.01).  We run the
SAME fixtures through kgkit.metrics.ner_metrics — on Spark — and assert
the same values, including the −1 failure codes and the well-defined-class
macro counts.  Only those two truth-table classes need the reference
checkout; the rest of the module runs without it.
"""

from __future__ import annotations

import os
import re

import pytest

from kgkit.metrics.ner_metrics import ner_metrics

REF = "/root/reference/nerblackbox/tests/test_data"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference fixtures unavailable"
)


def _load(level):
    rows = []
    with open(f"{REF}/test_ner_metrics_{level}.csv") as f:
        header = f.readline().strip().split(";")
        for line in f:
            rows.append(dict(zip(header, [c.strip() for c in line.split(";")])))
    return rows


def _seq(s):
    return re.findall(r"[A-Z]+", s)


def _stream_df(spark, true, pred):
    data = [("s0", i, t, p) for i, (t, p) in enumerate(zip(true, pred))]
    return spark.createDataFrame(
        data, "seq_id string, pos long, true string, pred string"
    )


def _assert_close(got, want, label):
    assert got == pytest.approx(want, abs=0.011), f"{label}: {got} != {want}"


@needs_ref
class TestTokenTruthTable:
    @pytest.fixture(scope="class")
    def rows(self):
        return _load("token")

    def test_all_rows(self, spark, rows):
        true = _seq(rows[0]["sequence"])
        for row in rows:
            pred = _seq(row["sequence"])
            df = _stream_df(spark, true, pred)

            # per-class (classes=[c] -> 'warn'/−1 semantics)
            for c in ("O", "A", "B", "C"):
                if f"{c}-precision" not in row:
                    continue
                res = ner_metrics(df, "token", "plain", classes=[c])
                _assert_close(res["precision_micro"], float(row[f"{c}-precision"]),
                              f"{row['name']} {c}-precision")
                _assert_close(res["recall_micro"], float(row[f"{c}-recall"]),
                              f"{row['name']} {c}-recall")
                _assert_close(res["f1_micro"], float(row[f"{c}-f1"]),
                              f"{row['name']} {c}-f1")

            # fil = non-O classes, zero_division=0
            res = ner_metrics(df, "token", "plain", classes=["A", "B", "C"])
            for m in ("precision", "recall", "f1"):
                _assert_close(res[f"{m}_micro"], float(row[f"fil-{m}_micro"]),
                              f"{row['name']} fil-{m}_micro")
                _assert_close(res[f"{m}_macro"], float(row[f"fil-{m}_macro"]),
                              f"{row['name']} fil-{m}_macro")
            assert res["numberofclasses_macro"] == int(
                float(row["fil-numberofclasses_macro"])
            ), row["name"]

            # all = every observed label (acc + macro)
            res = ner_metrics(df, "token", "plain")
            _assert_close(res["acc"], float(row["all-acc"]),
                          f"{row['name']} all-acc")
            for m in ("precision", "recall", "f1"):
                _assert_close(res[f"{m}_macro"], float(row[f"all-{m}_macro"]),
                              f"{row['name']} all-{m}_macro")


@needs_ref
class TestEntityTruthTable:
    @pytest.fixture(scope="class")
    def rows(self):
        return _load("entity")

    def test_all_rows(self, spark, rows):
        true = _seq(rows[0]["sequence"])
        for row in rows:
            pred = _seq(row["sequence"])
            df = _stream_df(spark, true, pred)

            for c in ("A", "B", "C"):
                res = ner_metrics(df, "entity", "plain", class_name=c)
                _assert_close(res["precision_micro"], float(row[f"{c}-precision"]),
                              f"{row['name']} {c}-precision")
                _assert_close(res["recall_micro"], float(row[f"{c}-recall"]),
                              f"{row['name']} {c}-recall")
                _assert_close(res["f1_micro"], float(row[f"{c}-f1"]),
                              f"{row['name']} {c}-f1")

            res = ner_metrics(df, "entity", "plain")
            for m in ("precision", "recall", "f1"):
                _assert_close(res[f"{m}_micro"], float(row[f"fil-{m}_micro"]),
                              f"{row['name']} fil-{m}_micro")
                _assert_close(res[f"{m}_macro"], float(row[f"fil-{m}_macro"]),
                              f"{row['name']} fil-{m}_macro")
            assert res["numberofclasses_macro"] == int(
                float(row["fil-numberofclasses_macro"])
            ), row["name"]


class TestChunksAndAsr:
    def test_strict_bio_orphan_inside(self, spark):
        # orphan I-A (no preceding B-A) is NOT a chunk in strict mode
        df = _stream_df(
            spark,
            ["O", "B-A", "I-A", "O", "I-A", "B-B"],
            ["O", "B-A", "I-A", "O", "I-A", "B-B"],
        )
        res = ner_metrics(df, "entity", "bio")
        assert res["precision_micro"] == 1.0 and res["recall_micro"] == 1.0

    def test_bilou_strict(self, spark):
        # B-A I-A (no L) is invalid; U-B valid
        true = ["B-A", "I-A", "L-A", "O", "U-B"]
        pred = ["B-A", "I-A", "O", "O", "U-B"]  # pred A-chunk broken
        df = _stream_df(spark, true, pred)
        res = ner_metrics(df, "entity", "bilou")
        # true chunks: A(0-2), B(4); pred chunks: B(4) only
        assert res["recall_micro"] == pytest.approx(0.5)
        assert res["precision_micro"] == pytest.approx(1.0)

    def test_asr_bio(self, spark):
        # pred I-A at start autocorrects to B-A -> matches true
        true = ["B-A", "I-A", "O"]
        pred = ["I-A", "I-A", "O"]
        df = _stream_df(spark, true, pred)
        res = ner_metrics(df, "entity", "bio", asr=True)
        # uncorrected: orphan I-run -> no pred chunks -> undefined (−1)
        assert res["precision_micro"] == -1.0
        assert res["asr_precision_micro"] == 1.0
        assert res["asr_recall_micro"] == 1.0
        assert res["asr_abidance"] == pytest.approx(2 / 3)

    def test_asr_matches_ner_core(self, spark):
        # the window ASR must agree with the sequential reference port
        from kgkit.metrics.ner_metrics import asr_corrected
        from kgkit.ner_core.schemes import fix_scheme

        seqs = [
            ["I-A", "I-A", "L-A", "U-B", "I-B"],
            ["B-A", "I-A", "O", "L-B", "B-C"],
            ["L-A", "O", "B-A", "B-A", "I-A"],
            ["U-A", "I-A", "I-A", "L-A", "O"],
        ]
        for tags in seqs:
            expected, _ = fix_scheme(tags, "bilou")
            df = _stream_df(spark, tags, tags)
            got = [
                r["pred_asr"]
                for r in asr_corrected(df, "bilou").orderBy("pos").collect()
            ]
            assert got == expected, f"{tags}: {got} != {expected}"

    def test_evaluation_dict_shape(self, spark):
        """The EVALUATION_DICT values (api/model.py:925-953): token level
        over the plain classes, entity level over the chunks."""
        df = _stream_df(spark, ["A", "A", "O"], ["A", "O", "O"])
        token = ner_metrics(df, "token", "plain", classes=["A"])
        entity = ner_metrics(df, "entity", "plain")
        # pred chunk A@(0,0) != true chunk A@(0,1) -> strict mismatch
        assert entity["precision_micro"] == 0.0
        assert entity["recall_micro"] == 0.0
        assert token["precision_micro"] == 1.0
        assert token["recall_micro"] == pytest.approx(0.5)


class TestFanoutAndReports:
    def test_metrics_fanout_subsets(self, spark):
        from kgkit.metrics.ner_metrics import metrics_fanout

        df = _stream_df(spark, ["A", "A", "O", "B"], ["A", "A", "O", "O"])
        fan = metrics_fanout(df, "plain")
        assert set(fan) == {"token", "entity"}
        assert set(fan["token"]) == {"all", "fil", "A", "B"}
        assert fan["token"]["A"]["precision_micro"] == 1.0
        assert fan["token"]["B"]["precision_micro"] == -1.0  # never predicted
        assert fan["entity"]["A"]["recall_micro"] == 1.0
        assert fan["entity"]["B"]["recall_micro"] == 0.0


class TestMetricsFanoutDf:
    def test_jobs_inherit_the_callers_job_group(self, spark):
        """The two statistic jobs run on pool threads: every job the
        call starts must still carry the caller's job group."""
        from kgkit.metrics.ner_metrics import metrics_fanout_df

        sc = spark.sparkContext
        st = sc.statusTracker()
        df = _stream_df(spark, ["B-A", "I-A", "O"], ["B-A", "O", "O"])
        # job ids only grow, and the status store drops its oldest jobs
        # in batches once it holds spark.ui.retainedJobs, so the check
        # looks only at ungrouped jobs newer than the last one seen here
        last = max(st.getJobIdsForGroup(), default=-1)
        sc.setJobGroup("fanout-df", "metrics_fanout_df under a job group")
        try:
            metrics_fanout_df(df, "bio").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert st.getJobIdsForGroup("fanout-df")
        assert [j for j in st.getJobIdsForGroup() if j > last] == []

    def test_matches_dict_api_micro_values(self, spark):
        """metrics_fanout_df (distributed, oracle-backed) must agree
        with metrics_fanout (the reference-shaped dict API) on every
        micro P/R/F1 it emits, including the -1 failure codes."""
        import pytest as _pt

        from kgkit.metrics.ner_metrics import metrics_fanout, metrics_fanout_df

        df = spark.createDataFrame(
            [
                # orphan I-OP (repairable), a wrong class, a miss, and a
                # class (DIM) that appears in pred only
                ("d1", 0, "B-TECH", "B-TECH"),
                ("d1", 1, "B-OP", "O"),
                ("d1", 2, "I-OP", "I-OP"),
                ("d1", 3, "O", "B-DIM"),
                ("d2", 0, "B-OP", "B-OP"),
                ("d2", 1, "I-OP", "I-OP"),
                ("d2", 2, "B-TECH", "B-OP"),
            ],
            "seq_id string, pos long, true string, pred string",
        )
        want = metrics_fanout(df, "bio")
        got = {
            (r["level"], r["subset"]): r
            for r in metrics_fanout_df(df, "bio").collect()
        }
        for level in ("token", "entity"):
            for subset, m in want[level].items():
                row = got[(level, subset)]
                for k in ("precision_micro", "recall_micro", "f1_micro"):
                    assert row[k] == _pt.approx(m[k], abs=1e-6), (
                        level, subset, k, row[k], m[k],
                    )
                for k in ("precision_macro", "recall_macro", "f1_macro"):
                    if k in m:
                        assert row[k] == _pt.approx(m[k], abs=1e-6), (
                            level, subset, k, row[k], m[k],
                        )
                    else:
                        # entity per-class dicts carry no macro keys ->
                        # the df twin emits NULL there
                        assert row[k] is None, (level, subset, k, row[k])
        # every df row has a dict twin (no extra subsets)
        assert set(got) == {
            (lv, s) for lv in ("token", "entity") for s in want[lv]
        }
