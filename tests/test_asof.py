"""As-of join: pandas merge_asof differential (also under a hot key
with time-bucketed timestamps), tolerance, tie handling, and the
single-exchange plan pin."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _synth(n_keys=7, n_left=400, n_right=150, hot_frac=0.0):
    """Deterministic LCG event streams; hot_frac concentrates that
    share of both sides on key 0."""
    left, right, x = [], [], 12345
    for i in range(n_left):
        x = (x * 1103515245 + 12347) % (1 << 31)
        k = 0 if (x % 1000) < hot_frac * 1000 else x % n_keys
        x = (x * 1103515245 + 12347) % (1 << 31)
        left.append((i, int(k), int(x % 100_000)))
    for j in range(n_right):
        x = (x * 1103515245 + 12347) % (1 << 31)
        k = 0 if (x % 1000) < hot_frac * 1000 else x % n_keys
        x = (x * 1103515245 + 12347) % (1 << 31)
        right.append((1000 + j, int(k), int(x % 100_000), float(j) / 7))
    return left, right


def _pandas_asof(left, right, tolerance=None):
    lp = pd.DataFrame(left, columns=["lid", "k", "ts"]).sort_values("ts")
    # pandas merge_asof breaks ties by position, our operator by max
    # payload struct — dedupe right to one row per (k, ts) keeping the
    # max rid (the struct order: rid is the first payload field)
    rp = (
        pd.DataFrame(right, columns=["rid", "k", "ts", "w"])
        .sort_values(["k", "ts", "rid"])
        .groupby(["k", "ts"], as_index=False)
        .last()
        .sort_values("ts")
    )
    out = pd.merge_asof(
        lp, rp, on="ts", by="k", suffixes=("", "_r"),
        tolerance=tolerance, allow_exact_matches=True,
    )
    return {
        (r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in out.itertuples()
    }


@pytest.fixture(scope="module")
def frames(spark):
    left, right = _synth()
    ldf = _mk(spark, left, "lid long, k long, ts long")
    rdf = _mk(spark, right, "rid long, k long, ts long, w double")
    return left, right, ldf, rdf


class TestAsofJoin:
    def test_matches_pandas_merge_asof(self, spark, frames):
        from kgkit.operators.asof import asof_join

        left, right, ldf, rdf = frames
        got = {
            r["lid"]: r["r_rid"]
            for r in asof_join(ldf, rdf, on="k").collect()
        }
        assert got == _pandas_asof(left, right)

    def test_tolerance(self, spark, frames):
        from kgkit.operators.asof import asof_join

        left, right, ldf, rdf = frames
        got = {
            r["lid"]: r["r_rid"]
            for r in asof_join(ldf, rdf, on="k", tolerance_s=5000).collect()
        }
        assert got == _pandas_asof(left, right, tolerance=5000)
        # the tolerance actually bites somewhere
        loose = _pandas_asof(left, right)
        assert any(got[k] is None and loose[k] is not None for k in got)

    def test_inclusive_and_unmatched(self, spark):
        from kgkit.operators.asof import asof_join

        ldf = _mk(spark, [(1, 0, 100), (2, 0, 50)], "lid long, k long, ts long")
        rdf = _mk(spark, [(9, 0, 100, 1.0), (8, 0, 99, 2.0)],
                  "rid long, k long, ts long, w double")
        got = {r["lid"]: (r["r_rid"], r["r_w"])
               for r in asof_join(ldf, rdf, on="k").collect()}
        assert got[1] == (9, 1.0)      # exact-ts match included
        assert got[2] == (None, None)  # left-outer: no earlier right row

    def test_right_ts_tie_resolves_to_max_payload(self, spark):
        from kgkit.operators.asof import asof_join

        ldf = _mk(spark, [(1, 0, 100)], "lid long, k long, ts long")
        rdf = _mk(spark, [(3, 0, 90, 0.1), (7, 0, 90, 0.2)],
                  "rid long, k long, ts long, w double")
        row = asof_join(ldf, rdf, on="k").collect()[0]
        assert row["r_rid"] == 7

    @pytest.mark.parametrize("bucket_s", [64, 1 << 13, 1 << 20])
    def test_bucketed_equals_plain_hot_key(self, spark, bucket_s):
        """A hot key with timestamps floored to ``bucket_s``-wide
        buckets: coarser buckets pile more right rows onto one ts (at
        2^20 every key is one tie), so the max-payload tie-break carries
        more of the answer.  Matches pandas merge_asof on the same
        bucketed streams."""
        from kgkit.operators.asof import asof_join

        left, right = _synth(hot_frac=0.8)
        left = [(i, k, ts // bucket_s * bucket_s) for i, k, ts in left]
        right = [(j, k, ts // bucket_s * bucket_s, w)
                 for j, k, ts, w in right]
        ldf = _mk(spark, left, "lid long, k long, ts long")
        rdf = _mk(spark, right, "rid long, k long, ts long, w double")
        got = {r["lid"]: r["r_rid"]
               for r in asof_join(ldf, rdf, on="k").collect()}
        assert got == _pandas_asof(left, right)

    def test_bucketed_tolerance_equals_plain(self, spark):
        """Tolerance under a half-hot key on 1024-wide timestamp
        buckets, against pandas merge_asof with the same tolerance."""
        from kgkit.operators.asof import asof_join

        left, right = _synth(hot_frac=0.5)
        left = [(i, k, ts // 1024 * 1024) for i, k, ts in left]
        right = [(j, k, ts // 1024 * 1024, w) for j, k, ts, w in right]
        ldf = _mk(spark, left, "lid long, k long, ts long")
        rdf = _mk(spark, right, "rid long, k long, ts long, w double")
        got = {r["lid"]: r["r_rid"]
               for r in asof_join(ldf, rdf, on="k",
                                  tolerance_s=3000).collect()}
        assert got == _pandas_asof(left, right, tolerance=3000)

    def test_bucketed_subsecond_timestamps_equal_plain(self, spark):
        """Two right rows in the same integer second but different
        sub-second instants: the join must order by the FULL-precision
        ts, not the epoch second (ordering by the second would leave a
        tie that the payload tie-break resolves to the earlier row)."""
        from kgkit.operators.asof import asof_join

        ev = spark.createDataFrame(
            [(1, 0, "2024-01-01 00:01:00.500")], "lid long, k long, s string"
        ).select("lid", "k", F.col("s").cast("timestamp").alias("ts"))
        st = spark.createDataFrame(
            [(9, 0, "2024-01-01 00:00:00.200"),
             (3, 0, "2024-01-01 00:00:00.800")],
            "rid long, k long, s string",
        ).select("rid", "k", F.col("s").cast("timestamp").alias("ts"))
        assert asof_join(ev, st, on="k").collect()[0]["r_rid"] == 3

    def test_empty_sides(self, spark):
        """No right rows -> every left row survives unmatched; no left
        rows -> empty output with the full joined schema."""
        from kgkit.operators.asof import asof_join

        ldf = _mk(spark, [(1, 0, 100)], "lid long, k long, ts long")
        rdf = _mk(spark, [], "rid long, k long, ts long, w double")
        rows = asof_join(ldf, rdf, on="k").collect()
        assert [(r["lid"], r["r_rid"]) for r in rows] == [(1, None)]
        l0 = _mk(spark, [], "lid long, k long, ts long")
        r1 = _mk(spark, [(9, 0, 50, 1.0)], "rid long, k long, ts long, w double")
        out = asof_join(l0, r1, on="k")
        assert out.columns == ["lid", "k", "ts", "r_rid", "r_ts", "r_w"]
        assert out.count() == 0

    def test_timestamp_columns(self, spark):
        """Timestamp-typed ts: the events-table shape the registry
        query runs — exercised end to end through the operator."""
        from kgkit.operators.asof import asof_join

        ev = spark.createDataFrame(
            [(1, 0, "2024-01-01 10:00:00"), (2, 0, "2024-01-01 11:00:00")],
            "lid long, k long, s string",
        ).select("lid", "k", F.col("s").cast("timestamp").alias("ts"))
        st = spark.createDataFrame(
            [(5, 0, "2024-01-01 10:30:00")], "rid long, k long, s string"
        ).select("rid", "k", F.col("s").cast("timestamp").alias("ts"))
        got = {r["lid"]: r["r_rid"] for r in asof_join(ev, st, on="k").collect()}
        assert got == {1: None, 2: 5}

    def test_plain_plan_is_single_exchange(self, spark, frames):
        """The whole point vs a range join: one hash exchange on the
        key (the union's two scans feed it), one sort, no join node."""
        from kgkit.operators.asof import asof_join

        _, _, ldf, rdf = frames
        plan = (
            asof_join(ldf, rdf, on="k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        shuffles = [l for l in plan.splitlines()
                    if "Exchange hashpartitioning" in l]
        assert len(shuffles) == 1, plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
