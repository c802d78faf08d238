"""Deterministic sampling/mixing (kgkit/operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, n=4000):
    return spark.range(n).selectExpr("id as doc_id",
                                     "id % 3 as tier_num").selectExpr(
        "doc_id", "case tier_num when 0 then 'A' when 1 then 'B' else 'C' end as tier")


def _sample(df, rate, **kw):
    """A single-bucket mixture at ``rate`` <= 1: a Bernoulli(rate)
    subset drawn by the shared hash threshold alone."""
    from kgkit.operators.sampling import mixture_sample

    return mixture_sample(df.withColumn("bucket", F.lit("all")),
                          {"all": rate}, "bucket", **kw)


class TestHashSample:
    def test_rate_and_reproducibility(self, spark):
        df = _docs(spark)
        a = {r["doc_id"] for r in _sample(df, 0.3, seed=7).collect()}
        b = {r["doc_id"] for r in _sample(df, 0.3, seed=7).collect()}
        assert a == b                       # bit-reproducible
        assert 0.25 < len(a) / 4000 < 0.35  # ~rate
        c = {r["doc_id"] for r in _sample(df, 0.3, seed=8).collect()}
        assert a != c                       # seeds are independent

    def test_monotone_in_rate(self, spark):
        """A doc kept at rate r is kept at every rate >= r (hash
        thresholding, not re-randomization)."""
        df = _docs(spark, 1000)
        small = {r["doc_id"] for r in _sample(df, 0.2).collect()}
        big = {r["doc_id"] for r in _sample(df, 0.6).collect()}
        assert small <= big

    def test_bad_rate_rejected(self, spark):
        with pytest.raises(ValueError, match="negative rate"):
            _sample(_docs(spark, 10), -0.5)


class TestMixtureSample:
    def test_rates_including_oversampling(self, spark):
        from kgkit.operators.sampling import mixture_sample

        df = _docs(spark)
        out = mixture_sample(df, {"A": 2.0, "B": 0.5}, "tier").collect()
        by_tier = {}
        for r in out:
            by_tier.setdefault(r["tier"], []).append((r["doc_id"], r["replica"]))
        assert "C" not in by_tier           # outside the mixture
        n_a = len({d for d, _ in by_tier["A"]})
        assert all(len([1 for d2, _ in by_tier["A"] if d2 == d]) == 2
                   for d, _ in by_tier["A"][:50])  # every A doc twice
        assert len(by_tier["A"]) == 2 * n_a
        frac_b = len(by_tier["B"]) / (4000 / 3)
        assert 0.4 < frac_b < 0.6
        # replica indices distinguish the copies
        assert {rep for _, rep in by_tier["A"]} == {1, 2}

    def test_fractional_oversampling_rate(self, spark):
        from kgkit.operators.sampling import mixture_sample

        df = _docs(spark)
        out = mixture_sample(df, {"A": 1.25}, "tier").collect()
        n_docs = len({r["doc_id"] for r in out})
        assert n_docs == len([r for r in df.collect() if r["tier"] == "A"])
        ratio = len(out) / n_docs
        assert 1.15 < ratio < 1.35          # ~1.25 copies per doc

    def test_zero_rate_bucket_emits_nothing(self, spark):
        from kgkit.operators.sampling import mixture_sample

        out = mixture_sample(_docs(spark, 300), {"A": 0.0}, "tier").collect()
        assert out == []                    # sequence(1,0) guard


class TestMd5HashMode:
    """hash_fn='md5': the cross-engine-auditable draw (DuckDB has no
    xxhash64) — same API contract, still a pushed-down predicate."""

    def test_reproducible_and_rate_accurate(self, spark):
        df = _docs(spark)
        a = {r["doc_id"] for r in _sample(df, 0.3, seed=7,
                                          hash_fn="md5").collect()}
        b = {r["doc_id"] for r in
             _sample(df.repartition(13), 0.3, seed=7,
                     hash_fn="md5").collect()}
        assert a == b
        assert 0.25 < len(a) / 4000 < 0.35

    def test_md5_draw_matches_python_twin(self, spark):
        """The exact arithmetic the DuckDB oracle replays: 28-bit
        md5-prefix of 'doc_id:seed' mod 1e6 under the rate threshold."""
        import hashlib

        df = _docs(spark, n=500)
        got = {r["doc_id"] for r in _sample(df, 0.3, seed=7,
                                            hash_fn="md5").collect()}
        want = {
            i for i in range(500)
            if int(hashlib.md5(f"{i}:7".encode()).hexdigest()[:7], 16)
            % 1_000_000 < 300_000
        }
        assert got == want

    def test_mixture_md5_mode(self, spark):
        from kgkit.operators.sampling import mixture_sample

        df = _docs(spark)
        out = mixture_sample(df, {"A": 2.0, "B": 0.5}, "tier",
                             seed=1, hash_fn="md5")
        rows = out.groupBy("tier").count().collect()
        by = {r["tier"]: r["count"] for r in rows}
        assert set(by) == {"A", "B"}  # C absent (whitelist)
        n_a = len(range(0, 4000, 3))
        assert by["A"] == 2 * n_a  # whole rate, no bernoulli
        assert 0.4 < by["B"] / (4000 // 3) < 0.6

    def test_unknown_hash_fn_rejected(self, spark):
        with pytest.raises(ValueError):
            _sample(_docs(spark), 0.5, hash_fn="sha9000")

    def test_still_a_pushed_down_filter(self, spark):
        """No Exchange in the md5 plan either — sampling stays a scan
        predicate in both hash modes."""
        plan = (
            _sample(_docs(spark), 0.3, hash_fn="md5")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
