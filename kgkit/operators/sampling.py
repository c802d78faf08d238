"""Deterministic corpus sampling & mixing (training-data pipeline).

A training run does not consume a cleaned corpus whole: it MIXES
sources/quality tiers at chosen rates ("20% of tier C, 2 epochs of
tier A") and the mixture must be REPRODUCIBLE — the same doc set on
every rerun, on any cluster layout, with no RDD sampling state.  Both
needs reduce to hash-threshold selection: a doc is kept iff
``hash(doc_id, seed) mod M < rate*M`` — a pure column predicate, so
sampling is a pushed-down filter (no shuffle, no driver RNG, stable
under repartitioning), and disjoint seeds give independent samples.

``mixture_sample`` applies per-bucket rates (the data-mixing shape);
rates > 1 duplicate docs (epoch oversampling) with a replica index so
downstream shuffles see distinct rows.  A single bucket at rate <= 1 is
a plain Bernoulli(rate) subset.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M = 1_000_000  # hash-threshold resolution


def _u(df_col, seed: int, hash_fn: str = "xxhash64"):
    """Uniform [0, M) integer per row — deterministic,
    partition-independent.  ``xxhash64`` is the production path (one
    JVM intrinsic, fastest); ``md5`` is the cross-engine-auditable
    mode (DuckDB has no xxhash64): the 28-bit hex-prefix fingerprint
    the dedup family uses, so the oracle can replay the exact draw."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(df_col, F.lit(seed)), F.lit(_M))
    if hash_fn == "md5":
        h = F.md5(F.concat(df_col.cast("string"), F.lit(f":{seed}")))
        return F.pmod(
            F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint"), F.lit(_M)
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def mixture_sample(df: DataFrame, rates: Dict[str, float],
                   bucket_col: str, seed: int = 1,
                   id_col: str = "doc_id", hash_fn: str = "xxhash64") -> DataFrame:
    """Per-bucket sampling rates; a rate r > 1 emits floor(r) full
    copies plus a Bernoulli(r - floor(r)) extra copy (epoch
    oversampling), each with a distinct ``replica`` index.  Buckets
    absent from ``rates`` are dropped (an explicit mixture is a
    whitelist).  One generator expression — no union-per-bucket plan
    blowup at many buckets, no shuffle."""
    if not rates:
        raise ValueError("empty mixture")
    if any(r < 0 for r in rates.values()):
        raise ValueError("negative rate")
    whole = F.create_map(*[
        x for b, r in sorted(rates.items()) for x in (F.lit(b), F.lit(int(r)))
    ])
    frac = F.create_map(*[
        x for b, r in sorted(rates.items())
        for x in (F.lit(b), F.lit(int(round((r - int(r)) * _M))))
    ])
    b = F.col(bucket_col)
    n_copies = (
        F.coalesce(whole[b], F.lit(-1))
        + F.when(
            _u(F.col(id_col), seed, hash_fn) < F.coalesce(frac[b], F.lit(0)), 1
        ).otherwise(0)
    )
    # sequence(1, 0) counts DOWN in Spark ([1, 0]) — an unguarded
    # explode would emit a phantom copy for n=0 docs, so the replica
    # array must be built under an explicit n >= 1 condition
    replicas = F.when(
        F.col("_n") >= 1, F.sequence(F.lit(1), F.col("_n"))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("_n", n_copies)
        .select("*", F.explode(replicas).alias("replica"))
        .drop("_n")
    )
