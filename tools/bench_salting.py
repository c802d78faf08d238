#!/usr/bin/env python
"""A/B evidence for the Zipf-hub skew handling (BASELINE.md §4 row).

Fixture: a synthetic triple table with a hard hub — 40% of all rows
share obj='Q5', the rest spread over ~1k entities.  AQE is OFF so the
measurements isolate the explicit mechanisms, not runtime re-planning.

Two operation classes, because they skew differently:

  * counts (algebraic agg): partial aggregation (map-side combine)
    already splits the hub key across every input partition, so plain
    groupBy(obj).count() is NOT expected to lose to explicit salting —
    the honest baseline the salted pattern must not regress.
  * per-entity top-k (window): rank over partitionBy(obj) funnels ALL
    hub rows through one task; the two-phase salted top-k (per-salt
    top-k, then re-rank the tiny candidate set) is where explicit
    salting genuinely pays.

Usage: python tools/bench_salting.py [n_rows]
Prints one JSON line with best-of-3 walls per variant.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kgkit import SESSION_CONF  # noqa: E402

N_SALTS = 16
TOPK = 3


def fixture(spark, n_rows: int):
    """Deterministic skewed triples: 40% hub (Q5), tail over 997 ids."""
    return (
        spark.range(n_rows)
        .select(
            F.when(F.col("id") % 5 < 2, F.lit("Q5"))
            .otherwise(F.concat(F.lit("Q"), (F.col("id") % 997).cast("string")))
            .alias("obj"),
            F.concat(F.lit("doc://"), F.col("id").cast("string")).alias("url"),
            (F.col("id") % 100_000).cast("long").alias("char_start"),
        )
    )


def timed(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def counts_plain(t):
    return t.groupBy("obj").agg(F.count("*").alias("n_triples"))


def counts_salted(t):
    from kgkit.operators.triples import salted_entity_counts

    return salted_entity_counts(t, N_SALTS)


def topk_plain(t):
    w = Window.partitionBy("obj").orderBy("char_start", "url")
    return (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("obj", "url", "char_start")
    )


def topk_salted(t):
    salted = t.withColumn(
        "salt", F.pmod(F.xxhash64("url", "char_start"), F.lit(N_SALTS))
    )
    w1 = Window.partitionBy("obj", "salt").orderBy("char_start", "url")
    cands = (
        salted.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= TOPK)
        .select("obj", "url", "char_start")
    )
    w2 = Window.partitionBy("obj").orderBy("char_start", "url")
    return (
        cands.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOPK)
        .select("obj", "url", "char_start")
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config(map=SESSION_CONF)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = fixture(spark, n_rows)

    variants = {
        "counts_plain": counts_plain,
        "counts_salted": counts_salted,
        "topk_plain": topk_plain,
        "topk_salted": topk_salted,
    }
    # equivalence guard: salting is a physical rewrite only
    a = {tuple(r) for r in topk_plain(t).collect()}
    b = {tuple(r) for r in topk_salted(t).collect()}
    assert a == b, "salted top-k diverged from plain"

    walls = {}
    for name, fn in variants.items():
        runs = [timed(fn(t)) for _ in range(3)]
        walls[name] = round(min(runs), 2)
    print(json.dumps({"n_rows": n_rows, "n_salts": N_SALTS,
                      "aqe": "off", **walls}))


if __name__ == "__main__":
    main()
