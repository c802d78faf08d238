"""As-of (point-in-time) join — a custom operator Spark SQL lacks.

A KG built from a live crawl is TEMPORAL: entity states, link targets,
and crawl snapshots all carry timestamps, and the natural lookup is
"the latest fact about k at or before time t" — attaching to each
mention the entity state that was current when the page was crawled,
or to each conversion event the most recent preceding interaction.
Spark has no ASOF JOIN (DuckDB/Pandas do); a naive range join
(``l.ts >= r.ts`` + pick-max) explodes to O(|l|x|r|) per key.

``asof_join`` is the single-shuffle formulation: tag both sides, union
them on (key, ts), and run ONE window per key ordered by (ts, side) —
a right row sorts before a left row at the same timestamp, so
``last(right_payload, ignorenulls)`` at each left row is exactly the
greatest right ts <= left ts (inclusive as-of, the DuckDB semantic).
Cost = one hash exchange by key + one sort, the same budget as a
regular join, with NO candidate explosion.  Ties among right rows at
the same (key, ts) resolve deterministically to the max payload
struct (both engines in the oracle dedupe or order identically).

No reference analog (nerblackbox has no temporal joins); this is part
of the training-data/analytics surface the engine adds on top, like
kgkit/operators/sampling.py.  Oracle: DuckDB's native ASOF LEFT JOIN
(an independent algorithm) via the ``events_asof`` registry query.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _epoch(col: F.Column, dtype: T.DataType) -> F.Column:
    """Integer-second epoch for the tolerance gap: unix_timestamp for
    timestamps (== DuckDB floor(epoch()), the cross-engine gotcha),
    a plain long cast for numeric ts columns."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_timestamp(col)
    return col.cast("long")


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> tuple[DataFrame, List[str]]:
    """(key, ts, is_left, left-payload struct, right-payload struct)
    union of both sides.  Payloads ride as structs so the window below
    carries ONE column; the null side is typed with the other frame's
    schema so unionByName stays exact."""
    lpay = [c for c in left.columns]
    rpay = [c for c in right.columns if c != on]
    l_t = T.StructType([left.schema[c] for c in lpay])
    r_t = T.StructType([right.schema[c] for c in rpay])
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_l"),
        F.struct(*lpay).alias("_lpay"),
        F.lit(None).cast(r_t).alias("_rpay"),
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_l"),
        F.lit(None).cast(l_t).alias("_lpay"),
        F.struct(*rpay).alias("_rpay"),
    )
    return l.unionByName(r), rpay


def _emit(matched: DataFrame, rpay: List[str], prefix: str) -> DataFrame:
    out = matched.filter(F.col("_is_l") == 1).select(
        "_lpay.*",
        *[F.col(f"_m.{c}").alias(f"{prefix}{c}") for c in rpay],
    )
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    prefix: str = "r_",
    tolerance_s: Optional[int] = None,
) -> DataFrame:
    """For each left row, the right row with the greatest
    ``right_ts <= left_ts`` sharing ``on`` (inclusive, LEFT-outer:
    unmatched left rows keep NULL right columns).  Right payload
    columns come back ``prefix``-renamed; ``tolerance_s`` nulls out
    matches older than the given number of seconds.

    One exchange by ``on`` + one sort — the plain-join budget."""
    u, rpay = _tagged_union(left, right, on, left_ts, right_ts)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_is_l").asc(), F.col("_rpay").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_rpay", ignorenulls=True).over(w))
    if tolerance_s is not None:
        matched = _apply_tolerance(matched, right_ts, tolerance_s)
    return _emit(matched, rpay, prefix)


def _apply_tolerance(
    matched: DataFrame, right_ts: str, tolerance_s: int
) -> DataFrame:
    # the right payload's ts converts under ITS OWN struct-field dtype —
    # relying on the unioned '_ts' dtype was only safe because
    # mismatched ts types already fail at unionByName (ADVICE r5)
    rts_type = matched.schema["_m"].dataType[right_ts].dataType
    gap = _epoch(F.col("_ts"), matched.schema["_ts"].dataType) - _epoch(
        F.col(f"_m.{right_ts}"), rts_type
    )
    return matched.withColumn(
        "_m", F.when(gap <= F.lit(tolerance_s), F.col("_m"))
    )
