"""kgkit benchmark: batch and incremental KG construction on local Spark.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

Runs one workload through kgkit's public entry points in one driver
process and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it give each metric with its unit and sample count.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")  # temp dirs and trace artifacts

WORKLOADS = ("kg_bulk", "kg_recrawl")
BULK_PAGES = 2000
WARM_PAGES = 200  # kg_bulk's warm-up build: the first pages of its own input
BULK_BUILDS = 2  # measured kg_bulk builds a run, at least
RECRAWL_BATCHES = 2
BATCH_PAGES = 250
REVISIT_SHARE = 0.3
BULK_READS = 3  # reads after each kg_bulk build; kg_recrawl reads once a batch
URL_SAMPLE = 16
NER_SAMPLE = 200

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "batch_p50_s": "s",
    "read_p50_s": "s",
}
PER_LAYER = {
    "sources.generate_s": "s",
    "ner_core.pages_per_s": "pages/s",
    "mentions.stage_s": "s",
    "mentions.py_start_ms": "ms",
    "mentions.py_init_ms": "ms",
    "mentions.py_run_ms": "ms",
    "mentions.tasks": "count",
    "mentions.rows": "count",
    "mentions.jobs": "count",
    "linking.stage_s": "s",
    "linking.rows": "count",
    "linking.jobs": "count",
    "canonicalize.stage_s": "s",
    "triples.stage_s": "s",
    "triples.rows": "count",
    "triples.jobs": "count",
    "triples.shuffle_bytes": "bytes",
    "relations.stage_s": "s",
    "relations.rows": "count",
    "relations.jobs": "count",
    "relations.shuffle_bytes": "bytes",
    "stages.jobs": "count",
    "stages.bytes_written": "bytes",
    "stages.unattributed_s": "s",
    "kg_stream.jobs_per_batch": "count",
    "kg_stream.tasks_per_batch": "count",
    "kg_stream.store_parts": "count",
    "kg_stream.store_bytes": "bytes",
    "kg_stream.persisted_rdds": "count",
    "kg_stream.entity_counts_s": "s",
    "kg_stream.relations_s": "s",
    "kg_stream.triples_s": "s",
    "kg_stream.read_jobs": "count",
    "host.spin_1proc_s": "s",
    "host.spin_nproc_s": "s",
    "trace.overhead_pct": "%",
}


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def become_subreaper() -> None:
    """Make every orphaned descendant a child of this process, so that
    ``reap_children`` can wait for it.  Spark's Python daemon and its
    workers are the JVM's children; they end only after the JVM has."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list:
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat.rpartition(")")[2].split()[1] == me:
            kids.append(int(pid))
    return kids


def reap_children() -> None:
    """Wait until no child process is left; after 60 s, SIGKILL whatever
    still runs.  As a subreaper this process inherits each orphaned
    descendant, so no process it started outlives it."""
    deadline = time.monotonic() + 60
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                log(f"killing leftover process {kid}")
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    """One run of one workload: set-up, measured units, checks, counts."""

    def __init__(self, workload: str, seed: int, tmp: str, nproc: int):
        self.workload, self.seed, self.tmp, self.nproc = workload, seed, tmp, nproc
        self.warm_counts = None  # entity counts after the last warm-up batch
        self.attempted = self.failed = 0
        self.spark = None
        self.fingerprints = {}
        self._dirs = 0

    # -- bookkeeping ----------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def fresh(self, name: str) -> str:
        self._dirs += 1
        return self.path(f"{name}{self._dirs}")

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts it as failed (None)."""
        try:
            out = fn()
        except Exception:
            log(traceback.format_exc())
            self.op(False, what)
            return None
        self.op(True, what)
        return out

    def check(self, what: str, fn) -> None:
        """One correctness check: ``fn()`` returns a list of problems."""
        try:
            problems = fn()
        except Exception:
            log(traceback.format_exc())
            problems = ["raised"]
        self.op(not problems, f"{what}: {problems}")

    # -- session --------------------------------------------------------

    def start_session(self, event_dir=None) -> None:
        """``bench.build_spark`` at local[nproc]; with ``event_dir``, the
        session also writes an uncompressed event log there."""
        from bench import build_spark

        if event_dir is not None:
            os.makedirs(event_dir)
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.eventLog.enabled=true"
                f" --conf spark.eventLog.dir=file://{event_dir}"
                " --conf spark.eventLog.compress=false pyspark-shell")
        self.spark = build_spark(self.nproc, app=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then end its JVM (it exits when its stdin closes)
        and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def release(self) -> None:
        """Drop every cached frame and persisted RDD, so each unit starts
        from the same session state."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    # -- inputs ---------------------------------------------------------

    def pages(self, name: str = "pages"):
        import kg

        return kg.read_pages(self.spark, self.path(name))

    def embeddings(self):
        return self.spark.read.parquet(self.path("embeddings"))

    def batch(self, b: int):
        import kg

        return kg.read_pages(self.spark, self.path(f"batches/batch={b}"))

    # -- set-up ---------------------------------------------------------

    def setup(self, event_dir=None) -> None:
        """Session start, inputs, the canonical_map memo and a warm-up
        of the measured unit's own code paths on its own input, against
        a separate run dir or store: all of it is ``setup_s``."""
        import kg
        from kgkit.operators.canonicalize import canonical_map
        from spans import Tracer

        t0 = time.monotonic()
        self.start_session(event_dir)
        spark = self.spark
        g0 = time.monotonic()
        bulk = self.workload == "kg_bulk"
        plan = kg.recrawl_plan(1 if bulk else RECRAWL_BATCHES,
                               BATCH_PAGES, REVISIT_SHARE, self.seed)
        self.batch_sizes = [len(new) + len(rev) for new, rev in plan]
        if bulk:
            kg.write_bulk_pages(spark, self.path("pages"), BULK_PAGES, self.seed)
            kg.write_bulk_pages(spark, self.path("warm_pages"), WARM_PAGES, self.seed)
        else:
            kg.write_recrawl_batches(spark, self.path("batches"), plan, self.seed)
        n_ids = BULK_PAGES if bulk else plan[-1][0].stop
        kg.write_embeddings(spark, self.path("embeddings"), n_ids, self.seed)
        self.generate_s = time.monotonic() - g0
        if bulk and event_dir is not None:  # the traced run's kg_stream coverage
            kg.write_recrawl_batches(spark, self.path("batches"), plan, self.seed)
        c0 = time.monotonic()
        canonical_map(spark)  # the per-session memo every build reuses
        self.canon_s = time.monotonic() - c0
        self.urls = [f"synth://{i}" for i in sorted(
            random.Random(self.seed).sample(range(n_ids), min(URL_SAMPLE, n_ids)))]
        warm = Tracer()
        if bulk:
            built = kg.build(spark, warm, self.pages("warm_pages"), self.embeddings(),
                             self.path("warm_run"))
            kg.read_built(warm, built, self.urls)
        else:
            stm = kg.new_stream(self.embeddings(), self.path("warm_store"))
            for b in range(RECRAWL_BATCHES):
                kg.process_batch(warm, stm, self.batch(b), b)
            got = kg.read_stream(spark, warm, stm, self.urls)["entity_counts"]
            self.warm_counts = sorted(tuple(r) for r in got)
        self.release()
        self.setup_s = time.monotonic() - t0
        log(f"set-up {self.setup_s:.2f} s: session {g0 - t0:.2f}, inputs "
            f"{self.generate_s:.2f}, canonical_map {self.canon_s:.2f}, warm-up "
            f"{[round(s['end'] - s['start'], 2) for s in warm.spans if s['parent'] is None]}")

    # -- measured units -------------------------------------------------

    def bulk_pass(self, tracer) -> None:
        import kg

        built = self.guarded("build", lambda: kg.build(
            self.spark, tracer, self.pages(), self.embeddings(), self.fresh("run")))
        if built is None:
            return
        for _ in range(BULK_READS):
            self.guarded("read", lambda: kg.read_built(tracer, built, self.urls))
        self.release()
        self.built.append(built)

    def stream(self, tracer, n_batches: int):
        """A fresh recrawl stream over the first ``n_batches`` batches, each
        followed by one read.  In kg_recrawl, whose warm-up ran the whole
        sequence, the read after the last batch must return the warm-up's
        entity counts exactly."""
        import kg

        self.release()
        stm = kg.new_stream(self.embeddings(), self.fresh("store"))
        for b in range(n_batches):
            if self.guarded("process_batch", lambda: kg.process_batch(
                    tracer, stm, self.batch(b), b)) is None:
                return None
            got = self.guarded("read", lambda: kg.read_stream(
                self.spark, tracer, stm, self.urls))
            self.last_read = got
            if got is not None and self.warm_counts is not None \
                    and b == RECRAWL_BATCHES - 1:
                counts = sorted(tuple(r) for r in got["entity_counts"])
                self.check("entity counts after the last batch repeat the warm-up",
                           lambda: [] if counts == self.warm_counts else ["differ"])
        self.persisted_rdds = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        return stm

    def measure(self, tracer, seconds: float, min_units: int = 1) -> None:
        """Whole units (one bulk build pass, or the fixed recrawl batch
        sequence into a fresh store) until ``seconds`` have passed and at
        least ``min_units`` have run."""
        self.built, self.stm, self.last_read = [], None, None
        t_end = time.monotonic() + seconds
        for unit in itertools.count(1):
            if self.workload == "kg_bulk":
                self.bulk_pass(tracer)
            else:
                self.stm = self.stream(tracer, RECRAWL_BATCHES)
            if unit >= min_units and time.monotonic() >= t_end:
                break

    # -- checks (outside every timed span) ------------------------------

    def outputs(self, built) -> dict:
        """Row counts of every stage output, plus the triple fingerprint."""
        import kg

        out = {stage: built[stage].count() for _, stage in kg.STAGES}
        out["triple_fingerprint"] = kg.fingerprint(built["stage4_triples"], kg.TRIPLE_COLS)
        return out

    def checks(self) -> None:
        import kg

        if self.workload == "kg_bulk":
            want = None
            for built in self.built:
                got = self.outputs(built)
                self.check("mention byte identity", lambda: [
                    f"{n} mentions" for n in [kg.byte_identity_failures(
                        self.pages(), built["stage1_mentions"])] if n])
                if want is None:
                    want = got
                else:
                    self.check("rows and triple fingerprint repeat the first build",
                               lambda: [k for k in want if got[k] != want[k]])
            self.fingerprints = want or {}
            return
        if self.stm is None or self.last_read is None:
            self.op(False, "no complete recrawl sequence to check")
            return
        latest = kg.latest_versions(self.spark, self.path("batches"))
        ref = kg.batch_reference(self.spark, latest, self.embeddings())
        log("batch reference built")
        self.check("mention byte identity (latest versions)", lambda: [
            f"{n} mentions" for n in [kg.byte_identity_failures(
                latest, ref["mentions"])] if n])
        self.check("stream reads equal the batch pipeline over latest versions",
                   lambda: kg.stream_mismatches(self.spark, self.stm, self.last_read, ref))
        self.fingerprints = {
            "triples": len(ref["triples"]), "relations": len(ref["relations"]),
            "triples_digest": kg.digest(ref["triples"]),
            "relations_digest": kg.digest(ref["relations"])}

    # -- end-to-end metrics ---------------------------------------------

    def end_to_end(self, tracer) -> dict:
        """name -> (value, sample count)."""
        if self.workload == "kg_bulk":
            walls = tracer.walls("build")
            pages = BULK_PAGES * len(walls)
        else:
            walls = tracer.walls("process_batch")
            pages = sum(self.batch_sizes[s["batch"]] for s in tracer.spans
                        if s["name"] == "process_batch")
        reads = tracer.walls("read")
        return {
            "setup_s": (self.setup_s, 1),
            "pages_per_s": (pages / sum(walls) if walls else float("nan"), len(walls)),
            "batch_p50_s": (_median(walls), len(walls)),
            "read_p50_s": (_median(reads), len(reads)),
        }


def run_untraced(bench: Bench, seconds: float) -> dict:
    import kg
    from spans import Tracer

    bench.setup()
    tracer = Tracer()
    bench.measure(tracer, seconds, BULK_BUILDS if bench.workload == "kg_bulk" else 1)
    log("walls: " + ", ".join(f"{n} {[round(w, 2) for w in tracer.walls(n)]}"
                              for n in ("build", *(st for _, st in kg.STAGES),
                                        "process_batch", "read")))
    bench.checks()
    log(f"checks done: {bench.attempted} operations, {bench.failed} failed")
    return bench.end_to_end(tracer)


def run_traced(bench: Bench, artifact: str) -> dict:
    """The event log is on for this session only.  The workload's unit
    runs plain (kg_recrawl: its first batch only), then again with a job
    group around every call; the first build or batch of each gives
    ``trace.overhead_pct``.  The traced run then covers the layers its
    workload's unit does not reach: a one-batch stream for kg_bulk, a
    StageRunner build of the latest versions for kg_recrawl."""
    import kg
    import spans

    events = bench.path("events")
    bench.setup(event_dir=events)
    spark, sc = bench.spark, bench.spark.sparkContext
    bulk = bench.workload == "kg_bulk"
    unit = "build" if bulk else "process_batch"
    plain = spans.Tracer()
    if bulk:
        bench.measure(plain, 0)
    else:
        bench.stream(plain, 1)
    tracer = spans.Tracer(sc)
    bench.measure(tracer, 0)
    overhead = 100.0 * (tracer.walls(unit)[0] / plain.walls(unit)[0] - 1)
    if bulk:
        bench.stm = bench.stream(tracer, 1)
        built = bench.built[-1]
    else:
        built = kg.build(spark, tracer, kg.latest_versions(spark, bench.path("batches")),
                         bench.embeddings(), bench.fresh("run"))
    bench.checks()
    rows = bench.outputs(built)
    store_parts, store_bytes = kg.store_size(bench.stm.triples_dir)
    inputs = bench.pages() if bulk else bench.batch(0)
    texts = [r["text"] for r in inputs.limit(NER_SAMPLE).collect()]
    tracer.attribute()
    bench.stop_session()

    kg.ner_pages_per_s(texts[:8])  # builds the tokenizer and tagger singletons
    ner = kg.ner_pages_per_s(texts)
    counters = spans.event_log_counters(events)
    for s in tracer.spans:
        s.update(counters.get(s.get("group")) or spans.zero_counters())

    m = {"sources.generate_s": bench.generate_s, "ner_core.pages_per_s": ner,
         "canonicalize.stage_s": bench.canon_s}
    build_span = [s for s in tracer.spans if s["name"] == "build"][-1]
    stage = {s["name"]: s for s in tracer.spans if s["parent"] == build_span["id"]}
    for layer, name in kg.STAGES:
        if layer != "canonicalize":
            m[f"{layer}.stage_s"] = stage[name]["end"] - stage[name]["start"]
            m[f"{layer}.rows"] = rows[name]
            m[f"{layer}.jobs"] = stage[name]["jobs"]
    for k in ("py_start_ms", "py_init_ms", "py_run_ms", "tasks"):
        m[f"mentions.{k}"] = stage["stage1_mentions"][k]
    m["triples.shuffle_bytes"] = stage["stage4_triples"]["shuffle_bytes"]
    m["relations.shuffle_bytes"] = stage["stage4b_relations"]["shuffle_bytes"]
    m["stages.jobs"] = sum(s["jobs"] for s in stage.values())
    m["stages.bytes_written"] = sum(s["bytes_written"] for s in stage.values())
    m["stages.unattributed_s"] = (build_span["end"] - build_span["start"]) - sum(
        s["end"] - s["start"] for s in stage.values())
    batches = [s for s in tracer.spans if s["name"] == "process_batch"]
    accessors = [s for s in tracer.spans if s["name"].startswith("kg_stream.")]
    m["kg_stream.jobs_per_batch"] = statistics.mean(s["jobs"] for s in batches)
    m["kg_stream.tasks_per_batch"] = statistics.mean(s["tasks"] for s in batches)
    m["kg_stream.store_parts"] = store_parts
    m["kg_stream.store_bytes"] = store_bytes
    m["kg_stream.persisted_rdds"] = bench.persisted_rdds
    for acc in ("entity_counts", "relations", "triples"):
        m[f"kg_stream.{acc}_s"] = _median(tracer.walls(f"kg_stream.{acc}"))
    m["kg_stream.read_jobs"] = sum(s["jobs"] for s in accessors) / len(
        {s["parent"] for s in accessors})
    m["trace.overhead_pct"] = overhead

    t_base = min(s["start"] for s in tracer.spans)
    with open(artifact, "w") as fh:
        json.dump({
            "workload": bench.workload, "seed": bench.seed, "nproc": bench.nproc,
            "metrics": m, "rows": rows, "fingerprints": bench.fingerprints,
            "spans": [{**s, "start": s["start"] - t_base, "end": s["end"] - t_base}
                      for s in sorted(tracer.spans, key=lambda s: s["id"])],
        }, fh, indent=1)
    log(f"per-layer artifact: {artifact}")
    return {k: (v, 1) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401  (the session shape)
        import kg  # noqa: F401  (imports pyspark and kgkit)
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2
    import hostctl

    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    become_subreaper()
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # Python workers import kgkit from this checkout; every scratch file
    # Spark, the JVM and Python write goes under the run's temp dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tempfile.tempdir}", "-XX:-UsePerfData")))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    b = Bench(args.workload, args.seed, tmp, nproc)
    try:
        host = hostctl.host_controls(nproc)
        if args.trace:
            artifact = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
            metrics = run_traced(b, artifact)
            metrics.update({k: (v, 1) for k, v in host.items()})
            names = PER_LAYER
        else:
            metrics = run_untraced(b, args.seconds)
            names = END_TO_END
    finally:
        try:
            b.stop_session()
        finally:
            reap_children()
            shutil.rmtree(tmp, ignore_errors=True)

    for name, unit in names.items():
        value, n = metrics[name]
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    print(f"{args.workload} operations: {b.attempted} attempted, {b.failed} failed")
    print(f"{args.workload} fingerprints: {json.dumps(b.fingerprints, default=str)}")
    print(f"{args.workload} host controls: {json.dumps(host)}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {name: {"value": metrics[name][0], "unit": unit}
                    for name, unit in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
