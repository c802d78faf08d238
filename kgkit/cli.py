"""Command-line interface of the kgkit package (`python -m kgkit …`).

The reference ships a thin click group (`nerblackbox` —
/root/reference/nerblackbox/cli.py:21-47) whose commands launch result
browsers (mlflow/tensorboard) over the store directory.  kgkit's
results browser is the `_lineage` parquet a pipeline run writes (SURVEY
§2.2 K5), so the equivalent surface is stdlib argparse over the
engine's own entry points — no click dependency:

    python -m kgkit predict "the spark hash join" [--level entity|word]
    python -m kgkit run-pipeline --pages SF_DIR --out RUN_DIR [...]
    python -m kgkit evaluate [--sf-dir DIR]          # A9 fan-out table
    python -m kgkit lineage RUN_DIR                  # the results browser

`predict` mirrors Model.predict's CLI ergonomics (JSON records per
input text) and runs pure-python (no Spark session); the Spark-backed
commands build a local session unless spark-submit provides one.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import List, Optional


def _spark(shuffle_partitions: int = 32):
    from pyspark.sql import SparkSession

    from kgkit import SESSION_CONF

    spark = (
        SparkSession.builder.appName("kgkit-cli")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_predict(args) -> int:
    from kgkit.ner_core import predict

    texts = list(args.text)
    if not texts or texts == ["-"]:
        texts = [line.rstrip("\n") for line in sys.stdin if line.strip()]
    results = predict(
        texts,
        level=args.level,
        autocorrect=not args.no_autocorrect,
        is_pretokenized=args.pretokenized,
    )
    for text, records in zip(texts, results):
        print(json.dumps({"text": text, "predictions": records},
                         ensure_ascii=False))
    return 0


def cmd_predict_file(args) -> int:
    """Model.predict_on_file parity: file in, predictions file out."""
    from kgkit.sources.formats import predict_on_file

    spark = _spark(args.shuffle_partitions)
    predict_on_file(spark, args.input_file, args.output_file,
                    model=args.model)
    print(json.dumps({"input": args.input_file, "output": args.output_file}))
    return 0


def cmd_run_pipeline(args) -> int:
    from kgkit.plans.stages import run_kg_pipeline

    spark = _spark(args.shuffle_partitions)
    result = run_kg_pipeline(spark, args.pages, args.out,
                             n_buckets=args.buckets)
    print(json.dumps({
        "out": args.out,
        "n_triples": result["triples"].count(),
        "stages": result["runner"].executed,
    }))
    return 0


def cmd_evaluate(args) -> int:
    """A9 metric fan-out over the driver corpus — the evaluation table
    the reference's evaluate_on_dataset prints, as JSON rows."""
    from kgkit.queries import QUERIES

    spark = _spark(args.shuffle_partitions)
    rows = QUERIES["eval_fanout"](spark, args.sf_dir).collect()
    for r in rows:
        print(json.dumps(r.asDict(), ensure_ascii=False))
    return 0


def cmd_clean(args) -> int:
    """Corpus hygiene end to end: clean_corpus over a parquet of
    (doc_id, url?, text), cleaned parquet out, per-stage accounting as
    the one JSON line a pipeline log wants.  --clf adds the trained
    model filter stage (checkpoint path, or 'default' for the packaged
    one)."""
    from kgkit.operators.corpus_clean import clean_corpus

    clf = None
    if args.clf:
        from kgkit.operators.quality_clf import (
            QualityClassifier,
            default_quality_clf,
        )

        clf = (default_quality_clf() if args.clf == "default"
               else QualityClassifier.load(args.clf))
    spark = _spark(args.shuffle_partitions)
    docs = spark.read.parquet(args.input)
    bench = (
        spark.read.parquet(args.benchmarks) if args.benchmarks else None
    )
    cleaned, stats = clean_corpus(
        docs,
        near_dup_threshold=args.near_dup_threshold,
        near_dup_strategy=args.near_dup_strategy,
        quality_clf=clf,
        benchmarks=bench,
        decontaminate_n=args.decontaminate_n,
    )
    cleaned.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"input": args.input, "output": args.output,
                      "stats": stats}))
    return 0


def cmd_query(args) -> int:
    """Query the constructed KG of a pipeline run: graph analytics over
    the stage-4b relation table (entity-graph-sized — none of these
    touch the corpus), plus SPARQL-style BGP matching (``--op match``,
    operators/bgp.py) over either graph table.  JSON rows to stdout."""
    from pyspark.sql import functions as F

    from kgkit.operators.relations import (
        canonical_predicates,
        entity_authority,
        neighborhood,
    )

    spark = _spark(args.shuffle_partitions)

    # read only the table the op needs: a resumable run may hold
    # stage4_triples without stage4b_relations (or vice versa), and
    # parquet schema inference raises at read time
    def rel():
        return spark.read.parquet(f"{args.run_dir}/stage4b_relations")

    if args.op == "authority":
        out = entity_authority(rel(), iters=args.iters).orderBy(
            F.desc("rank_q"), "node"
        )
    elif args.op == "neighborhood":
        if not args.seeds:
            print("--seeds required for neighborhood", file=sys.stderr)
            return 2
        out = neighborhood(
            rel(), args.seeds, k=args.k, directed=args.directed
        ).orderBy("hops", "entity")
    elif args.op == "predicates":
        out = canonical_predicates(rel()).orderBy(
            F.desc("pair_n"), "subj", "obj"
        )
    elif args.op == "stats":
        from kgkit.operators.linkgraph import graph_stats

        st = graph_stats(
            rel().select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst"))
        )
        print(json.dumps(st))
        return 0
    elif args.op == "match":
        from kgkit.operators.bgp import match_patterns

        if not args.pattern:
            print("--pattern required for match", file=sys.stderr)
            return 2
        pats = [tuple(p) for p in args.pattern]
        if any(len(p) != 3 for p in pats):
            print("each --pattern needs exactly s p o", file=sys.stderr)
            return 2
        t = (
            spark.read.parquet(f"{args.run_dir}/stage4_triples")
            if args.table == "triples"
            else rel()
        ).select("subj", "pred", "obj")
        out = match_patterns(t, pats, distinct=True)
        if not out.columns:
            # fully-constant BGP: a SPARQL ASK — answer existence
            print(json.dumps({"matched": not out.isEmpty()}))
            return 0
        out = out.orderBy(*sorted(out.columns))
    else:  # edges: strongest associations first
        out = rel().orderBy(
            F.desc("npmi"), F.desc("n"), "subj", "pred", "obj"
        )
    for r in out.limit(args.limit).collect():
        print(json.dumps(r.asDict(), ensure_ascii=False))
    return 0


def cmd_export_rdf(args) -> int:
    """Bulk-export a run's graph as gzip N-Triples (the format every
    triple store loads) — a pure projection, zero shuffle."""
    from kgkit.sources.rdf import write_ntriples

    spark = _spark(args.shuffle_partitions)
    table = "stage4_triples" if args.table == "triples" else "stage4b_relations"
    t = spark.read.parquet(f"{args.run_dir}/{table}").select(
        "subj", "pred", "obj"
    )
    write_ntriples(t, args.output, base=args.base)
    print(json.dumps({"output": args.output, "table": args.table}))
    return 0


def cmd_lineage(args) -> int:
    """Results browser: print the `_lineage` rows of a pipeline run
    (the kgkit stand-in for the reference's mlflow UI launcher)."""
    spark = _spark(8)
    path = f"{args.run_dir}/_lineage"
    for r in spark.read.parquet(path).orderBy("stage", "partition_id").collect():
        print(json.dumps(r.asDict(), ensure_ascii=False, default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="kgkit")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("predict", help="NER records for input texts (no Spark)")
    p.add_argument("text", nargs="*", help="input texts ('-' or empty = stdin lines)")
    p.add_argument("--level", choices=("entity", "word"), default="entity")
    p.add_argument("--no-autocorrect", action="store_true")
    p.add_argument("--pretokenized", action="store_true")
    p.set_defaults(fn=cmd_predict)

    p = sub.add_parser(
        "predict-file",
        help="JSONL of {'text'} lines -> {'text','tags'} lines (distributed)",
    )
    p.add_argument("input_file")
    p.add_argument("output_file")
    p.add_argument("--model", default="gazetteer")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.set_defaults(fn=cmd_predict_file)

    p = sub.add_parser("run-pipeline", help="KG pipeline (stages 1-4b) with resume")
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.set_defaults(fn=cmd_run_pipeline)

    p = sub.add_parser("evaluate", help="A9 metric fan-out as JSON rows")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.set_defaults(fn=cmd_evaluate)

    p = sub.add_parser(
        "clean", help="clean_corpus over a parquet corpus, stats to stdout"
    )
    p.add_argument("input", help="parquet of (doc_id, url?, text)")
    p.add_argument("output", help="cleaned parquet path")
    p.add_argument("--clf", default=None,
                   help="trained-filter checkpoint path, or 'default'")
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--near-dup-strategy", default="greedy",
                   choices=["greedy", "clusters"])
    p.add_argument("--benchmarks", default=None,
                   help="parquet of (doc_id, text) eval items — adds "
                        "n-gram decontamination as the final stage")
    p.add_argument("--decontaminate-n", type=int, default=13)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.set_defaults(fn=cmd_clean)

    p = sub.add_parser(
        "query",
        help="KG analytics over a pipeline run (edges | authority | "
             "neighborhood | predicates | match | stats)",
    )
    p.add_argument("run_dir", help="run dir of `run-pipeline`")
    p.add_argument("--op", default="edges",
                   choices=["edges", "authority", "neighborhood",
                            "predicates", "match", "stats"])
    p.add_argument("--seeds", nargs="*", default=[],
                   help="seed entities (neighborhood)")
    p.add_argument("--pattern", nargs=3, action="append", default=[],
                   metavar=("S", "P", "O"),
                   help="triple pattern, '?name' = variable; repeatable "
                        "(match — SPARQL-style BGP over the graph)")
    p.add_argument("--table", default="relations",
                   choices=["relations", "triples"],
                   help="graph to match against (match)")
    p.add_argument("--k", type=int, default=2, help="hop cap (neighborhood)")
    p.add_argument("--directed", action="store_true")
    p.add_argument("--iters", type=int, default=5, help="PageRank rounds")
    p.add_argument("--limit", type=int, default=50)
    p.add_argument("--shuffle-partitions", type=int, default=8)
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser(
        "export-rdf", help="export a run's graph as gzip N-Triples"
    )
    p.add_argument("run_dir", help="run dir of `run-pipeline`")
    p.add_argument("output", help="output directory (.nt.gz shards)")
    p.add_argument("--table", default="triples",
                   choices=["triples", "relations"])
    p.add_argument("--base", default="http://example.org/kg/",
                   help="IRI base for minted entity/predicate names")
    p.add_argument("--shuffle-partitions", type=int, default=8)
    p.set_defaults(fn=cmd_export_rdf)

    p = sub.add_parser("lineage", help="print a run's _lineage rows")
    p.add_argument("run_dir")
    p.set_defaults(fn=cmd_lineage)
    return ap


def main(argv: Optional[List[str]] = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
