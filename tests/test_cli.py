"""CLI surface (python -m kgkit …) — the reference's thin command group
re-expressed over kgkit's entry points.  Spark-backed subcommands are
thin calls into run_kg_pipeline / QUERIES (covered by test_stages and
the oracle gate); these tests drive the pure-python paths end to end."""

from __future__ import annotations

import json


class TestPredictCommand:
    def test_args_mode_prints_json_records(self, capsys):
        from kgkit.cli import main

        assert main(["predict", "the spark hash join"]) == 0
        out = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        assert len(out) == 1
        recs = out[0]["predictions"]
        assert [(r["token"], r["tag"]) for r in recs] == [
            ("spark", "TECH"), ("hash join", "OP"),
        ]
        text = out[0]["text"]
        for r in recs:
            assert text[int(r["char_start"]):int(r["char_end"])] == r["token"]

    def test_stdin_mode_and_word_level(self, capsys, monkeypatch):
        import io

        from kgkit.cli import main

        monkeypatch.setattr("sys.stdin", io.StringIO("spark joins\n\ncustomer\n"))
        assert main(["predict", "--level", "word"]) == 0
        out = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        assert [o["text"] for o in out] == ["spark joins", "customer"]
        assert out[1]["predictions"][0]["tag"] == "B-DIM"


class TestParserSurface:
    def test_all_subcommands_registered(self):
        from kgkit.cli import build_parser

        sub = build_parser()._subparsers._group_actions[0]
        assert set(sub.choices) == {
            "predict", "predict-file", "run-pipeline", "evaluate", "lineage",
            "clean", "query", "export-rdf",
        }

    def test_run_pipeline_requires_pages_and_out(self):
        import pytest

        from kgkit.cli import build_parser

        with pytest.raises(SystemExit):
            build_parser().parse_args(["run-pipeline", "--out", "/tmp/x"])


class TestCleanCommand:
    def test_clean_writes_parquet_and_stats(self, spark, tmp_path, capsys):
        # spark fixture keeps the session alive; cmd_clean's
        # getOrCreate() reuses it
        from kgkit.cli import main
        from kgkit.operators.quality_clf import (
            corrupt_scramble,
            fluent_pages,
        )

        pos = fluent_pages(6, seed=77)
        rows = [(i, t) for i, t in enumerate(pos)]
        rows += [(50, pos[0]), (51, corrupt_scramble(pos[1], 5))]
        src, dst = str(tmp_path / "in.pq"), str(tmp_path / "out.pq")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            rc = main(["clean", src, dst, "--clf", "default",
                       "--shuffle-partitions", "8"])
        finally:
            # cmd_clean's getOrCreate() applied its runtime conf to the
            # shared test session — restore for later modules
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        assert rc == 0
        import json as _json

        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        stats = out["stats"]
        assert stats["dropped_exact"] == 1          # doc 50
        assert stats["dropped_clf"] >= 1            # doc 51
        assert stats["after_clf"] == spark.read.parquet(dst).count()


class TestLineageCommand:
    def test_prints_a_pipeline_runs_lineage(self, spark, tmp_path, capsys):
        from test_kg_stream import SF_DIR  # the stream tests' sf0.001 data

        from kgkit.cli import main
        from kgkit.plans.stages import run_kg_pipeline

        run_dir = str(tmp_path / "run")
        run_kg_pipeline(spark, SF_DIR, run_dir)
        capsys.readouterr()
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["lineage", run_dir]) == 0
        finally:
            # cmd_lineage's getOrCreate() applies its conf to this session
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        out = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        keys = [(r["stage"], r["partition_id"]) for r in out]
        assert keys == sorted(keys)
        assert {r["stage"] for r in out} == {
            "stage1_mentions", "stage2_linked", "stage3_canonical",
            "stage4_triples", "stage4b_relations",
        }
        assert sum(r["rows"] for r in out if r["stage"] == "stage4_triples") \
            == spark.read.parquet(f"{run_dir}/stage4_triples").count()


class TestQueryCommand:
    def _run_dir(self, spark, tmp_path):
        rel = spark.createDataFrame(
            [
                ("Q1", "is a", "Q2", "isa", 3, 5, 0.5),
                ("Q1", "uses", "Q2", "action", 2, 5, 0.4),
                ("Q2", "powers the", "Q3", "action", 4, 4, 1.0),
                ("Q3", "and the", "Q1", "assoc", 1, 1, -0.2),
            ],
            "subj string, pred string, obj string, rel_type string, "
            "n long, pair_n long, npmi double",
        )
        rel.write.parquet(str(tmp_path / "run" / "stage4b_relations"))
        return str(tmp_path / "run")

    def test_edges_authority_neighborhood_predicates(
        self, spark, tmp_path, capsys
    ):
        from kgkit.cli import main

        run = self._run_dir(spark, tmp_path)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["query", run, "--limit", "2"]) == 0
            edges = [json.loads(l) for l in
                     capsys.readouterr().out.strip().splitlines()]
            assert edges[0]["npmi"] == 1.0  # strongest association first

            assert main(["query", run, "--op", "authority"]) == 0
            ranks = [json.loads(l) for l in
                     capsys.readouterr().out.strip().splitlines()]
            assert {r["node"] for r in ranks} == {"Q1", "Q2", "Q3"}
            assert all(isinstance(r["rank_q"], int) for r in ranks)

            assert main(["query", run, "--op", "neighborhood",
                         "--seeds", "Q1", "--k", "1", "--directed"]) == 0
            hood = {json.loads(l)["entity"]: json.loads(l)["hops"]
                    for l in capsys.readouterr().out.strip().splitlines()}
            assert hood == {"Q1": 0, "Q2": 1}

            assert main(["query", run, "--op", "predicates"]) == 0
            preds = {(p["subj"], p["obj"]): p["pred"] for p in
                     (json.loads(l) for l in
                      capsys.readouterr().out.strip().splitlines())}
            assert preds[("Q1", "Q2")] == "is a"  # n=3 beats n=2
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    def test_match_bgp(self, spark, tmp_path, capsys):
        """SPARQL-style BGP over the run's relation graph: a 2-hop
        chain through ?m, anchored nowhere — the match op wires
        operators/bgp.py into the CLI."""
        from kgkit.cli import main

        run = self._run_dir(spark, tmp_path)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main([
                "query", run, "--op", "match",
                "--pattern", "?a", "?p1", "?m",
                "--pattern", "?m", "powers the", "?b",
            ]) == 0
            rows = [json.loads(l) for l in
                    capsys.readouterr().out.strip().splitlines()]
            assert {(r["a"], r["m"], r["b"]) for r in rows} == {
                ("Q1", "Q2", "Q3")
            }
            assert {r["p1"] for r in rows} == {"is a", "uses"}

            assert main(["query", run, "--op", "match"]) == 2  # no pattern
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    def test_stats(self, spark, tmp_path, capsys):
        from kgkit.cli import main

        run = self._run_dir(spark, tmp_path)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["query", run, "--op", "stats"]) == 0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # Q1-Q2-Q3 closes a triangle (Q3->Q1 edge); 4 directed edges
        # collapse to 3 undirected
        assert st == {"nodes": 3, "edges": 3, "triangles": 1,
                      "wedges": 3, "global_clustering": 1.0}

    def test_export_rdf(self, spark, tmp_path, capsys):
        import gzip
        import os

        from kgkit.cli import main
        from kgkit.sources.rdf import parse_ntriples_line

        run = self._run_dir(spark, tmp_path)
        out = str(tmp_path / "nt")
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["export-rdf", run, out, "--table", "relations"]) == 0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        lines = []
        for f in os.listdir(out):
            if f.startswith("part-"):
                with gzip.open(os.path.join(out, f), "rt") as fh:
                    lines += [l.rstrip("\n") for l in fh]
        assert len(lines) == 4
        for l in lines:
            parse_ntriples_line(l)  # grammatical
        assert any("powers%20the" in l for l in lines)

    def test_match_triples_only_run_and_ask(self, spark, tmp_path, capsys):
        """A resumable run may hold stage4_triples WITHOUT the
        relations table — --table triples must not touch it; a
        fully-constant BGP answers as a SPARQL ASK."""
        from kgkit.cli import main

        t = spark.createDataFrame(
            [("d1", "mentions", "Q1"), ("d1", "mentions", "Q2")],
            "subj string, pred string, obj string",
        )
        run = str(tmp_path / "run2")
        t.write.parquet(f"{run}/stage4_triples")  # no stage4b_relations
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["query", run, "--op", "match", "--table", "triples",
                         "--pattern", "d1", "mentions", "?x"]) == 0
            rows = {json.loads(l)["x"] for l in
                    capsys.readouterr().out.strip().splitlines()}
            assert rows == {"Q1", "Q2"}

            assert main(["query", run, "--op", "match", "--table", "triples",
                         "--pattern", "d1", "mentions", "Q1"]) == 0
            assert json.loads(
                capsys.readouterr().out.strip()
            ) == {"matched": True}

            assert main(["query", run, "--op", "match", "--table", "triples",
                         "--pattern", "d9", "mentions", "Q1"]) == 0
            assert json.loads(
                capsys.readouterr().out.strip()
            ) == {"matched": False}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    def test_neighborhood_requires_seeds(self, spark, tmp_path, capsys):
        from kgkit.cli import main

        run = self._run_dir(spark, tmp_path)
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            assert main(["query", run, "--op", "neighborhood"]) == 2
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
