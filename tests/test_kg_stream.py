"""Incremental KG construction stream: stream == batch, replay
idempotence, durable resume, materialized views, declared part
schemas."""

from __future__ import annotations

import shutil
import tempfile

import pytest


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def landing_dir(spark):
    """sf0.001 pages as 4 parquet files (one micro-batch each at
    maxFilesPerTrigger=1); every url lands in exactly one file."""
    from kgkit.sources.pages import load_pages

    d = tempfile.mkdtemp(prefix="kgkit_kgstream_")
    load_pages(spark, SF_DIR).repartition(4).write.mode("overwrite").parquet(
        f"{d}/pages"
    )
    yield f"{d}/pages"
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _batch_triples(spark, pages, embeddings):
    """The one-shot batch pipeline over the same pages."""
    from kgkit.operators.canonicalize import canonical_map
    from kgkit.operators.linking import link_mentions
    from kgkit.operators.mentions import detect_mentions
    from kgkit.operators.triples import assemble_triples

    return assemble_triples(
        link_mentions(detect_mentions(pages), embeddings),
        canonical_map(spark),
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _batch_relations(spark, pages, embeddings):
    from kgkit.operators.canonicalize import canonical_map
    from kgkit.operators.linking import link_mentions
    from kgkit.operators.mentions import detect_mentions
    from kgkit.operators.relations import extract_relations

    return extract_relations(
        pages,
        link_mentions(detect_mentions(pages), embeddings),
        canonical_map(spark),
    )


class TestStreamEqualsBatch:
    def test_triples_and_counts_match_batch(
        self, spark, landing_dir, embeddings, tmp_path
    ):
        from kgkit.streaming.kg_stream import IncrementalKGStream
        from kgkit.sources.pages import PAGE_SCHEMA

        stm = IncrementalKGStream(
            embeddings, triples_dir=str(tmp_path / "store")
        )
        stream = (
            spark.readStream.schema(PAGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing_dir)
        )
        q = stm.attach(
            stream,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_once=True,
        )
        q.awaitTermination(900)
        assert len(stm.store.counted) >= 2  # genuinely multi-batch

        batch = _batch_triples(
            spark, spark.read.parquet(landing_dir), embeddings
        )
        got = _rows(stm.triples(spark))
        want = _rows(batch)
        assert len(want) > 0 and got == want

        # relations: merged per-batch partial counts + read-time NPMI
        # must equal the one-shot batch extraction row-for-row (sums
        # commute; NPMI is a pure function of the merged integers)
        got_rel = _rows(stm.relations())
        want_rel = _rows(
            _batch_relations(spark, spark.read.parquet(landing_dir),
                             embeddings)
        )
        assert len(want_rel) > 0 and got_rel == want_rel

        from pyspark.sql import functions as F

        got_counts = _rows(stm.entity_counts())
        want_counts = _rows(
            batch.groupBy("obj").count().select(
                "obj", F.col("count").cast("long").alias("n_triples")
            )
        )
        assert got_counts == want_counts


class TestReplayIdempotence:
    def test_same_batch_id_counts_once(self, spark, embeddings, tmp_path):
        from kgkit.sources.pages import load_pages, pages_for_mentions
        from kgkit.streaming.kg_stream import IncrementalKGStream

        pages = pages_for_mentions(load_pages(spark, SF_DIR)).filter(
            "pmod(xxhash64(url), 5) = 0"
        )
        stm = IncrementalKGStream(
            embeddings, triples_dir=str(tmp_path / "store")
        )
        first = _rows(stm.process_batch(pages, batch_id=0))
        views = dict(stm.store.views)
        annotated = stm.relations()
        # foreachBatch replay: same batch_id, same rows
        replay = _rows(stm.process_batch(pages, batch_id=0))
        assert replay == first
        # guarded: counted once, and the replay materializes no view
        assert stm.store.counted == {0}
        assert all(stm.store.views[n] is v for n, v in views.items())
        assert stm.relations() is annotated
        assert _rows(stm.triples(spark)) == first  # dir overwritten, not doubled
        want = {}
        for row in first:
            # columns sorted: bucket, char_end, char_start, obj, pred, subj, url
            want[row[3]] = want.get(row[3], 0) + 1
        got = {r["obj"]: r["n_triples"] for r in stm.entity_counts().collect()}
        assert got == want


class TestRecrawl:
    """Supersession: a recrawled url's old version is retracted from
    every live aggregate; all read paths equal the batch pipeline over
    each url's LATEST version."""

    def _slices(self, spark):
        from kgkit.sources.pages import load_pages, pages_for_mentions
        from pyspark.sql import functions as F

        pages = pages_for_mentions(load_pages(spark, SF_DIR)).filter(
            "pmod(xxhash64(url), 6) = 0"
        )
        a = pages.filter("pmod(xxhash64(url), 3) = 0")
        b = pages.filter("pmod(xxhash64(url), 3) = 1")
        c = pages.filter("pmod(xxhash64(url), 3) = 2")
        # version 2 of HALF of slice a: new text, same urls
        a2 = a.filter("pmod(xxhash64(url), 2) = 0").withColumn(
            "text", F.concat(F.lit("fresh spark stream content "),
                             F.col("text"))
        )
        # version 3 of a subset of those
        a3 = a2.filter("pmod(xxhash64(url), 4) = 0").withColumn(
            "text", F.concat(F.lit("third crawl vector data "),
                             F.col("text"))
        )
        return a, b, c, a2, a3

    @staticmethod
    def _latest(*versions):
        """Later frames win per url."""
        out = versions[0]
        for v in versions[1:]:
            out = out.join(
                v.select("url"), "url", "left_anti"
            ).unionByName(v)
        return out

    def test_all_reads_equal_batch_over_latest(
        self, spark, embeddings, tmp_path
    ):
        from kgkit.streaming.kg_stream import IncrementalKGStream

        a, b, c, a2, a3 = self._slices(spark)
        stm = IncrementalKGStream(
            embeddings, triples_dir=str(tmp_path / "store"), recrawl=True
        )
        stm.process_batch(a, batch_id=0)
        stm.process_batch(b.unionByName(a2), batch_id=1)  # recrawl half of a
        stm.process_batch(c.unionByName(a3), batch_id=2)  # third version

        latest = self._latest(a, b.unionByName(a2), c.unionByName(a3))
        batch = _batch_triples(spark, latest, embeddings)
        assert len(_rows(batch)) > 0
        assert _rows(stm.triples(spark)) == _rows(batch)
        got = {r["obj"]: r["n_triples"]
               for r in stm.entity_counts().collect()}
        want = {r["obj"]: r["count"]
                for r in batch.groupBy("obj").count().collect()}
        assert got == want
        assert _rows(stm.relations()) == _rows(
            _batch_relations(spark, latest, embeddings)
        )

    def test_recrawl_replay_and_resume(self, spark, embeddings, tmp_path):
        from kgkit.streaming.kg_stream import IncrementalKGStream

        a, b, c, a2, _ = self._slices(spark)
        store = str(tmp_path / "store")
        stm = IncrementalKGStream(
            embeddings, triples_dir=store, recrawl=True
        )
        stm.process_batch(a, batch_id=0)
        stm.process_batch(a2, batch_id=1)
        want_counts = _rows(stm.entity_counts())
        want_rel = _rows(stm.relations())
        # replay of the recrawl batch: retraction must NOT run twice
        stm.process_batch(a2, batch_id=1)
        assert _rows(stm.entity_counts()) == want_counts
        assert _rows(stm.relations()) == want_rel
        latest = self._latest(a, a2)
        assert want_rel == _rows(_batch_relations(spark, latest, embeddings))

        # crash: resume rebuilds counts + url index from the store,
        # serving only latest versions
        stm2 = IncrementalKGStream.resume(
            spark, embeddings, store, recrawl=True
        )
        assert stm2.store.counted == {0, 1}
        assert _rows(stm2.entity_counts()) == want_counts
        assert _rows(stm2.triples(spark)) == _rows(
            _batch_triples(spark, latest, embeddings)
        )
        assert _rows(stm2.relations()) == _rows(
            _batch_relations(spark, latest, embeddings)
        )
        # and the resumed stream keeps superseding correctly
        from pyspark.sql import functions as F

        a3 = a2.withColumn(
            "text", F.concat(F.lit("resumed recrawl "), F.col("text"))
        )
        stm2.process_batch(a3, batch_id=2)
        latest3 = self._latest(a, a2, a3)
        assert _rows(stm2.triples(spark)) == _rows(
            _batch_triples(spark, latest3, embeddings)
        )

    def test_resume_supersedes_a_version_with_no_triples(
        self, spark, embeddings, tmp_path
    ):
        """A url recrawled with mention-free text yields no triples in
        its latest version; after resume its older version must stay
        superseded, as it is in the live stream."""
        from kgkit.streaming.kg_stream import IncrementalKGStream

        schema = "url string, text string"
        v1 = spark.createDataFrame(
            [("u1", "the spark hash join runs")], schema
        )
        v2 = spark.createDataFrame([("u1", "nothing to see here")], schema)
        other = spark.createDataFrame(
            [("u2", "a broadcast join over the orders table")], schema
        )
        assert _batch_triples(spark, v1, embeddings).count() == 3
        store = str(tmp_path / "store")
        stm = IncrementalKGStream(embeddings, triples_dir=store, recrawl=True)
        stm.process_batch(v1.unionByName(other), batch_id=0)
        stm.process_batch(v2, batch_id=1)

        batch = _batch_triples(spark, self._latest(v1.unionByName(other), v2),
                               embeddings)
        want = _rows(batch)
        want_counts = {r["obj"]: r["count"]
                       for r in batch.groupBy("obj").count().collect()}
        stm2 = IncrementalKGStream.resume(spark, embeddings, store, recrawl=True)
        for s in (stm, stm2):
            assert _rows(s.triples(spark)) == want
            assert {r["obj"]: r["n_triples"]
                    for r in s.entity_counts().collect()} == want_counts

    def test_recrawl_requires_durable_store(self, embeddings):
        from kgkit.streaming.kg_stream import IncrementalKGStream

        with pytest.raises(TypeError):
            IncrementalKGStream(embeddings, recrawl=True)

    def test_recrawl_false_raises(self, embeddings, tmp_path):
        from kgkit.streaming.kg_stream import IncrementalKGStream

        with pytest.raises(ValueError):
            IncrementalKGStream(
                embeddings, triples_dir=str(tmp_path / "store"), recrawl=False
            )

    def test_torn_batch_is_replayed_in_full(self, spark, embeddings, tmp_path):
        """A process that dies between a batch's two part writes leaves
        the batch uncommitted: resume and the reads ignore it, and its
        replay writes and counts it in full."""
        import os

        from kgkit.streaming.kg_stream import IncrementalKGStream

        a, b, _, a2, _ = self._slices(spark)
        store = str(tmp_path / "store")
        stm = IncrementalKGStream(embeddings, triples_dir=store, recrawl=True)
        stm.process_batch(a, batch_id=0)
        stm.process_batch(b.unionByName(a2), batch_id=1)  # recrawl half of a
        # the crash: batch 1's triples part is complete, its relation
        # part is not
        os.remove(os.path.join(store, "relation_counts", "_batch=1", "_SUCCESS"))

        stm2 = IncrementalKGStream.resume(
            spark, embeddings, store, recrawl=True
        )
        # no view is built from the torn batch's rows
        before = _batch_triples(spark, a, embeddings)
        assert _rows(stm2.triples(spark)) == _rows(before)
        assert {r["obj"]: r["n_triples"]
                for r in stm2.entity_counts().collect()} == {
            r["obj"]: r["count"]
            for r in before.groupBy("obj").count().collect()
        }
        assert _rows(stm2.relations()) == _rows(
            _batch_relations(spark, a, embeddings)
        )
        stm2.process_batch(b.unionByName(a2), batch_id=1)  # the replay
        latest = self._latest(a, b.unionByName(a2))
        want_rel = _rows(_batch_relations(spark, latest, embeddings))
        assert len(want_rel) > 0 and _rows(stm2.relations()) == want_rel
        batch = _batch_triples(spark, latest, embeddings)
        assert _rows(stm2.triples(spark)) == _rows(batch)
        got = {r["obj"]: r["n_triples"]
               for r in stm2.entity_counts().collect()}
        want = {r["obj"]: r["count"]
                for r in batch.groupBy("obj").count().collect()}
        assert got == want

    def test_foreachbatch_recrawl_e2e(self, spark, embeddings, tmp_path):
        """The wiring end to end: two availableNow passes over a
        growing landing dir (the second delivers the recrawled
        versions; the shared checkpoint guarantees they arrive as
        later batches) — the store then equals batch-over-latest."""
        from kgkit.streaming.kg_stream import IncrementalKGStream

        a, b, _, a2, _ = self._slices(spark)
        landing = str(tmp_path / "landing")
        a.unionByName(b).write.mode("append").parquet(landing)

        stm = IncrementalKGStream(
            embeddings, triples_dir=str(tmp_path / "store"), recrawl=True
        )

        def _drain():
            stream = (
                spark.readStream
                .schema("url string, text string, lang string")
                .option("maxFilesPerTrigger", 1)
                .parquet(landing)
            )
            q = stm.attach(
                stream,
                checkpoint_dir=str(tmp_path / "ckpt"),
                trigger_once=True,
            )
            q.awaitTermination(900)

        _drain()
        n_first = len(stm.store.counted)
        a2.write.mode("append").parquet(landing)  # the recrawl lands
        _drain()
        assert len(stm.store.counted) > n_first

        latest = self._latest(a.unionByName(b), a2)
        assert _rows(stm.triples(spark)) == _rows(
            _batch_triples(spark, latest, embeddings)
        )


class TestLatestPages:
    def test_max_ts_version_wins(self, spark):
        from kgkit.sources.pages import latest_pages

        pages = spark.createDataFrame(
            [
                ("u1", 1, "old", "en"), ("u1", 3, "new", "en"),
                ("u1", 2, "mid", "en"), ("u2", 1, "only", "de"),
            ],
            "url string, warc_ts int, text string, lang string",
        )
        got = {r["url"]: (r["warc_ts"], r["text"], r["lang"])
               for r in latest_pages(pages).collect()}
        assert got == {"u1": (3, "new", "en"), "u2": (1, "only", "de")}

    def test_tie_breaks_deterministically(self, spark):
        from kgkit.sources.pages import latest_pages

        pages = spark.createDataFrame(
            [("u1", 5, "aa"), ("u1", 5, "zz")],
            "url string, warc_ts int, text string",
        )
        rows_a = latest_pages(pages.repartition(1)).collect()
        rows_b = latest_pages(pages.repartition(7)).collect()
        assert rows_a == rows_b and rows_a[0]["text"] == "zz"


class TestDurableResume:
    def test_resume_continues_without_source_replay(
        self, spark, embeddings, tmp_path
    ):
        from kgkit.sources.pages import load_pages, pages_for_mentions
        from kgkit.streaming.kg_stream import IncrementalKGStream

        pages = pages_for_mentions(load_pages(spark, SF_DIR)).filter(
            "pmod(xxhash64(url), 4) = 0"
        )
        slices = [
            pages.filter(f"pmod(xxhash64(url), 3) = {i}") for i in range(3)
        ]
        store = str(tmp_path / "store")
        stm = IncrementalKGStream(embeddings, triples_dir=store)
        stm.process_batch(slices[0], batch_id=0)
        stm.process_batch(slices[1], batch_id=1)

        # crash: a fresh object resumes from the store alone
        stm2 = IncrementalKGStream.resume(spark, embeddings, store)
        assert stm2.store.counted == {0, 1}
        stm2.process_batch(slices[2], batch_id=2)

        batch = _batch_triples(spark, pages, embeddings)
        assert _rows(stm2.triples(spark)) == _rows(batch)
        got = {r["obj"]: r["n_triples"] for r in stm2.entity_counts().collect()}
        want = {r["obj"]: r["count"] for r in batch.groupBy("obj").count().collect()}
        assert got == want
        # relations resume too: durable relbatch parts carry batches
        # 0-1, the post-resume batch 2 contributes in memory
        assert _rows(stm2.relations()) == _rows(
            _batch_relations(spark, pages, embeddings)
        )

    def test_resume_empty_store_raises(self, spark, embeddings, tmp_path):
        from kgkit.streaming.kg_stream import IncrementalKGStream

        with pytest.raises(FileNotFoundError):
            IncrementalKGStream.resume(
                spark, embeddings, str(tmp_path / "nothing")
            )


class TestCrawlToKG:
    def test_warc_stream_builds_the_same_kg_as_batch(self, spark, tmp_path):
        """The whole crawl-to-KG path as ONE stream: WARC segments land
        as files -> warc_pages_stream -> IncrementalKGStream; the
        resulting store equals the batch pipeline over warc_pages."""
        from kgkit.sources.warc import (
            warc_pages, warc_pages_stream, write_warc,
        )
        from kgkit.streaming.kg_stream import IncrementalKGStream

        segs = str(tmp_path / "segs")
        import os

        os.makedirs(segs)
        bodies = [
            "the spark hash join runs over the big table",
            "a sort merge join beats the hash join on sorted data",
            "spark executes the scan before the filter and the join",
        ]
        for s in range(3):
            write_warc(
                [
                    {
                        "url": f"http://w{s}.site.net/p{i}",
                        "body": f"<html><body>{bodies[(s + i) % 3]}</body></html>",
                    }
                    for i in range(3)
                ],
                f"{segs}/seg{s}.warc",
            )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        stm = IncrementalKGStream(emb, triples_dir=str(tmp_path / "store"))
        q = stm.attach(
            warc_pages_stream(spark, segs, max_files_per_trigger=1),
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_once=True,
        )
        q.awaitTermination(900)
        assert len(stm.store.counted) == 3  # one micro-batch per segment

        batch = _batch_triples(spark, warc_pages(spark, segs), emb)
        assert _rows(stm.triples(spark)) == _rows(batch)
        got = {r["obj"]: r["n_triples"] for r in stm.entity_counts().collect()}
        want = {
            r["obj"]: r["count"] for r in batch.groupBy("obj").count().collect()
        }
        assert got == want and len(want) > 0


def _is_checkpoint(df) -> bool:
    """The frame's plan is one materialized leaf (a localCheckpoint)."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.nodeName() == "LogicalRDD" and plan.children().isEmpty()


class TestViews:
    def test_each_aggregate_is_one_checkpointed_frame(
        self, spark, embeddings, tmp_path
    ):
        """Every commit replaces the views by ONE eager checkpoint that
        each view filters to its aggregate, so after any number of
        batches a read scans one materialized frame, equal to the batch
        pipeline."""
        from kgkit.sources.pages import load_pages, pages_for_mentions
        from kgkit.streaming.kg_stream import IncrementalKGStream

        pages = pages_for_mentions(load_pages(spark, SF_DIR)).filter(
            "pmod(xxhash64(url), 4) = 1"
        )
        slices = [
            pages.filter(f"pmod(xxhash64(url), 3) = {i}") for i in range(3)
        ]
        stm = IncrementalKGStream(
            embeddings, triples_dir=str(tmp_path / "store")
        )
        for i, s in enumerate(slices):
            stm.process_batch(s, batch_id=i)
        assert set(stm.store.views) == {"entity_counts", "relations"}
        assert _is_checkpoint(stm.store.merged)
        merged = stm.store.merged._jdf.queryExecution().analyzed().rdd().id()
        for v in stm.store.views.values():
            leaves = v._jdf.queryExecution().analyzed().collectLeaves()
            assert leaves.size() == 1
            assert leaves.head().nodeName() == "LogicalRDD"
            assert leaves.head().rdd().id() == merged
        assert _is_checkpoint(stm.relations())
        batch = _batch_triples(spark, pages, embeddings)
        got = {r["obj"]: r["n_triples"] for r in stm.entity_counts().collect()}
        want = {r["obj"]: r["count"] for r in batch.groupBy("obj").count().collect()}
        assert got == want
        assert _rows(stm.relations()) == _rows(
            _batch_relations(spark, pages, embeddings)
        )


class TestDeclaredSchemas:
    def test_stored_part_of_another_type_fails_loudly(
        self, spark, embeddings, tmp_path
    ):
        """A stored part whose column type differs from its family's
        declaration fails the read; it never reads as nulls."""
        from pyspark.sql import functions as F

        from kgkit.sources.pages import load_pages, pages_for_mentions
        from kgkit.streaming.kg_stream import IncrementalKGStream

        pages = pages_for_mentions(load_pages(spark, SF_DIR)).filter(
            "pmod(xxhash64(url), 8) = 3"
        )
        store = str(tmp_path / "store")
        stm = IncrementalKGStream(embeddings, triples_dir=store)
        stm.process_batch(pages, batch_id=0)
        part = str(tmp_path / "store" / "relation_counts" / "_batch=0")
        bad = spark.read.parquet(part).withColumn("n", F.col("n").cast("string"))
        bad.localCheckpoint().write.mode("overwrite").parquet(part)
        with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            IncrementalKGStream.resume(spark, embeddings, store)

    def test_rows_of_another_type_are_not_written(self, spark, tmp_path):
        """A batch whose rows do not fit a declaration fails before any
        of its parts is written."""
        import os

        from pyspark.errors import AnalysisException

        from kgkit.streaming.store import Aggregate, PartStore

        store = PartStore(
            str(tmp_path / "store"),
            {"rows=": "url string, n long"},
            {"n": Aggregate("rows=", ("url",), "n")},
        )
        keys = spark.createDataFrame([("u1",)], "url string")
        rows = spark.createDataFrame([("u1", "two")], "url string, n string")
        with pytest.raises(AnalysisException):
            store.commit(0, keys, {"rows=": rows})
        assert not os.path.exists(tmp_path / "store")
        assert store.counted == set() and store.live("n") is None
