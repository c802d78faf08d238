"""Streaming per-host boilerplate statistics: stream == batch (the
merged partials ARE the batch statistics), retrospective clean equals
the one-shot operator, replay idempotence, durable resume, compaction.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
DOC_SCHEMA = "doc_id long, host string, text string"


def _fixture_docs(spark):
    """The deterministic banner/re-flow/footer corpus over Zipf hosts
    (the same fixture the boilerplate_lines oracle query uses)."""
    from kgkit.operators.boilerplate import with_template_lines

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return with_template_lines(docs)


@pytest.fixture(scope="module")
def landing_dir(spark):
    """Fixture docs as 4 parquet files -> 4 micro-batches at
    maxFilesPerTrigger=1; every doc lands in exactly one file."""
    d = tempfile.mkdtemp(prefix="kgkit_boilstream_")
    _fixture_docs(spark).repartition(4).write.mode("overwrite").parquet(
        f"{d}/docs"
    )
    yield f"{d}/docs"
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestStreamEqualsBatch:
    def test_counts_and_clean_match_batch(self, spark, landing_dir, tmp_path):
        from kgkit.operators.boilerplate import (
            host_line_counts,
            remove_boilerplate_lines,
        )
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
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

        batch_docs = spark.read.parquet(landing_dir)
        # the merged per-batch partials equal the one-shot statistics
        # exactly: doc_ids are batch-disjoint, so n_docs sums commute
        assert _rows(stm.line_counts()) == _rows(host_line_counts(batch_docs))
        # retrospective clean over the durable store == batch operator
        got = _rows(stm.clean_pages(spark, min_docs=5))
        want = _rows(remove_boilerplate_lines(batch_docs, min_docs=5))
        assert len(want) > 0 and got == want
        # the fixture genuinely removes template chrome
        removed = stm.clean_pages(spark, min_docs=5).agg(
            F.sum("n_removed")
        ).collect()[0][0]
        assert removed > 0

    def test_template_set_is_live_and_host_scoped(
        self, spark, landing_dir, tmp_path
    ):
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        docs = spark.read.parquet(landing_dir)
        stm.process_batch(docs, batch_id=0)
        tpl = stm.template_lines(min_docs=5).collect()
        hosts = {r["host"] for r in tpl}
        # the mega-host's banner is template chrome; lh is host-scoped
        assert "mega.example.org" in hosts
        assert all(r["lh"] is not None for r in tpl)


class TestQualityComposition:
    def test_quality_flags_ride_the_stripped_text(
        self, spark, landing_dir, tmp_path
    ):
        """quality=True == gopher over the separately-stripped corpus —
        judged on content, not chrome."""
        from kgkit.operators.boilerplate import remove_boilerplate_lines
        from kgkit.operators.text_quality import gopher_quality
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        docs = spark.read.parquet(landing_dir)
        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        stm.process_batch(docs, batch_id=0)
        got = stm.clean_pages(spark, min_docs=5, quality=True)
        assert "keep" in got.columns and "clean_text" in got.columns

        stripped = remove_boilerplate_lines(docs, min_docs=5)
        want = gopher_quality(
            stripped.select("doc_id",
                            F.col("clean_text").alias("text"))
        )
        got_keep = {r["doc_id"]: r["keep"] for r in got.collect()}
        want_keep = {r["doc_id"]: r["keep"] for r in want.collect()}
        assert got_keep == want_keep
        assert got.count() == docs.count()  # flag, not filter


class TestReplayIdempotence:
    def test_same_batch_id_counts_once(self, spark, landing_dir, tmp_path):
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        docs = spark.read.parquet(landing_dir)
        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        stm.process_batch(docs, batch_id=0)
        once = _rows(stm.line_counts())
        stm.process_batch(docs, batch_id=0)  # foreachBatch replay
        assert _rows(stm.line_counts()) == once
        # the durable part was overwritten, not duplicated
        assert _rows(stm.pages(spark)) == _rows(docs)


class TestResume:
    def test_resume_rebuilds_counts_without_replay(
        self, spark, landing_dir, tmp_path
    ):
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        docs = spark.read.parquet(landing_dir)
        half_a = docs.filter(F.col("doc_id") % 2 == 0)
        half_b = docs.filter(F.col("doc_id") % 2 == 1)
        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        stm.process_batch(half_a, batch_id=0)
        stm.process_batch(half_b, batch_id=1)
        want = _rows(stm.line_counts())

        stm2 = IncrementalBoilerplateStream.resume(
            spark, str(tmp_path / "store")
        )
        assert stm2.store.counted == {0, 1}
        assert _rows(stm2.line_counts()) == want
        # a replayed batch after resume is still guarded
        stm2.process_batch(half_b, batch_id=1)
        assert _rows(stm2.line_counts()) == want

    def test_resume_empty_store_raises(self, spark, tmp_path):
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        with pytest.raises(FileNotFoundError):
            IncrementalBoilerplateStream.resume(spark, str(tmp_path / "nope"))


class TestRecrawl:
    """Supersession: a re-delivered doc_id's old version stops counting
    toward the template threshold; reads serve latest versions only."""

    def _v1(self, spark):
        rows = [(i, "h1", f"banner\nbody {i}") for i in range(1, 7)]
        rows += [(i, "h2", f"other\nbody {i}") for i in (11, 12)]
        return spark.createDataFrame(rows, DOC_SCHEMA)

    def _v2(self, spark):
        # recrawl of docs 1-3: the banner line is GONE from the new
        # versions, pushing h1's banner below min_docs=5
        return spark.createDataFrame(
            [(i, "h1", f"body {i} refreshed") for i in (1, 2, 3)],
            DOC_SCHEMA,
        )

    def test_retraction_flips_template_decision(self, spark, tmp_path):
        from kgkit.operators.boilerplate import (
            host_line_counts,
            remove_boilerplate_lines,
        )
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        v1, v2 = self._v1(spark), self._v2(spark)
        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        stm.process_batch(v1, batch_id=0)
        tpl0 = {(r["host"], r["lh"])
                for r in stm.template_lines(min_docs=5).collect()}
        assert len(tpl0) == 1  # h1's banner (6 docs >= 5)

        stm.process_batch(v2, batch_id=1)
        # latest corpus: docs 1-3 are v2 (no banner) -> banner on 3 docs
        latest = v1.filter("doc_id > 3").unionByName(v2)
        assert _rows(stm.line_counts()) == _rows(host_line_counts(latest))
        assert stm.template_lines(min_docs=5).count() == 0
        got = _rows(stm.clean_pages(spark, min_docs=5))
        want = _rows(remove_boilerplate_lines(latest, min_docs=5))
        assert got == want
        # nothing is stripped any more — the template decision flipped
        assert stm.clean_pages(spark, min_docs=5).agg(
            F.sum("n_removed")).collect()[0][0] == 0

    def test_recrawl_replay_and_resume(self, spark, tmp_path):
        from kgkit.operators.boilerplate import host_line_counts
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        v1, v2 = self._v1(spark), self._v2(spark)
        store = str(tmp_path / "store")
        stm = IncrementalBoilerplateStream(pages_dir=store)
        stm.process_batch(v1, batch_id=0)
        stm.process_batch(v2, batch_id=1)
        want = _rows(stm.line_counts())
        stm.process_batch(v2, batch_id=1)  # replay: no double retraction
        assert _rows(stm.line_counts()) == want

        stm2 = IncrementalBoilerplateStream.resume(spark, store)
        assert stm2.store.counted == {0, 1}
        assert _rows(stm2.line_counts()) == want
        latest = v1.filter("doc_id > 3").unionByName(v2)
        assert _rows(stm2.pages(spark)) == _rows(latest)
        # the resumed stream keeps superseding
        v3 = self._v2(spark).withColumn(
            "text", F.concat(F.lit("third pass\n"), F.col("text"))
        )
        stm2.process_batch(v3, batch_id=2)
        latest3 = v1.filter("doc_id > 3").unionByName(v3)
        assert _rows(stm2.line_counts()) == _rows(host_line_counts(latest3))

    def test_recrawl_requires_durable_store(self):
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        with pytest.raises(TypeError):
            IncrementalBoilerplateStream()


class TestCompaction:
    def test_parts_fold_and_counts_survive(
        self, spark, landing_dir, tmp_path, monkeypatch
    ):
        from kgkit.operators.boilerplate import host_line_counts
        from kgkit.streaming import store
        from kgkit.streaming.boilerplate_stream import (
            IncrementalBoilerplateStream,
        )

        monkeypatch.setattr(store, "COMPACT_EVERY", 2)
        docs = spark.read.parquet(landing_dir)
        parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        stm = IncrementalBoilerplateStream(pages_dir=str(tmp_path / "store"))
        for i, p in enumerate(parts):
            stm.process_batch(p, batch_id=i)
        # 3 batches, COMPACT_EVERY=2: one fold happened -> 2 live parts
        assert len(stm.store.partials["lines"]) == 2
        assert _rows(stm.line_counts()) == _rows(host_line_counts(docs))
        stm.store.fold()
        assert len(stm.store.partials["lines"]) == 1
        assert _rows(stm.line_counts()) == _rows(host_line_counts(docs))
