"""Structured Streaming incremental construction: micro-batched ingest +
finalize must reproduce the batch pipeline exactly, survive replays
(idempotent dedup), and record per-batch lineage."""

import glob

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark import datagen
from kgraphmemory_spark.pipeline import run_pipeline
from kgraphmemory_spark.streaming.incremental import (
    _stream_dir,
    finalize,
    ingest_stream,
)

GRAPH_TABLES = ("canonical", "entities", "relations", "frames", "slots",
                "triples", "provenance")


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream")
    input_dir = str(tmp / "pages_in")
    workdir = str(tmp / "work")

    rows = datagen.generate_pages_rows(60, seed=7)
    # three separate files → maxFilesPerTrigger=1 forces 3 micro-batches
    for i in range(3):
        chunk = rows[i * 20:(i + 1) * 20]
        spark.createDataFrame(chunk, schema=datagen.PAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(input_dir)

    n_batches = ingest_stream(spark, input_dir, workdir,
                              max_files_per_trigger=1)
    kg_stream = finalize(spark, workdir)
    pages = spark.createDataFrame(rows, schema=datagen.PAGE_SCHEMA)
    kg_batch = run_pipeline(spark, pages)
    return n_batches, workdir, kg_stream, kg_batch


def test_multiple_microbatches(streamed):
    n_batches, workdir, _, _ = streamed
    assert n_batches >= 3


def test_stream_equals_batch(streamed):
    _, _, kg_stream, kg_batch = streamed
    for name in GRAPH_TABLES:
        s = {tuple(r) for r in getattr(kg_stream, name).collect()}
        b = {tuple(r) for r in getattr(kg_batch, name).collect()}
        assert s == b, name


def test_repeat_finalize_runs_no_spark_job(spark, streamed):
    """A finalize over an unchanged accumulation resumes every stage, and
    its accumulation token is read from the per-epoch marker files: it
    starts no Spark job."""
    _, workdir, _, _ = streamed
    sc = spark.sparkContext
    sc.setJobGroup("kgm-test-refinalize", "repeat finalize")
    try:
        kg = finalize(spark, workdir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(kg.stages_resumed) == 12
    assert sc.statusTracker().getJobIdsForGroup("kgm-test-refinalize") == []


DOCAGG_PATH = ("canonical_mapping_local", "build_entities_docagg",
               "build_relations_docagg", "extract_provenance_docagg")
SHUFFLE_PATH = ("canonical_mapping", "build_entities_preagg",
                "build_relations", "build_provenance")


def test_finalize_under_the_ceiling_takes_the_docagg_path(
        spark, tmp_path, monkeypatch):
    """A streamed vocabulary under the doc-aggregate ceiling is finalized
    by the same builders as a batch run: the four doc-aggregate paths,
    none of the shuffle paths."""
    from kgraphmemory_spark import pipeline

    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    spark.createDataFrame(datagen.generate_pages_rows(20, seed=5),
                          schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)

    called: set[str] = set()

    def wrap(name, orig):
        def recorded(*args, **kwargs):
            called.add(name)
            return orig(*args, **kwargs)
        return recorded

    for name in DOCAGG_PATH + SHUFFLE_PATH:
        monkeypatch.setattr(pipeline, name,
                            wrap(name, getattr(pipeline, name)))
    finalize(spark, workdir)
    assert called == set(DOCAGG_PATH)


def test_replay_is_idempotent(spark, streamed):
    _, workdir, kg_stream, _ = streamed
    before = {tuple(r) for r in kg_stream.relations.collect()}
    # simulate a replayed micro-batch: re-append one epoch's rows verbatim
    docs_dir = _stream_dir(workdir, "docs_clean")
    dup = spark.read.parquet(docs_dir).where(F.col("_epoch") == 0)
    dup.write.mode("append").parquet(docs_dir)

    import shutil
    for d in glob.glob(f"{workdir}/final_*"):  # drop finalize snapshots
        shutil.rmtree(d)                       # (token-keyed catalogs)
    again = finalize(spark, workdir)
    after = {tuple(r) for r in again.relations.collect()}
    assert after == before


def test_lineage_rows(spark, streamed):
    _, workdir, _, _ = streamed
    lin = spark.read.parquet(_stream_dir(workdir, "lineage"))
    rows = lin.orderBy("epoch").collect()
    assert len(rows) >= 3
    assert sum(r.n_docs for r in rows) == 60
    for r in rows:
        assert r.url_min <= r.url_max


def test_incremental_new_files(spark, streamed):
    """New files landing after the first pass are picked up by a second
    ingest (checkpoint skips consumed ones) and appear in finalize."""
    _, workdir, _, _ = streamed
    input_dir = workdir.replace("/work", "/pages_in")
    extra = datagen.generate_pages_rows(10, seed=99)
    spark.createDataFrame(extra, schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    n2 = ingest_stream(spark, input_dir, workdir, max_files_per_trigger=1)
    assert n2 >= 1
    docs = spark.read.parquet(_stream_dir(workdir, "docs_clean"))
    assert docs.select("url").distinct().count() == 70


def test_incremental_finalize_equals_batch_over_three_batches(
        spark, tmp_path):
    """finalize after EACH micro-batch: every call over a grown
    accumulation builds afresh (its snapshot catalog is keyed by the
    accumulation fingerprint, so it cannot short-circuit on an earlier
    call's manifests), deletes the older accumulation's catalog (no later
    call can read it) and equals the batch pipeline over all pages
    accumulated so far; a repeated call over the same accumulation
    resumes every stage."""
    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    rows = datagen.generate_pages_rows(45, seed=11)

    seen = []
    for k in range(3):
        chunk = rows[k * 15:(k + 1) * 15]
        seen += chunk
        spark.createDataFrame(chunk, schema=datagen.PAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(input_dir)
        assert ingest_stream(spark, input_dir, workdir,
                             max_files_per_trigger=1) >= 1
        kg_inc = finalize(spark, workdir)
        assert kg_inc.stages_resumed == []
        assert len(glob.glob(f"{workdir}/final_*")) == 1
        kg_batch = run_pipeline(
            spark, spark.createDataFrame(seen, schema=datagen.PAGE_SCHEMA))
        for name in GRAPH_TABLES:
            s = {tuple(r) for r in getattr(kg_inc, name).collect()}
            b = {tuple(r) for r in getattr(kg_batch, name).collect()}
            assert s == b, (k, name)
    assert len(finalize(spark, workdir).stages_resumed) == 12


@pytest.mark.parametrize("path", ["docagg", "shuffle"])
def test_recrawled_url_keeps_only_its_newest_epoch(
        spark, tmp_path, monkeypatch, path):
    """A url re-crawled in a later micro-batch contributes only its newest
    text: after each ingest, finalize's mentions, raw triples and graph
    tables equal the batch pipeline over the newest page of every url —
    on the doc-aggregate paths and on the shuffle paths."""
    from kgraphmemory_spark import pipeline
    if path == "shuffle":
        monkeypatch.setattr(pipeline, "RELATIONS_DOCAGG_MAX_VOCAB", 0)
    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    epochs = [
        [("u1", None, None, "group agg hash join table scan", "en"),
         ("u2", None, None, "sort order row line", "en")],
        [("u1", None, None, "group by", "en")],
    ]
    newest = {}
    for pages in epochs:
        spark.createDataFrame(pages, schema=datagen.PAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(input_dir)
        ingest_stream(spark, input_dir, workdir)
        kg = finalize(spark, workdir)
        newest.update((p[0], p) for p in pages)
        batch = run_pipeline(spark, spark.createDataFrame(
            list(newest.values()), schema=datagen.PAGE_SCHEMA))
        for name in ("mentions", "raw_triples") + GRAPH_TABLES:
            got = sorted(tuple(r) for r in getattr(kg, name).collect())
            want = sorted(tuple(r) for r in getattr(batch, name).collect())
            assert got == want, (len(newest), name)
