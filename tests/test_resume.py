"""Checkpoint/resume: a killed run resumes from the last committed snapshot
without reprocessing; lineage rows exist per stage (north rule)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark import datagen
from kgraphmemory_spark.io.snapshots import SnapshotCatalog, lineage_by_url
from kgraphmemory_spark.pipeline import run_pipeline


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "kg_snapshots")


def _rel_set(kg):
    return {(r.subj, r.pred, r.obj, r.weight, r.ndocs)
            for r in kg.relations.collect()}


def test_full_resume_identical(spark, workdir):
    pages = datagen.generate_pages(spark, 30, seed=31)
    kg1 = run_pipeline(spark, pages, workdir=workdir)
    first = _rel_set(kg1)
    assert kg1.stages_resumed == []

    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert "docs_clean" in kg2.stages_resumed
    assert "relations" in kg2.stages_resumed
    assert _rel_set(kg2) == first


def _jobs_in_group(sc, group: str) -> int:
    """Spark jobs started under ``group``, once the listener bus has
    delivered every job-start event to the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_load_runs_no_spark_job(spark, workdir):
    """Reopening a finished build reads every snapshot by its recorded
    schema and takes the plan probe from the alias_table manifest: a
    resume-load starts no Spark job at all."""
    pages = datagen.generate_pages(spark, 30, seed=31)
    run_pipeline(spark, pages, workdir=workdir)
    sc = spark.sparkContext
    sc.setJobGroup("kgm-test-resume-load", "resume-load")
    try:
        kg = run_pipeline(spark, pages, workdir=workdir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(kg.stages_resumed) == 12
    assert _jobs_in_group(sc, "kgm-test-resume-load") == 0


def test_commit_reads_back_without_a_job(spark, tmp_path):
    """A commit without lineage is one job, the data write: the snapshot
    is read back with the written schema, not by schema inference."""
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    sc = spark.sparkContext
    sc.setJobGroup("kgm-test-commit", "commit")
    try:
        out = cat.commit("s1", spark.range(10).selectExpr("id", "id * 2 AS v"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(sc, "kgm-test-commit") == 1
    assert out.schema.json() == cat.manifest("s1")["schema"]


def test_partial_resume_after_kill(spark, workdir):
    """Simulate a kill after stage 3: later-stage snapshots missing →
    earlier stages must be reused, later recomputed, results identical."""
    pages = datagen.generate_pages(spark, 30, seed=31)
    kg1 = run_pipeline(spark, pages, workdir=workdir)
    want = _rel_set(kg1)

    # "kill" after linked: wipe everything downstream of linking
    for stage in ("canonical_map", "entities", "relations", "frames",
                  "slots", "triples", "provenance"):
        shutil.rmtree(os.path.join(workdir, stage))

    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert set(kg2.stages_resumed) == {"docs_clean", "mentions",
                                       "raw_triples", "alias_table", "linked"}
    assert _rel_set(kg2) == want


def test_resume_after_entities_builds_the_docagg_pass(spark, workdir):
    """A kill after the entities commit: the doc-aggregate pass that
    entities would have run is built by relations, the first stage that
    still needs it, and relations and provenance come out identical."""
    pages = datagen.generate_pages(spark, 30, seed=31)
    kg1 = run_pipeline(spark, pages, workdir=workdir)
    want = _rel_set(kg1)
    want_prov = {tuple(r) for r in kg1.provenance.collect()}

    for stage in ("relations", "frames", "slots", "triples", "provenance"):
        shutil.rmtree(os.path.join(workdir, stage))

    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert "entities" in kg2.stages_resumed
    assert "relations" not in kg2.stages_resumed
    assert _rel_set(kg2) == want
    assert {tuple(r) for r in kg2.provenance.collect()} == want_prov


def test_uncommitted_stage_not_trusted(spark, workdir):
    """Data dir without a manifest (crash mid-write) is rebuilt."""
    pages = datagen.generate_pages(spark, 10, seed=7)
    run_pipeline(spark, pages, workdir=workdir)
    # remove just the manifest of 'mentions' — simulates torn write
    os.remove(os.path.join(workdir, "mentions", "_MANIFEST.json"))
    kg2 = run_pipeline(spark, pages, workdir=workdir)
    assert "mentions" not in kg2.stages_resumed
    assert "docs_clean" in kg2.stages_resumed
    cat = SnapshotCatalog(workdir)
    assert cat.committed("mentions")  # recommitted


@pytest.fixture(scope="module")
def built_catalog(spark, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("lineage") / "kg_snapshots")
    run_pipeline(spark, datagen.generate_pages(spark, 25, seed=13),
                 workdir=workdir)
    return SnapshotCatalog(workdir)


@pytest.mark.parametrize("stage", ["docs_clean", "mentions", "raw_triples",
                                   "linked", "provenance"])
def test_lineage_rows_written(spark, built_catalog, stage):
    """Every url-keyed stage: the manifest's row counts agree with the
    committed data and lineage read back, and lineage sums to the data."""
    cat = built_catalog
    man = cat.manifest(stage)
    lin = cat.read_lineage(spark, stage)
    rows = lin.collect()
    assert {c for c in lin.columns} >= {"bucket", "out_count", "stage"}
    assert man["rows"] > 0 and man["schema"]
    assert man["rows"] == cat.read(spark, stage).count() \
        == sum(r.out_count for r in rows)
    assert man["lineage_rows"] == len(rows)
    if stage == "linked":
        # link-score histogram metric present on the linked stage
        assert "score_histogram" in lin.columns


def test_alias_manifest_records_the_plan_probe(spark, built_catalog):
    """The alias_table manifest carries the plan probe (row count and Σ
    entity-id bytes of the ranked table), equal to a recount over the
    committed snapshot; every stage reads back with exactly the schema
    its manifest records, which is the schema parquet inference gives."""
    cat = built_catalog
    man = cat.manifest("alias_table")
    alias = cat.read(spark, "alias_table")
    recount = alias.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("entity_id")).alias("b")).first()
    assert man["rows"] == recount["n"] > 0
    assert man["observed"] == {"alias_id_bytes": recount["b"]}
    assert alias.columns == ["surface", "kind", "entity_id", "link_score"]
    stages = sorted(os.listdir(cat.root))
    assert len(stages) == 12
    for stage in stages:
        schema = cat.manifest(stage)["schema"]
        inferred = spark.read.parquet(os.path.join(cat.root, stage, "data"))
        assert cat.read(spark, stage).schema.json() == schema, stage
        assert inferred.schema.json() == schema, stage


def test_commit_runs_the_stage_plan_once(spark, tmp_path):
    """The data write is the only execution of a stage's plan: row counts
    are observed on it and lineage reads the committed snapshot, so a
    Python UDF in the plan runs once per row."""
    calls = spark.sparkContext.accumulator(0)

    def url_of(i):
        calls.add(1)
        return f"https://example.org/{i}"

    url = F.udf(url_of, "string")
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    cat.stage(spark, "s1",
              lambda: spark.range(40).select(url("id").alias("url")),
              lineage_of=lambda df: lineage_by_url(df, "s1"))
    assert calls.value == 40 == cat.manifest("s1")["rows"]


@pytest.mark.parametrize("with_lineage", [True, False])
def test_empty_stage_commits_zero_rows(spark, tmp_path, with_lineage):
    """Observed counts of an empty write, and of its empty lineage, are 0."""
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    lineage_of = (lambda df: lineage_by_url(df, "s1")) if with_lineage \
        else None
    empty = spark.range(0).selectExpr("CAST(id AS string) AS url")
    out = cat.stage(spark, "s1", lambda: empty, lineage_of=lineage_of)
    man = cat.manifest("s1")
    assert (man["rows"], man["lineage_rows"]) == (0, 0)
    assert out.count() == 0


def test_snapshot_backend_recorded(spark, tmp_path):
    """Round 4 (SURVEY §7.1): the manifest records which backend holds
    the stage data.  This sandbox ships no Iceberg jars, so detection
    must return False and commits must take (and record) the
    parquet+manifest path; with jars + a configured catalog the same
    interface commits Iceberg snapshots (skip-gated below)."""
    from kgraphmemory_spark.io.snapshots import (
        SnapshotCatalog,
        _iceberg_catalog,
        iceberg_available,
    )
    assert iceberg_available(spark) is False
    assert _iceberg_catalog(spark) is None
    cat = SnapshotCatalog(str(tmp_path / "snap"))
    out = cat.stage(spark, "s1",
                    lambda: spark.range(3).selectExpr("id", "id*2 AS v"))
    assert out.count() == 3
    man = cat.manifest("s1")
    assert man["backend"] == "parquet+manifest"
    assert "table" not in man
    # catalog configured but no jars → still the parquet fallback (the
    # opt-in alone must not redirect data the cluster cannot read)
    spark.conf.set("spark.kgm.iceberg.catalog", "icecat")
    try:
        assert _iceberg_catalog(spark) is None
    finally:
        spark.conf.unset("spark.kgm.iceberg.catalog")


def test_snapshot_iceberg_commit(spark, tmp_path):
    """Real Iceberg snapshot commit — runs only on a cluster whose
    classpath carries the Iceberg Spark runtime AND a configured
    catalog."""
    import pytest as _pytest

    from kgraphmemory_spark.io.snapshots import (
        SnapshotCatalog,
        _iceberg_catalog,
    )
    spark.conf.set("spark.kgm.iceberg.catalog", "icecat")
    try:
        if _iceberg_catalog(spark) is None:
            _pytest.skip("no Iceberg runtime on the classpath")
        cat = SnapshotCatalog(str(tmp_path / "snap_ice"))
        out = cat.stage(spark, "s1", lambda: spark.range(3))
        assert out.count() == 3
        assert cat.manifest("s1")["backend"] == "iceberg"
        # resume path reads the table back through the manifest
        assert cat.read(spark, "s1").count() == 3
    finally:
        spark.conf.unset("spark.kgm.iceberg.catalog")
