"""Tests of the benchmark itself: span accounting, the oracle check and
the query answers, on a small closed-vocabulary corpus.

    python -m pytest perfbench/tests -q
"""

import os
import time

import pytest

import run as R
import workload as W
from tracing import STAGE_FIELDS, STAGES, ProcessTree, StageTracer


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from kgraphmemory_spark.pipeline import run_pipeline
    root = tmp_path_factory.mktemp("perfbench")
    pages_dir, wd = str(root / "pages"), str(root / "graph")
    rows = W.corpus_rows("closed", 60, 5)
    W.write_pages(rows, pages_dir)
    oracle = W.Oracle(rows)
    tracer = StageTracer(spark, "perfbench-test")
    with tracer, R.record_paths() as called:
        t0 = time.perf_counter()
        kg = run_pipeline(spark, spark.read.parquet(pages_dir), workdir=wd)
        build_s = time.perf_counter() - t0
    tracer.harvest(wd)
    return kg, wd, oracle, tracer, build_s, called


def test_every_committed_stage_has_exactly_one_span(built):
    _, wd, _, tracer, _, _ = built
    committed = sorted(d for d in os.listdir(wd)
                       if os.path.exists(os.path.join(wd, d, "_MANIFEST.json")))
    assert sorted(s.stage for s in tracer.spans) == committed == sorted(STAGES)


def test_spans_are_disjoint_and_fit_in_the_build(built):
    _, _, _, tracer, build_s, _ = built
    spans = sorted(tracer.spans, key=lambda s: s.start)
    for a, b in zip(spans, spans[1:]):
        assert a.end <= b.start
    assert sum(s.end - s.start for s in spans) <= build_s


def test_harvest_fills_every_stage_field(built):
    _, _, _, tracer, _, _ = built
    for span in tracer.spans:
        assert set(STAGE_FIELDS) <= set(span.metrics)
        assert span.metrics["jobs"] >= 1
        assert span.metrics["out_rows"] > 0
        assert span.metrics["task_skew"] >= 1.0
    by_stage = {s.stage: s.metrics for s in tracer.spans}
    # the HTML decode is the pandas UDF: its span must show Python CPU
    assert by_stage["docs_clean"]["py_cpu_s"] > 0


def test_committed_build_matches_the_oracle(built):
    kg, _, oracle, _, _, _ = built
    assert W.check_tables(kg, oracle) == []
    assert W.triple_precision_recall(kg, oracle) == (1.0, 1.0)


def test_corrupted_table_fails_the_oracle_check(spark, built, tmp_path):
    from pyspark.sql import functions as F
    kg, _, oracle, _, _, _ = built
    first = kg.relations.orderBy("subj", "obj").first()
    bad = kg.relations.withColumn("weight", F.when(
        (F.col("subj") == first["subj"]) & (F.col("obj") == first["obj"]),
        F.col("weight") + 1).otherwise(F.col("weight")))
    bad.write.parquet(str(tmp_path / "relations"))
    kg_bad = type(kg)(**{**kg.__dict__,
                         "relations": spark.read.parquet(str(tmp_path / "relations"))})
    assert W.check_tables(kg_bad, oracle) == ["relations"]


def test_closed_corpus_takes_the_docagg_path(built):
    assert built[-1] == set(R.PATH_FUNCTIONS["docagg"])


def test_open_corpus_past_the_ceiling_takes_the_shuffle_path(
        spark, tmp_path, monkeypatch):
    from kgraphmemory_spark import pipeline
    monkeypatch.setattr(pipeline, "RELATIONS_DOCAGG_MAX_VOCAB", 100)
    monkeypatch.setattr(W, "DOCAGG_CEILING", 100)
    rows = W.corpus_rows("open", 30, 2)
    W.write_pages(rows, str(tmp_path / "pages"))
    kg, _, called = R.build(spark, str(tmp_path / "pages"),
                            str(tmp_path / "graph"))
    assert called == set(R.PATH_FUNCTIONS["shuffle"])
    assert W.check_tables(kg, W.Oracle(rows)) == []


def test_digest_agrees_across_spark_and_python(spark):
    rows = [("a", "ü x", 3), ("b", "", -1), ("c", "�", 0)]
    df = spark.createDataFrame(rows, "k string, v string, n long")
    assert W.spark_digest(df, ("k", "v", "n")) == W._py_digest(rows)


def test_every_query_template_matches_the_oracle(built):
    from kgraphmemory_spark.api import KGraphView
    kg, _, oracle, _, _, _ = built
    view = KGraphView(kg)
    stream = W.query_stream(oracle, seed=3)
    for _ in range(2 * len(W.TEMPLATES)):
        template, arg = next(stream)
        got = W.answer_rows(template, W.compile_query(view, template, arg)
                            .collect())
        assert got == W.expected_answer(oracle, template, arg), template
        assert sum(got.values()) > 0 or template == "frames_for_entity"


def test_corpus_is_seeded():
    a = W.corpus_rows("open", 20, 9)
    assert a == W.corpus_rows("open", 20, 9)
    assert a != W.corpus_rows("open", 20, 10)


def test_process_tree_cpu_counts_this_process():
    tree = ProcessTree()
    before = tree.cpu_s()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert tree.cpu_s() - before >= 0.2
