"""End-to-end: Spark pipeline vs pure-Python oracle on the synthetic
Zipf-skewed corpus — the north-rule P/R gate (target: 1.0, floor 0.95)."""

import pytest

from kgraphmemory_spark import datagen, semantics
from kgraphmemory_spark.pipeline import run_pipeline

GRAPH_TABLES = ("canonical", "entities", "relations", "frames", "slots",
                "triples", "provenance")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = datagen.generate_pages_rows(80, seed=11)
    pages = spark.createDataFrame(rows, schema=datagen.PAGE_SCHEMA)
    kg = run_pipeline(spark, pages)
    oracle = semantics.build_kg(rows)
    return kg, oracle


def test_extracted_text_byte_identical(corpus):
    kg, oracle = corpus
    got = {r.url: r.text for r in kg.docs_clean.collect()}
    want = {d["url"]: d["text"] for d in oracle.docs}
    assert got == want  # byte-identical per url (input_hint invariant)


def test_triple_precision_recall(corpus):
    kg, oracle = corpus
    got = {(r.subj, r.pred, r.obj) for r in kg.relations.collect()}
    want = oracle.triple_set()
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # same deterministic logic


def test_relation_weights_exact(corpus):
    kg, oracle = corpus
    got = {(r.subj, r.obj): (r.weight, r.ndocs) for r in kg.relations.collect()}
    want = {(r["subj"], r["obj"]): (r["weight"], r["ndocs"])
            for r in oracle.relations}
    assert got == want


def test_entities_exact(corpus):
    kg, oracle = corpus
    got = {(r.entity_id, r.name, r.entity_type, r.mention_count)
           for r in kg.entities.collect()}
    want = {(e["entity_id"], e["name"], e["entity_type"], e["mention_count"])
            for e in oracle.entities}
    assert got == want


def test_frames_slots_reconstruct_relations(corpus):
    """J3 flagship join: frames ⋈ src-slot ⋈ dst-slot ≡ relations."""
    from pyspark.sql import functions as F
    from kgraphmemory_spark.semantics import SLOT_DESTINATION, SLOT_SOURCE
    kg, oracle = corpus
    src = kg.slots.where(F.col("slot_type") == SLOT_SOURCE).select(
        "frame_uri", F.col("entity_value").alias("s"))
    dst = kg.slots.where(F.col("slot_type") == SLOT_DESTINATION).select(
        "frame_uri", F.col("entity_value").alias("o"))
    rec = {(r.s, r.o) for r in
           kg.frames.join(src, "frame_uri").join(dst, "frame_uri")
           .select("s", "o").collect()}
    want = {(r["subj"], r["obj"]) for r in oracle.relations}
    assert rec == want


def test_long_triples_exact(corpus):
    kg, oracle = corpus
    got = {(r.subject, r.predicate, r.object, r.graph)
           for r in kg.triples.collect()}
    want = {(t["subject"], t["predicate"], t["object"], t["graph"])
            for t in oracle.triples}
    assert got == want


def test_frame_uris_match_oracle(corpus):
    kg, oracle = corpus
    got = {r.frame_uri for r in kg.frames.collect()}
    want = {f["frame_uri"] for f in oracle.frames}
    assert got == want  # sha-derived ids identical across engines


DOCAGG_BUILDERS = ("canonical_mapping_local", "build_entities_docagg",
                   "build_relations_docagg", "extract_provenance_docagg")
BUILDERS = ("link_mentions", "canonical_mapping", "build_entities_preagg",
            "build_relations", "build_provenance") + DOCAGG_BUILDERS


def test_past_the_broadcast_ceiling_end_to_end(spark, monkeypatch):
    """An alias table past BROADCAST_MAX_ALIAS_ROWS (and the doc-aggregate
    ceiling) is the open-vocabulary web regime: linking takes the salted
    join, the entity and relation builds drop their vocabulary broadcasts,
    canonicalization and provenance take the DataFrame paths.  Lowering
    the two ceilings alone must switch every one of those plans, and
    every graph table must equal the default build's."""
    from kgraphmemory_spark import pipeline
    pages = datagen.generate_pages(spark, 50, seed=11)
    default = run_pipeline(spark, pages)
    want = {name: sorted(tuple(r) for r in getattr(default, name).collect())
            for name in GRAPH_TABLES}

    calls: dict[str, dict] = {}

    def wrap(name, orig):
        def recorded(*args, **kwargs):
            calls[name] = kwargs
            return orig(*args, **kwargs)
        return recorded

    for name in BUILDERS:
        monkeypatch.setattr(pipeline, name, wrap(name, getattr(pipeline, name)))
    monkeypatch.setattr(pipeline, "BROADCAST_MAX_ALIAS_ROWS", 0)
    monkeypatch.setattr(pipeline, "RELATIONS_DOCAGG_MAX_VOCAB", 0)
    big = pipeline.run_pipeline(spark, pages)
    for name in GRAPH_TABLES:
        got = sorted(tuple(r) for r in getattr(big, name).collect())
        assert got == want[name] and got, name

    assert calls["link_mentions"].get("salted") is True
    assert calls["build_entities_preagg"].get("broadcast_alias") is False
    assert calls["build_relations"].get("broadcast_canonical") is False
    assert {"canonical_mapping", "build_provenance"} <= set(calls)
    assert not set(calls) & set(DOCAGG_BUILDERS)
