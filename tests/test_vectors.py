"""Multi-vector record materialization + kNN/hybrid search vs pure-Python
oracles (uuid5 parity, hash-embedder parity, filter semantics, semi-join
hybrid == reference's ASK-per-candidate loop)."""

import math

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.functions.vector import embed_text
from kgraphmemory_spark.operators.vectors import (
    ENTITY_VECTOR_MAPPINGS,
    build_vector_records,
    hybrid_search,
    knn,
)
from kgraphmemory_spark.semantics import vector_record_id


@pytest.fixture(scope="module")
def entities(spark):
    rows = [
        ("ent:hash_join", "hash join", "urn:kg:Phrase", 4),
        ("ent:table_scan", "table scan", "urn:kg:Phrase", 2),
        ("ent:spark", "spark", "urn:kg:Token", 9),
        ("ent:data", "data", "urn:kg:Token", 7),
        ("ent:merge", "merge", "urn:kg:Token", 1),
    ]
    return spark.createDataFrame(
        rows, "entity_id string, name string, entity_type string, "
              "mention_count long")


@pytest.fixture(scope="module")
def vectors(entities):
    return build_vector_records(entities).cache()


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def test_record_shape_and_uuid5_parity(vectors, entities):
    rows = vectors.collect()
    assert len(rows) == entities.count() * len(ENTITY_VECTOR_MAPPINGS)
    for r in rows:
        # exact uuid5 parity with the reference (kgraph.py:82-88)
        assert r.record_id == vector_record_id(r.uri, r.vector_id)
        assert r.metadata["uri"] == r.uri
        assert r.metadata["vector_id"] == r.vector_id


def test_text_assembly_and_embedding_parity(vectors):
    by_key = {(r.uri, r.vector_id): r for r in vectors.collect()}
    g = by_key[("ent:hash_join", "general")]
    assert g.text == "hash join urn:kg:Phrase"  # concat_ws(' ') kgraph.py:428-435
    want = embed_text(g.text)
    assert [pytest.approx(x, abs=1e-6) for x in want] == list(g.vector)


def test_swapped_embed_udf_in_vector_write_path(entities, vectors):
    """build_vector_records(embed_udf=...) swaps the model without
    touching the engine: record ids and texts stay those of the default
    embedder, the vectors come from the plugged UDF."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def text_length(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [float(len(t)), 1.0])

    swapped = build_vector_records(entities, embed_udf=text_length).collect()
    assert sorted((r.record_id, r.text) for r in swapped) == sorted(
        (r.record_id, r.text) for r in vectors.collect())
    assert all(list(r.vector) == [float(len(r.text)), 1.0] for r in swapped)


def test_knn_matches_python_oracle(vectors):
    got = [(r.uri, r.vector_id) for r in
           knn(vectors, "hash join", k=3, vector_id="entity_value").collect()]
    all_rows = [(r.uri, r.vector_id, list(r.vector)) for r in
                vectors.where(F.col("vector_id") == "entity_value").collect()]
    q = embed_text("hash join")
    want = sorted(
        ((u, v) for u, v, vec in all_rows),
        key=lambda t: (-round(_cos(q, dict(
            ((u, v), vec) for u, v, vec in all_rows)[t]), 6),
            vector_record_id(t[0], t[1])),
    )[:3]
    assert got == want
    assert got[0][0] == "ent:hash_join"  # exact-text query hits its entity


def test_knn_by_raw_vector(vectors):
    """vector_search_by_vector (kgraph.py:274-294): a raw query vector
    skips embedding; the embedded-text twin must rank identically."""
    q = embed_text("hash join")
    by_vec = [(r.uri, r.score) for r in
              knn(vectors, query_vector=q, k=3,
                  vector_id="entity_value").collect()]
    by_text = [(r.uri, r.score) for r in
               knn(vectors, "hash join", k=3,
                   vector_id="entity_value").collect()]
    assert by_vec == by_text
    with pytest.raises(ValueError, match="query_text or query_vector"):
        knn(vectors, k=3)


def test_metadata_filters(vectors):
    hits = knn(vectors, "spark", k=10,
               metadata_filters={"vector_id": "entity_type",
                                 "entity_type": "urn:kg:Token"}).collect()
    assert hits and all(h.vector_id == "entity_type" for h in hits)
    uris = {h.uri for h in hits}
    assert uris == {"ent:spark", "ent:data", "ent:merge"}
    # in-list + threshold
    few = knn(vectors, "spark", k=10, vector_id="entity_value",
              metadata_filters={"uri": ["ent:spark", "ent:data"]},
              score_threshold=0.99).collect()
    assert [h.uri for h in few] == ["ent:spark"]


def test_numeric_range_filters(entities):
    """Ranges compare numerically like the reference's Qdrant Range
    (kgraph_vector_db.py:231-263) — lexicographic '4' <= '10' is false and
    would drop almost everything (ADVICE round 1)."""
    v = build_vector_records(
        entities, mappings={"general": ["name", "mention_count"]})
    hits = knn(v, "spark", k=10,
               metadata_filters={"mention_count": {"lte": 10}}).collect()
    assert len(hits) == entities.count()  # every count is <= 10 numerically
    hits = knn(v, "spark", k=10,
               metadata_filters={"mention_count": {"gte": 2, "lt": 9}}).collect()
    assert len(hits) == 3  # 4, 2, 7


def test_in_dict_form_and_unknown_key(vectors):
    # {'in': [...]} dict form must filter (was silently ignored)
    hits = knn(vectors, "spark", k=10, vector_id="entity_value",
               metadata_filters={"uri": {"in": ["ent:spark", "ent:data"]}}).collect()
    assert {h.uri for h in hits} == {"ent:spark", "ent:data"}
    with pytest.raises(ValueError, match="unsupported filter"):
        knn(vectors, "spark", k=10, metadata_filters={"uri": {"eq": "x"}})


def test_hybrid_semi_join(vectors, entities):
    phrases = entities.where(F.col("entity_type") == "urn:kg:Phrase")
    hits = hybrid_search(vectors, phrases, "hash join", k=10,
                         vector_id="entity_value").collect()
    assert {h.uri for h in hits} == {"ent:hash_join", "ent:table_scan"}
    assert hits[0].uri == "ent:hash_join"
    # candidate set of one == reference's single ASK passing
    solo = entities.where(F.col("entity_id") == "ent:merge")
    hits = hybrid_search(vectors, solo, "hash join", k=10).collect()
    assert {h.uri for h in hits} == {"ent:merge"}


def test_hybrid_broadcast_gate(vectors, entities):
    """Supra-threshold candidate sets must NOT carry the broadcast hint
    (r3 VERDICT: an unconditional F.broadcast(cand) OOMs the driver when
    a permissive SPARQL filter yields a huge candidate set at 100×).
    Same results either way; AQE may still broadcast at runtime."""
    phrases = entities.where(F.col("entity_type") == "urn:kg:Phrase")
    strat: dict = {}
    hits_b = hybrid_search(vectors, phrases, "hash join", k=10,
                           vector_id="entity_value",
                           _strategy=strat).collect()
    assert strat["candidates"] == "broadcast"
    strat = {}
    hits_s = hybrid_search(vectors, phrases, "hash join", k=10,
                           vector_id="entity_value",
                           broadcast_max_rows=1, _strategy=strat).collect()
    assert strat["candidates"] == "shuffle"
    assert strat["n_candidates"] > 1
    assert [(h.uri, h.score) for h in hits_s] == \
        [(h.uri, h.score) for h in hits_b]


def test_search_all_types_one_plan(spark, entities):
    """search_all (kgraph_bridge.py:139-150): per-object-family top-k out
    of ONE scored scan + window, vs the reference's sequential per-family
    searches."""
    from kgraphmemory_spark.operators.vectors import (
        build_typed_vector_records,
        search_all_types,
    )
    frames = spark.createDataFrame(
        [("urn:f1", "urn:ftype:merge")], "frame_uri string, frame_type string")
    typed = build_typed_vector_records([
        (entities, "urn:kg:Token", "entity_id"),
        (frames, "urn:frame:next", "frame_uri"),
    ]).cache()
    hits = search_all_types(typed, "hash join", limit_per_type=2).collect()
    by_type = {}
    for r in hits:
        by_type.setdefault(r.object_type, []).append(r)
    # every family present, each capped at limit_per_type
    assert set(by_type) == {"urn:kg:Token", "urn:frame:next"}
    assert all(len(v) <= 2 for v in by_type.values())
    assert by_type["urn:kg:Token"][0].uri == "ent:hash_join"
    # ranks agree with the single-family knn on the same records
    solo = knn(typed.where(F.col("object_type") == "urn:kg:Token"),
               "hash join", k=2).collect()
    assert [r.uri for r in by_type["urn:kg:Token"]] == [r.uri for r in solo]
