"""The doc-aggregated fast paths (the one extract_docagg kernel, finished
by build_relations_docagg, build_entities_docagg and
extract_provenance_docagg) must be row-identical to their shuffle-path
twins — including the subtle case where two surface pairs in the SAME
document merge under canonicalization (ndocs must count that document
once, like the shuffle path's countDistinct)."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.operators.extraction import (
    extract_docagg,
    extract_docs,
    extract_raw_triples,
)
from kgraphmemory_spark.operators.materialize import (
    build_relations,
    build_relations_docagg,
)


def _rows(df):
    return sorted((r.subj, r.pred, r.obj, r.weight, r.ndocs)
                  for r in df.collect())


@pytest.fixture()
def docs(spark):
    # "group by" and "agg by" in doc A merge to the same canonical pair
    # (group→agg) — the per-doc-dedup edge case; doc B has repeats for
    # weight; doc C is empty text; doc D a single token (no pairs).
    rows = [
        ("a", None, None, "group by agg by", "en"),
        ("b", None, None, "scan scan scan", "en"),
        ("c", None, None, "", "en"),
        ("d", None, None, "scan", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    return extract_docs(pages)


@pytest.fixture()
def canonical(spark):
    # group → agg (synonym merge), everything else self-mapped
    toks = ["group", "by", "agg", "scan"]
    return spark.createDataFrame(
        [("ent:" + t, "ent:agg" if t == "group" else "ent:" + t)
         for t in toks],
        "entity_id string, canonical_id string")


def test_fastpath_equals_shuffle_path(docs, canonical):
    shuffle_path = build_relations(
        extract_raw_triples(docs), canonical, broadcast_canonical=True)
    cmap = {r.entity_id: r.canonical_id for r in canonical.collect()}
    fast = build_relations_docagg(extract_docagg(docs, cmap))
    assert _rows(fast) == _rows(shuffle_path)
    # the merge case concretely: doc a emits (agg,by) twice via two
    # different surface pairs and (by,agg) once — ndocs stays 1
    got = {(r.subj, r.obj): (r.weight, r.ndocs) for r in fast.collect()}
    assert got[("ent:agg", "ent:by")] == (2, 1)
    assert got[("ent:by", "ent:agg")] == (1, 1)
    assert got[("ent:scan", "ent:scan")] == (2, 1)


def test_fastpath_drops_unmapped_tokens(docs, canonical, spark):
    # mirror the shuffle path's inner probe join: a token absent from the
    # canonical map contributes no pairs on either path
    partial = canonical.where(F.col("entity_id") != "ent:scan")
    cmap = {r.entity_id: r.canonical_id for r in partial.collect()}
    fast = build_relations_docagg(extract_docagg(docs, cmap))
    shuffle_path = build_relations(
        extract_raw_triples(docs), partial, broadcast_canonical=True)
    assert _rows(fast) == _rows(shuffle_path)
    assert all(r.subj != "ent:scan" and r.obj != "ent:scan"
               for r in fast.collect())


def test_pipeline_uses_fastpath_and_matches_oracle(spark):
    # full pipeline (which now routes relations through the fast path for
    # bounded vocabularies) still matches the pure-python oracle
    from kgraphmemory_spark import datagen, semantics
    from kgraphmemory_spark.pipeline import run_pipeline
    rows = datagen.generate_pages_rows(60, seed=11)
    kg = run_pipeline(spark, spark.createDataFrame(
        rows, schema=datagen.PAGE_SCHEMA))
    oracle = semantics.build_kg(rows)
    got = {(r.subj, r.pred, r.obj, r.weight, r.ndocs)
           for r in kg.relations.collect()}
    want = {(r["subj"], r["pred"], r["obj"], r["weight"], r["ndocs"])
            for r in oracle.relations}
    assert got == want


def test_provenance_fastpath_equals_shuffle_path(docs, canonical, spark):
    """The provenance rows of extract_docagg must be row-identical to
    build_provenance over the real linking machinery — including the
    bigram-dropped-by-canonical case (the fixture's canonical map lacks
    ent:group_by, so the 'group by' bigram mention must vanish from
    n_mentions on BOTH paths) and the single-token doc (n_triples=0)."""
    from kgraphmemory_spark.operators.extraction import (
        extract_mentions,
        extract_provenance_docagg,
    )
    from kgraphmemory_spark.operators.linking import (
        discovered_alias_from_docs,
        link_mentions,
        rank_candidates,
    )
    from kgraphmemory_spark.operators.materialize import build_provenance

    ranked = rank_candidates(discovered_alias_from_docs(docs))
    linked = link_mentions(extract_mentions(docs), ranked)
    lc = linked.join(canonical, "entity_id")
    slow = build_provenance(lc, extract_raw_triples(docs))
    cmap = {r.entity_id: r.canonical_id for r in canonical.collect()}
    fast = extract_provenance_docagg(extract_docagg(docs, cmap))
    want = sorted(tuple(r) for r in slow.collect())
    got = sorted(tuple(r) for r in fast.collect())
    assert got == want
    # spot-check the fixture edges: doc a loses its bigram mention
    # (4 unigrams, 2 canonical entities after group→agg, 3 adjacency
    # triples); doc d has one token and zero triples
    rows = {r.url: (r.n_mentions, r.n_entities, r.n_triples)
            for r in fast.collect()}
    assert rows["a"] == (4, 2, 3)
    assert rows["d"] == (1, 1, 0)
    assert "c" not in rows            # empty text → no provenance row


def test_provenance_fastpath_counts_bigrams(spark):
    """With the full pipeline canonical map (which always contains the
    bigram entities), the bigram mention and its entity are counted."""
    from kgraphmemory_spark import datagen, semantics
    from kgraphmemory_spark.operators.extraction import (
        extract_mentions,
        extract_provenance_docagg,
    )
    from kgraphmemory_spark.operators.linking import (
        discovered_alias_from_docs,
        link_mentions,
        rank_candidates,
    )
    from kgraphmemory_spark.operators.materialize import build_provenance

    pages = spark.createDataFrame(
        [("u1", None, None, "the hash join beats the sort merge", "en"),
         ("u2", None, None, "hash hash join", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    docs = extract_docs(pages)
    ranked = rank_candidates(discovered_alias_from_docs(docs))
    ids = [r.entity_id for r in ranked.select("entity_id").collect()]
    cmap = dict(semantics.canonical_map(set(ids)).items())
    canonical = spark.createDataFrame(
        sorted(cmap.items()), "entity_id string, canonical_id string")
    linked = link_mentions(extract_mentions(docs), ranked)
    lc = linked.join(canonical, "entity_id")
    slow = build_provenance(lc, extract_raw_triples(docs))
    fast = extract_provenance_docagg(extract_docagg(docs, cmap))
    assert sorted(tuple(r) for r in fast.collect()) == \
        sorted(tuple(r) for r in slow.collect())
    rows = {r.url: (r.n_mentions, r.n_entities, r.n_triples)
            for r in fast.collect()}
    # u1: 7 unigrams + 2 bigrams; u2: 3 unigrams + 1 bigram ("hash join"
    # at pos 1), entities {hash, join, hash_join}
    assert rows["u1"][0] == 9 and rows["u1"][2] == 6
    assert rows["u2"] == (4, 3, 2)


def test_pipeline_provenance_matches_slow_path(spark):
    """run_pipeline (fast path engaged) vs build_provenance over the
    pipeline's own linked/raw tables on the synthetic corpus."""
    from kgraphmemory_spark import datagen
    from kgraphmemory_spark.operators.materialize import build_provenance
    from kgraphmemory_spark.pipeline import run_pipeline
    pages = datagen.generate_pages(spark, 80, seed=23)
    kg = run_pipeline(spark, pages)
    slow = build_provenance(kg.linked, kg.raw_triples)
    assert sorted(tuple(r) for r in kg.provenance.collect()) == \
        sorted(tuple(r) for r in slow.collect())


def test_entities_fastpath_equals_preagg_path(spark):
    """extract_docagg + build_entities_docagg must be row-identical to build_entities_preagg over the real linking
    machinery — bigram flag, min-name across batches, counts summed."""
    from kgraphmemory_spark import datagen, semantics
    from kgraphmemory_spark.operators.extraction import extract_mentions
    from kgraphmemory_spark.operators.linking import (
        discovered_alias_from_docs,
        rank_candidates,
    )
    from kgraphmemory_spark.operators.materialize import (
        build_entities_docagg,
        build_entities_preagg,
    )

    pages = datagen.generate_pages(spark, 80, seed=31)
    docs = extract_docs(pages)
    alias = discovered_alias_from_docs(docs)
    ranked = rank_candidates(alias)
    ids = [r.entity_id for r in ranked.select("entity_id").collect()]
    cmap = dict(semantics.canonical_map(set(ids)).items())
    canonical = spark.createDataFrame(
        sorted(cmap.items()), "entity_id string, canonical_id string")
    slow = build_entities_preagg(extract_mentions(docs), ranked, canonical)
    fast = build_entities_docagg(extract_docagg(docs, cmap))
    assert sorted(tuple(r) for r in fast.collect()) == \
        sorted(tuple(r) for r in slow.collect())


def test_entities_fastpath_bigram_and_unmapped(spark):
    """A canonical id fed by both a unigram and a bigram keeps the
    phrase type and the min name; unmapped tokens are dropped."""
    from kgraphmemory_spark.operators.materialize import (
        build_entities_docagg,
    )
    pages = spark.createDataFrame(
        [("u1", None, None, "hash join hash ghost", "en"),
         ("u2", None, None, "join hash join", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    docs = extract_docs(pages)
    # hash_join canonicalizes with hash; ghost has no canonical entry
    cmap = {"ent:hash": "ent:hash", "ent:join": "ent:join",
            "ent:hash_join": "ent:hash"}
    got = {r.entity_id: (r.name, r.entity_type, r.mention_count)
           for r in build_entities_docagg(
               extract_docagg(docs, cmap)).collect()}
    # ent:hash ← unigram "hash" ×3 + bigram "hash join" ×2 → phrase type,
    # min name "hash"; ent:join ← unigram "join" ×3
    assert got == {"ent:hash": ("hash", "urn:kg:Phrase", 5),
                   "ent:join": ("join", "urn:kg:Token", 3)}


@pytest.mark.parametrize("seed,max_batch", [
    pytest.param(3, None, id="3"), pytest.param(9, None, id="9"),
    pytest.param(3, 7, id="3-batch7"), pytest.param(9, 7, id="9-batch7")])
def test_fastpaths_random_corpus_differential(spark, seed, max_batch):
    """Randomized differential: all three doc-agg fast paths vs their
    shuffle-path twins over a corpus that mixes empty docs, single
    tokens, heavy repetition, unicode, synonym-merge tokens and every
    phrase-table bigram.  ``max_batch`` 7 splits every partition into
    several Arrow batches, so the cross-batch combine (summed per-batch
    ndocs, min name, or'd bigram flag) is exercised; None keeps the
    session default, under which the corpus fits one batch per
    partition."""
    import random

    from kgraphmemory_spark import semantics
    from kgraphmemory_spark.operators.extraction import (
        extract_mentions,
        extract_provenance_docagg,
    )
    from kgraphmemory_spark.operators.linking import (
        discovered_alias_from_docs,
        link_mentions,
        rank_candidates,
    )
    from kgraphmemory_spark.operators.materialize import (
        build_entities_docagg,
        build_entities_preagg,
        build_provenance,
        build_relations,
        build_relations_docagg,
    )

    rng = random.Random(seed)
    vocab = ["hash", "join", "table", "scan", "sort", "merge", "group",
             "by", "order", "quick", "fast", "the", "données", "αβγ"]
    rows = []
    for i in range(150):
        n = rng.choice([0, 1, 2, rng.randint(3, 40)])
        toks = [rng.choice(vocab) for _ in range(n)]
        rows.append((f"u{i}", None, None, " ".join(toks), "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    docs = extract_docs(pages)
    alias = discovered_alias_from_docs(docs)
    ranked = rank_candidates(alias)
    ids = [r.entity_id for r in ranked.select("entity_id").collect()]
    cmap = dict(semantics.canonical_map(set(ids)).items())
    canonical = spark.createDataFrame(
        sorted(cmap.items()), "entity_id string, canonical_id string")

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        if max_batch is not None:
            spark.conf.set(key, str(max_batch))
        docagg = extract_docagg(docs, cmap)
        assert rows_of(build_relations_docagg(docagg)) == \
            rows_of(build_relations(extract_raw_triples(docs), canonical))
        assert rows_of(build_entities_docagg(docagg)) == \
            rows_of(build_entities_preagg(
                extract_mentions(docs), ranked, canonical))
        lc = link_mentions(extract_mentions(docs), ranked).join(
            canonical, "entity_id")
        assert rows_of(extract_provenance_docagg(docagg)) == \
            rows_of(build_provenance(lc, extract_raw_triples(docs)))
    finally:
        spark.conf.set(key, saved)


def test_docagg_bytes_cutover_falls_back(spark, monkeypatch):
    """The doc-agg cutover is bytes-aware: forcing the byte ceiling to 1
    routes relations/entities/provenance (and the canonical map) through
    the open-vocabulary shuffle paths — identical rows."""
    from kgraphmemory_spark import datagen, pipeline
    pages = datagen.generate_pages(spark, 50, seed=7)
    fast = pipeline.run_pipeline(spark, pages)
    monkeypatch.setattr(pipeline, "RELATIONS_DOCAGG_MAX_BYTES", 1)
    slow = pipeline.run_pipeline(spark, pages)
    for name in ("relations", "entities", "provenance", "canonical",
                 "triples"):
        assert sorted(tuple(r) for r in getattr(fast, name).collect()) == \
            sorted(tuple(r) for r in getattr(slow, name).collect()), name
