"""Linking join: both plans (broadcast / salted) must produce identical
results; ambiguous aliases rank deterministically."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark import datagen
from kgraphmemory_spark.operators.extraction import extract_docs, extract_mentions
from kgraphmemory_spark.operators.linking import (
    discovered_alias_table,
    link_mentions,
    link_score_histogram,
    rank_candidates,
)


@pytest.fixture(scope="module")
def mentions(spark):
    pages = datagen.generate_pages(spark, 40, seed=23)
    m = extract_mentions(extract_docs(pages)).cache()
    m.count()
    return m


def _rows(df):
    return {(r.url, r.pos, r.kind, r.entity_id, r.link_score)
            for r in df.collect()}


def test_strategies_agree(spark, mentions):
    ranked = rank_candidates(discovered_alias_table(mentions)).cache()
    bcast = _rows(link_mentions(mentions, ranked))
    assert _rows(link_mentions(mentions, ranked, salted=True)) == bcast
    assert len(bcast) == mentions.count()  # 1 row per mention


def test_ambiguous_alias_ranked_deterministically(spark):
    m = spark.createDataFrame(
        [("u1", 0, "apple", "unigram")],
        "url string, pos int, surface string, kind string")
    alias = spark.createDataFrame(
        [("apple", "unigram", "ent:apple_fruit", 0.9),
         ("apple", "unigram", "ent:apple_inc", 0.9),
         ("apple", "unigram", "ent:apple_other", 0.2)],
        "surface string, kind string, entity_id string, prior double")
    got = link_mentions(m, rank_candidates(alias)).collect()
    assert len(got) == 1
    # score tie → lexicographic entity_id wins
    assert got[0].entity_id == "ent:apple_fruit"
    assert got[0].link_score == 0.9


def test_unknown_surface_drops(spark):
    m = spark.createDataFrame(
        [("u1", 0, "zzz", "unigram")],
        "url string, pos int, surface string, kind string")
    alias = spark.createDataFrame(
        [("aaa", "unigram", "ent:aaa", 1.0)],
        "surface string, kind string, entity_id string, prior double")
    assert link_mentions(m, rank_candidates(alias)).count() == 0


def test_histogram_buckets(spark, mentions):
    linked = link_mentions(
        mentions, rank_candidates(discovered_alias_table(mentions)))
    hist = {r.score_bucket: r.n for r in link_score_histogram(linked).collect()}
    assert sum(hist.values()) == linked.count()
    assert set(hist) == {9}  # all exact matches → top bucket


def test_alias_from_docs_equals_mention_path(spark):
    """discovered_alias_from_docs (per-doc array_distinct before the
    explode — the pipeline's fast discovery path) must yield exactly the
    mention-fan-out alias table, including the fixed bigram arm and
    empty-token edge cases."""
    from kgraphmemory_spark.operators.linking import discovered_alias_from_docs
    pages = datagen.generate_pages(spark, 40, seed=23)
    docs = extract_docs(pages)
    fast = {tuple(r) for r in discovered_alias_from_docs(docs).collect()}
    slow = {tuple(r) for r in
            discovered_alias_table(extract_mentions(docs)).collect()}
    assert fast == slow
    # degenerate docs: empty text and repeated-token text
    deg = spark.createDataFrame(
        [("u1", None, None, "", "en"), ("u2", None, None, "tok tok tok", "en"),
         ("u3", None, None, "a  b", "en")],  # double space → empty token
        "url string, warc_ts timestamp, html binary, text string, lang string")
    ddocs = extract_docs(deg)
    dfast = {tuple(r) for r in discovered_alias_from_docs(ddocs).collect()}
    dslow = {tuple(r) for r in
             discovered_alias_table(extract_mentions(ddocs)).collect()}
    assert dfast == dslow


def test_entities_preagg_equals_reference_shape(spark):
    """build_entities_preagg (vocab-sized pre-aggregation) must equal
    build_entities over the per-occurrence linked stream."""
    from kgraphmemory_spark.operators.cc import canonical_mapping
    from kgraphmemory_spark.operators.extraction import extract_docs
    from kgraphmemory_spark.operators.linking import discovered_alias_from_docs
    from kgraphmemory_spark.operators.materialize import (
        build_entities,
        build_entities_preagg,
    )
    from kgraphmemory_spark.pipeline import same_as_edges
    pages = datagen.generate_pages(spark, 60, seed=31)
    docs = extract_docs(pages)
    m = extract_mentions(docs)
    alias = discovered_alias_from_docs(docs).cache()
    ranked = rank_candidates(alias)
    canonical = canonical_mapping(
        ranked.select("entity_id").distinct(), same_as_edges(spark)).cache()
    linked = link_mentions(m, ranked)
    lc = linked.join(F.broadcast(canonical), "entity_id")
    ref = {tuple(r) for r in build_entities(lc).collect()}
    fast = {tuple(r) for r in
            build_entities_preagg(m, ranked, canonical).collect()}
    assert fast == ref and len(fast) > 0


def test_auto_cutover_picks_salted_above_threshold(spark):
    """The salted plan the pipeline picks past the broadcast ceiling
    (tests/test_pipeline_e2e.py drives that cutover end to end), over a
    supra-threshold synthetic alias table with a Zipf-headed mention
    stream, emits exactly one row per mention, identical to the
    broadcast plan's rows."""
    from pyspark.sql import functions as F

    from kgraphmemory_spark.datagen import synthetic_alias_and_mentions

    alias, mentions = synthetic_alias_and_mentions(
        spark, alias_rows=50_000, mention_rows=20_000, partitions=8)
    ranked = rank_candidates(alias)
    salted = link_mentions(mentions, ranked, salted=True)
    assert salted.count() == 20_000  # 1:1 — no dup, no drop, head keys incl.
    bcast = link_mentions(mentions, ranked)
    assert salted.exceptAll(bcast).count() == 0
    assert bcast.exceptAll(salted).count() == 0
    # the head keys really are skewed (the shape salting exists for)
    top = (mentions.groupBy("surface").count()
           .orderBy(F.desc("count")).first())
    # hub keys draw ~(head_share/salt_mod)·mentions/head_keys ≈ 94 rows
    # each; a uniform surface over 50k aliases draws ≤ 1 — skew is real
    assert top["count"] > 50
