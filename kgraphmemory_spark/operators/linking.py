"""Stage 3: entity linking — candidate generation + ranking.

The linking join is THE skew point at web scale: mention surfaces follow a
Zipf law ("the"-class hub tokens, wikipedia-scale head entities), so a naive
shuffle join on `surface` piles the head keys onto single tasks.  Two
plans, picked by the pipeline from the ranked alias table's size
(``pipeline.build_graph``: salted past ``BROADCAST_MAX_ALIAS_ROWS``):

- broadcast — alias table small enough to broadcast (the common case
  when aliases fit in executor memory; no shuffle at all);
- salted    — explode the alias table ×SALT, salt each mention by a
  content hash, join on (surface, salt): head keys spread over SALT tasks.

Both produce identical rows (asserted in tests/test_linking.py).

Ranking (SURVEY.md §2.5 W2): best candidate per mention — semantics of
row_number() over (url,pos,kind) ordered by (score desc, entity_id) == 1,
the reference's take-first-hit loop (kginteraction_graph.py:97-126) —
implemented as a hash aggregate (min over struct) rather than a window
sort; see rank_candidates.  The pipeline's ``alias_table`` stage commits
this ranked table, (surface, kind, entity_id, link_score): for discovered
aliases it holds the discovered rows with ``prior`` renamed
``link_score``.  Its manifest records the row count and Σ entity-id bytes
that pick the plans above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics import BIGRAM_ALIASES
from ..session import driver_frame

SALT = 16

# Broadcast cutover: an alias row is ~60 bytes serialized (surface +
# entity_id + kind + score); 5M rows ≈ 300 MB — the practical ceiling for
# a broadcast table on mid-size executors.  Above it the open-vocabulary
# alias table of a web corpus is no longer broadcastable and the salted
# join is the documented scale path (BASELINE.md: salted ≈ broadcast
# wall-clock at 1M pages, so the cutover costs nothing locally).
BROADCAST_MAX_ALIAS_ROWS = 5_000_000


def _bigram_aliases(spark) -> DataFrame:
    """The fixed phrase table as alias rows (surface, kind, entity_id,
    prior) — the bigram arm of every discovered alias table."""
    return driver_frame(
        spark,
        [(k, "bigram", v, 1.0) for k, v in sorted(BIGRAM_ALIASES.items())],
        "surface string, kind string, entity_id string, prior double",
    )


def discovered_alias_table(mentions: DataFrame) -> DataFrame:
    """Open-vocabulary alias table: every distinct unigram surface maps to
    the deterministic entity id `ent:<surface>`; bigram surfaces map per
    the fixed phrase table.  → (surface, kind, entity_id, prior)."""
    uni = (
        mentions.where(F.col("kind") == "unigram")
        .select("surface").distinct()
        .select(
            "surface",
            F.lit("unigram").alias("kind"),
            F.concat(F.lit("ent:"), F.col("surface")).alias("entity_id"),
            F.lit(1.0).alias("prior"),
        )
    )
    return uni.unionByName(_bigram_aliases(mentions.sparkSession))


def discovered_alias_from_docs(docs: DataFrame) -> DataFrame:
    """Alias discovery without the per-occurrence mention fan-out.

    Produces exactly ``discovered_alias_table(extract_mentions(docs))``:
    the unigram vocabulary is the distinct token set, so dedupe *inside*
    each document first (``array_distinct`` — map-side, inside the array,
    no row growth) and explode only per-document vocabularies.  On natural
    text that is ~K× fewer exploded rows (K = mean within-doc token
    repetition) and no (url, pos, kind) payload columns, before the same
    map-side-combine distinct.  The bigram arm of the alias table is the
    fixed phrase table and never needed the corpus at all.

    At 10^12 docs this converts the heaviest discovery shuffle from
    O(total tokens) rows to O(Σ per-doc vocab) rows.
    """
    uni = (
        docs.where(F.length("text") > 0)
        .select(F.explode(F.array_distinct(F.split("text", " ")))
                .alias("surface"))
        .distinct()
        .select(
            "surface",
            F.lit("unigram").alias("kind"),
            F.concat(F.lit("ent:"), F.col("surface")).alias("entity_id"),
            F.lit(1.0).alias("prior"),
        )
    )
    return uni.unionByName(_bigram_aliases(docs.sparkSession))


def rank_candidates(alias_table: DataFrame) -> DataFrame:
    """Best candidate per (surface, kind) — the W2 ranker.

    Semantics: row_number() over (surface,kind ORDER BY prior DESC,
    entity_id) == 1, expressed as min(struct(-prior, entity_id)) so it runs
    as a partial+final hash aggregate (map-side combine), never a sort.
    Because our link scores are a function of the surface alone (prior),
    ranking happens ONCE per alias key — not once per mention — which
    collapses the per-mention 10^12-row ranking shuffle to an
    alias-cardinality aggregation.  (A context-dependent scorer would rank
    per mention; that shape is the groupBy in ``jaccard_verify``-style
    per-pair aggs and stays available.)
    """
    best = F.min(F.struct(
        (-F.col("prior")).alias("neg_score"),
        F.col("entity_id").alias("entity_id"),
    )).alias("b")
    return (
        alias_table.groupBy("surface", "kind").agg(best)
        .select("surface", "kind",
                F.col("b.entity_id").alias("entity_id"),
                (-F.col("b.neg_score")).alias("link_score"))
    )


def link_mentions(mentions: DataFrame, ranked: DataFrame,
                  salted: bool = False) -> DataFrame:
    """mentions(url,pos,surface,kind) ⋈ ranked(surface,kind,entity_id,
    link_score) — ``rank_candidates`` output, one best candidate per
    (surface, kind) — → linked(url, pos, surface, kind, entity_id,
    link_score), one row per linked mention.

    The join is 1:1, so either plan is a pure map/shuffle join with no
    downstream agg: ``ranked`` broadcast, or (``salted``) exploded ×SALT
    and joined on (surface, kind, salt) with each mention salted by
    xxhash64(url, pos)."""
    if salted:
        salted_m = mentions.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "pos"), F.lit(SALT)).cast("int")
        )
        salted_a = ranked.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
        )
        j = salted_m.join(
            salted_a, ["surface", "kind", "_salt"], "inner"
        ).drop("_salt")
    else:
        j = mentions.join(F.broadcast(ranked), ["surface", "kind"], "inner")
    return j.select("url", "pos", "surface", "kind", "entity_id", "link_score")


def link_score_histogram(linked: DataFrame, buckets: int = 10) -> DataFrame:
    """Per-bucket link-score histogram — the lineage metric demanded by the
    north rule (BASELINE.json: 'link-score histograms')."""
    return (
        linked.select(
            F.least(
                F.floor(F.col("link_score") * buckets).cast("int"),
                F.lit(buckets - 1),
            ).alias("score_bucket")
        )
        .groupBy("score_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("score_bucket")
    )
