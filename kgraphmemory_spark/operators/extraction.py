"""Stage 1-2: page extraction, mention detection, raw triple extraction,
and the doc-aggregate kernel behind the entity, relation and provenance
fast paths.

Mentions and raw triples are pure `pyspark.sql.functions` (whole-stage
codegen): tokenization = `split`, mention/adjacency fan-out =
`posexplode`/`zip_with` over token arrays.  Python runs in two places:
- the HTML decode, a pandas UDF (Arrow-batched) that wraps the SAME pure
  function the pytest oracle uses (`semantics.extract_text`) — the
  byte-identical-text invariant holds by construction;
- `extract_docagg`, one Arrow-batched map pass over docs_clean that emits
  the doc-local aggregates of entities, relations and provenance under
  the vocabulary ceiling (its docstring says why and what it mirrors).

Rule-set: semantics.py (webtext-v1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import extract_text_udf
from ..semantics import BIGRAM_ALIASES, REL_NEXT


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs_clean(url, warc_ts,
    text, lang, text_sha).  html wins over provided text when present."""
    text = F.when(
        F.col("html").isNotNull(), extract_text_udf(F.col("html"))
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))
    return pages.select(
        "url",
        "warc_ts",
        text.alias("text"),
        "lang",
    ).withColumn("text_sha", F.sha2(F.col("text"), 256))


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "url", F.split("text", " ").alias("toks")
    ).where(F.length("text") > 0)


def _token_pairs(docs: DataFrame) -> DataFrame:
    """(url, pos, a, b) for every adjacent token pair — ONE map-side pass:
    zip_with over two shifted slices + posexplode.  No per-element
    element_at lambdas (they allocate a struct array per row and dominated
    the profile at 250k pages), no shuffle."""
    toks = _tokens(docs).where(F.size("toks") >= 2)
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return toks.select(
        "url", F.posexplode(pairs).alias("pos", "p")
    ).select("url", "pos", F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def extract_mentions(docs: DataFrame) -> DataFrame:
    """docs_clean → mentions(url, pos, surface, kind).

    Unigrams: every token.  Bigrams: adjacent pairs present in the phrase
    alias table (ngram blocking, semantics.BIGRAM_ALIASES).
    """
    toks = _tokens(docs)
    uni = toks.select(
        "url", F.posexplode("toks").alias("pos", "surface")
    ).withColumn("kind", F.lit("unigram"))

    big = (
        _token_pairs(docs)
        .select("url", "pos", F.concat_ws(" ", "a", "b").alias("surface"))
        .where(F.col("surface").isin(*sorted(BIGRAM_ALIASES)))
        .withColumn("kind", F.lit("bigram"))
    )
    return uni.unionByName(big)


def extract_raw_triples(docs: DataFrame) -> DataFrame:
    """docs_clean → raw_triples(url, pos, subj_surface, pred, obj_surface):
    token adjacency (rule-set stage 2)."""
    return _token_pairs(docs).select(
        "url",
        "pos",
        F.col("a").alias("subj_surface"),
        F.lit(REL_NEXT).alias("pred"),
        F.col("b").alias("obj_surface"),
    )


# extract_docagg's flat tagged output: each row kind names the columns it
# uses of the shared string (s1, s2) and count (n1, n2, n3) slots
DOCAGG_SCHEMA = "tag string, s1 string, s2 string, n1 long, n2 long, n3 long"
_DOCAGG_COLUMNS = {
    "entities": ("canonical_id", "name", "big", "cnt", None),
    "relations": ("subj", "obj", "cnt", "ndocs", None),
    "provenance": ("url", None, "n_mentions", "n_entities", "n_triples"),
}


def docagg_rows(docagg: DataFrame, tag: str) -> DataFrame:
    """The ``tag`` rows of ``extract_docagg`` under their own column names."""
    return docagg.where(F.col("tag") == tag).select(*[
        F.col(slot).alias(name) for slot, name in
        zip(("s1", "s2", "n1", "n2", "n3"), _DOCAGG_COLUMNS[tag]) if name])


def extract_docagg(docs: DataFrame, canonical_map: dict) -> DataFrame:
    """docs_clean → the doc-aggregate rows of entities, relations and
    provenance in one ``DOCAGG_SCHEMA`` table, from ONE Arrow pass that
    tokenizes, factorizes and canonicalizes each batch once.
    ``docagg_rows`` projects each kind.

    Why: every mention, adjacency pair and raw triple of a document comes
    from ONE docs_clean row, so the doc level of all three aggregates is
    computable map-side.  The shuffle paths group the 10^2×-wider mention
    and pair streams instead: relations alone measured 2.3 GB + 2.7 GB
    shuffle and ~1200 CPU-s over 3 stages at 2M pages, provenance 57 s
    against the cost of one docs_clean scan (2M pages / 16 cores).

    - ``entities``: one partial row per canonical id per batch (mention
      count, min surface, bigram flag — all decomposable, and under the
      discovered-alias pipeline entity_id is a pure function of (surface,
      kind): ``ent:<surface>`` / ``BIGRAM_ALIASES[surface]``), finished by
      ``build_entities_docagg``.  The mention explode never materializes.
    - ``relations``: one partial row per canonical adjacency pair per
      batch (Σ occurrences, number of batch documents holding the pair),
      summed by ``build_relations_docagg``.  Per-doc dedup runs on
      CANONICAL pairs: two surface pairs that merge under canonicalization
      within one document count that document ONCE, exactly like the
      countDistinct(url) in the shuffle path.  Assumes url is unique per
      docs_clean row (it is the input table's key — BASELINE input_hint).
    - ``provenance``: the finished per-doc rows.  n_mentions = unigram
      tokens + phrase-table bigram hits whose canonical lookup succeeds;
      n_entities = distinct canonical ids over those mentions; n_triples
      = adjacency pairs = max(len(tokens)-1, 0), NOT canonical-filtered
      (build_provenance counts raw_triples); docs with zero surviving
      mentions emit no row (build_provenance's left join hangs triples
      off the mention side).

    Tokens and bigrams without a canonical entry are dropped — the shuffle
    paths' alias-join ∘ canonical-join composition (with the pipeline's
    discovered alias every token resolves; the .get guard is defensive).
    Semantics are pinned against the shuffle paths in
    tests/test_pipeline_fastpath.py.  Only valid under the vocabulary
    ceiling where ``canonical_map`` is a driver dict
    (``pipeline.build_graph`` gates on RELATIONS_DOCAGG_MAX_VOCAB).
    """
    # shipped as a Spark broadcast, not captured in the task closure: the
    # bytes ceiling lets this vocabulary-sized dict reach ~hundreds of MB
    bmap = docs.sparkSession.sparkContext.broadcast(canonical_map)
    # 4-entry phrase table → candidate pairs are prefiltered to the few
    # whose first token can open a phrase, so the string lookup below
    # touches a tiny unique set per batch
    first_words = {k.split(" ")[0] for k in BIGRAM_ALIASES}

    def gen(batches):
        import numpy as np
        import pandas as pd

        def tagged(tag, s1, s2, n1, n2, n3=0):
            return pd.DataFrame({"tag": tag, "s1": s1, "s2": s2,
                                 "n1": n1, "n2": n2, "n3": n3})

        cmap = bmap.value
        for pdf in batches:
            texts = pdf["text"]
            mask = texts.str.len() > 0          # mirrors _tokens' filter
            texts = texts[mask].reset_index(drop=True)
            urls = pdf["url"][mask].to_numpy()
            nd = len(texts)
            if nd == 0:
                continue
            # one explode → flat token stream with doc ids; everything
            # below is vectorized numpy / one hash-based factorize — no
            # per-document python loop, no object-array sort
            ex = texts.str.split(" ").explode()  # mirrors F.split(text," ")
            flat = ex.to_numpy()
            di_flat = ex.index.to_numpy()
            lens = np.bincount(di_flat, minlength=nd)
            tok_codes, uniq = pd.factorize(flat)
            nu = len(uniq)
            # adjacent pairs, doc-local: a = all but doc-last token,
            # b = all but doc-first, aligned
            offs = np.cumsum(lens) - lens
            pos = np.arange(len(flat), dtype=np.int64) - np.repeat(offs, lens)
            a_mask = pos < np.repeat(lens, lens) - 1
            a_tok, b_tok = tok_codes[a_mask], tok_codes[pos > 0]
            di_pair = di_flat[a_mask]
            fw = np.array([u in first_words for u in uniq], dtype=bool)
            cand = np.nonzero(fw[a_tok])[0]
            upk, inv = np.unique(a_tok[cand].astype(np.int64) * nu
                                 + b_tok[cand], return_inverse=True)
            big_surfs = np.array(
                [uniq[k // nu] + " " + uniq[k % nu] for k in upk],
                dtype=object)
            # one dict lookup per DISTINCT token / bigram per batch, then
            # factorize through CANONICAL space (one code space across
            # unigram and bigram entities): distinct surfaces that merge
            # under canonicalization must share a code, or same-doc merged
            # pairs would be counted as distinct (ndocs inflation)
            canon_vals = [cmap.get("ent:" + u) for u in uniq]
            big_vals = [cmap.get(BIGRAM_ALIASES.get(s)) for s in big_surfs]
            canon = np.array(
                sorted({v for v in canon_vals + big_vals if v is not None}),
                dtype=object)
            nc = max(len(canon), 1)
            codes = {v: i for i, v in enumerate(canon)}
            tok2c = np.array([codes.get(v, -1) for v in canon_vals],
                             dtype=np.int64)
            big2c = np.array([codes.get(v, -1) for v in big_vals],
                             dtype=np.int64)

            ent = pd.DataFrame({
                "c": np.concatenate([tok2c, big2c]),
                "name": np.concatenate([uniq, big_surfs]),
                "big": np.repeat([0, 1], [nu, len(upk)]),
                "cnt": np.concatenate([
                    np.bincount(tok_codes, minlength=nu),
                    np.bincount(inv, minlength=len(upk))]),
            })
            ent = ent[ent["c"] >= 0].groupby("c").agg(
                name=("name", "min"), big=("big", "max"), cnt=("cnt", "sum"))
            yield tagged("entities", canon[ent.index.to_numpy()],
                         ent["name"].to_numpy(), ent["big"].to_numpy(),
                         ent["cnt"].to_numpy())

            # count (pair, doc) groups on a packed int64 key — a C-speed
            # np.unique instead of a pandas groupby over object strings —
            # then the docs per pair.  Bounds: docs per Arrow batch ≤ 10^4
            # (maxRecordsPerBatch), distinct canonical ids per batch
            # ≤ 10^6 → key < 10^16 << 2^63.
            ca, cb = tok2c[a_tok], tok2c[b_tok]
            keep = (ca >= 0) & (cb >= 0)
            pair_doc, occ = np.unique(
                (ca[keep] * nc + cb[keep]) * nd + di_pair[keep],
                return_counts=True)
            pairs, first, ndocs = np.unique(
                pair_doc // nd, return_index=True, return_counts=True)
            yield tagged("relations", canon[pairs // nc], canon[pairs % nc],
                         np.add.reduceat(occ, first), ndocs)

            c_uni, c_big = tok2c[tok_codes], big2c[inv]
            di_big = di_pair[cand]
            ku, kb = c_uni >= 0, c_big >= 0
            n_mentions = (np.bincount(di_flat[ku], minlength=nd)
                          + np.bincount(di_big[kb], minlength=nd))
            ent_keys = np.unique(np.concatenate([
                di_flat[ku] * nc + c_uni[ku], di_big[kb] * nc + c_big[kb]]))
            n_entities = np.bincount(ent_keys // nc, minlength=nd)
            n_triples = np.maximum(lens - 1, 0)
            doc = n_mentions > 0
            yield tagged("provenance", urls[doc], None, n_mentions[doc],
                         n_entities[doc], n_triples[doc])

    return docs.select("url", "text").mapInPandas(gen, schema=DOCAGG_SCHEMA)


def extract_provenance_docagg(docagg: DataFrame) -> DataFrame:
    """provenance(url, n_mentions, n_entities, n_triples): the finished
    per-doc rows of ``extract_docagg``."""
    return docagg_rows(docagg, "provenance")
