"""Deterministic synthetic page corpora at the north-rule input shape
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Two sources:

1. ``pages_from_documents`` — lift the driver-provided ``documents`` parquet
   (doc_id, text, lang, source, n_chars) into the input_hint schema.  The
   HTML wrapper is lossless under ``semantics.extract_text`` so the
   byte-identical-text invariant is checkable end to end.

2. ``generate_pages`` — a pure-Python seeded generator producing Zipf-skewed
   token text (hub entities for skew-join tests), optional script/style junk,
   and all-lang variety.  No wall clock, no external data.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# Zipf-ish vocabulary: head tokens are hub entities (the skew source).
_VOCAB = [
    "the", "a", "data", "spark", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "agg", "value", "key", "stream", "window",
    "group", "part", "big", "sort", "query", "fast", "dup",
]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def wrap_html(text: str, title: str = "") -> bytes:
    """Lossless-under-extraction HTML wrapper (adds junk the extractor must
    strip: script, style, comment)."""
    return (
        "<html><head><title>" + title + "</title>"
        "<style>body { color: #000; }</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<!-- comment -->"
        "<body><h1>" + title + "</h1><p>" + text + "</p></body></html>"
    ).encode("utf-8")


def generate_pages_rows(n_pages: int, seed: int = 42,
                        zipf_s: float = 1.3) -> list[dict]:
    """Pure-Python row list (usable by the oracle without Spark)."""
    rng = random.Random(seed)
    # Zipf weights over the vocabulary
    weights = [1.0 / ((i + 1) ** zipf_s) for i in range(len(_VOCAB))]
    rows = []
    for i in range(n_pages):
        n_tok = 16 + rng.randrange(112)
        toks = rng.choices(_VOCAB, weights=weights, k=n_tok)
        text = " ".join(toks)
        url = f"https://example.org/p/{seed}/{i:08d}"
        rows.append({
            "url": url,
            "warc_ts": _EPOCH + dt.timedelta(seconds=i),
            "html": wrap_html(text, title=f"page {i}"),
            "text": None,  # pipeline recomputes; oracle extracts from html
            "lang": rng.choice(_LANGS),
        })
    return rows


def generate_pages(spark: SparkSession, n_pages: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    rows = generate_pages_rows(n_pages, seed)
    df = spark.createDataFrame(rows, schema=PAGE_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "url")
    return df


def generate_pages_distributed(spark: SparkSession, n_pages: int,
                               seed: int = 42,
                               partitions: int = 32) -> DataFrame:
    """Scale path: generate on executors (no driver materialization).

    Each partition derives its rows from (seed, global row index) only, so
    output is independent of ``partitions`` — deterministic at any
    parallelism.  Used by jobs/run_pipeline.py for larger-than-driver
    corpora.
    """
    import pandas as pd

    def gen(iterator):
        for pdf in iterator:
            out = []
            for i in pdf["id"]:
                i = int(i)
                rng = random.Random((seed << 32) ^ i)
                n_tok = 16 + rng.randrange(112)
                weights = [1.0 / ((k + 1) ** 1.3) for k in range(len(_VOCAB))]
                toks = rng.choices(_VOCAB, weights=weights, k=n_tok)
                text = " ".join(toks)
                # fixed-vocabulary title: unique per-page tokens would grow
                # the alias table linearly with the corpus (unrealistic —
                # real alias tables are sublinear) and serialize the
                # broadcast path
                out.append({
                    "url": f"https://example.org/p/{seed}/{i:08d}",
                    "warc_ts": _EPOCH + dt.timedelta(seconds=i),
                    "html": wrap_html(text, title="web page"),
                    "text": None,
                    "lang": _LANGS[rng.randrange(len(_LANGS))],
                })
            yield pd.DataFrame(out, columns=[f.name for f in PAGE_SCHEMA.fields])

    ids = spark.range(0, n_pages, 1, partitions)
    return ids.mapInPandas(gen, schema=PAGE_SCHEMA)


def synthetic_cc_edges(spark: SparkSession, chain_rows: int,
                       chain_len: int = 64, star_rows: int = 0,
                       hubs: int = 4, partitions: int = 32) -> DataFrame:
    """Synthetic CC workload at any scale, generated fully distributed
    (spark.range → expressions, nothing on the driver): ``chain_rows``
    nodes in disjoint chains of ``chain_len`` (the worst case for round
    count — diameter chain_len), plus ``star_rows`` spokes over ``hubs``
    hub nodes (the wikipedia-hub skew shape — single keys with millions of
    neighbors).  Node ids are zero-padded so lexicographic min == numeric
    min: chain node c_i belongs to component c_{(i//chain_len)*chain_len},
    spoke s_i to component h_{i % hubs} — closed-form expected output, so
    a 10M-edge run validates without a 10M-row oracle.  ``chain_rows``
    should be a multiple of ``chain_len``."""
    ids = spark.range(0, chain_rows, 1, partitions)
    edges = (
        ids.where((F.col("id") + 1) % chain_len != 0)
        .select(F.format_string("c%012d", F.col("id")).alias("src"),
                F.format_string("c%012d", F.col("id") + 1).alias("dst"))
    )
    if star_rows:
        spokes = spark.range(0, star_rows, 1, partitions).select(
            F.format_string("h%03d", F.col("id") % hubs).alias("src"),
            F.format_string("s%012d", F.col("id")).alias("dst"))
        edges = edges.unionAll(spokes)
    return edges


def synthetic_hierarchy_triples(spark: SparkSession, trees: int = 9000,
                                k: int = 10, depth: int = 3,
                                partitions: int = 32) -> DataFrame:
    """Synthetic hierarchy for the SPARQL ``+``-path closure bench
    (VERDICT r3 item 6): a forest of ``trees`` perfect ``k``-ary trees of
    ``depth`` levels, emitted as (subject, predicate, object) triples
    parent --urn:child--> child, generated fully distributed
    (spark.range → expressions).  Closed forms:

    - nodes/tree  = Σ_{l=0..depth} k^l;  edges = trees × (nodes/tree − 1)
      (defaults: 1111 nodes/tree → 9,999,000 edges ≈ 10M);
    - closure pairs = trees × Σ_{l=1..depth} l·k^l (ancestor count per
      node = its level) — defaults 28,890,000;
    - frontier-expansion rounds = depth (round r yields length-(r+1)
      paths; the final empty round lands at r = depth)."""
    npt = sum(k ** level for level in range(depth + 1))
    ids = spark.range(0, trees * npt, 1, partitions)
    tree = F.floor(F.col("id") / npt).cast("long")
    idx = (F.col("id") % npt).cast("long")
    parent = F.floor((idx - 1) / k).cast("long")
    return (
        ids.where(idx >= 1)
        .select(
            F.format_string("n%06d_%06d", tree, parent).alias("subject"),
            F.lit("urn:child").alias("predicate"),
            F.format_string("n%06d_%06d", tree, idx).alias("object"),
        )
    )


def synthetic_alias_and_mentions(
        spark: SparkSession, alias_rows: int, mention_rows: int,
        head_keys: int = 64, head_share: int = 3, salt_mod: int = 10,
        partitions: int = 32) -> tuple[DataFrame, DataFrame]:
    """Supra-broadcast-threshold linking workload: an open-vocabulary alias
    table of ``alias_rows`` distinct surfaces (past BROADCAST_MAX_ALIAS_ROWS
    the pipeline links through the salted plan — the 100×-scale trigger
    point) and a Zipf-shaped mention stream where ``head_share``
    in ``salt_mod`` mentions hit one of ``head_keys`` hub surfaces (the
    skew the salted join exists to spread).  Fully distributed generation;
    every mention surface exists in the alias table, so the linking join
    is 1:1 and the expected output row count equals ``mention_rows``."""
    alias = spark.range(0, alias_rows, 1, partitions).select(
        F.format_string("w%09d", F.col("id")).alias("surface"),
        F.lit("unigram").alias("kind"),
        F.format_string("ent:w%09d", F.col("id")).alias("entity_id"),
        F.lit(1.0).alias("prior"),
    )
    m = spark.range(0, mention_rows, 1, partitions)
    surface_id = F.when(
        F.col("id") % salt_mod < head_share, F.col("id") % head_keys
    ).otherwise(F.col("id") % alias_rows)
    mentions = m.select(
        F.format_string("https://example.org/m/%012d", F.col("id")).alias("url"),
        (F.col("id") % 97).alias("pos"),
        F.format_string("w%09d", surface_id).alias("surface"),
        F.lit("unigram").alias("kind"),
    )
    return alias, mentions


def synthetic_zipf_corpus(spark: SparkSession, rows: int,
                          hub_rows: tuple[int, ...] = (4_000_000,
                                                       1_000_000),
                          tail_domains: int = 100_000,
                          writers: int = 1024,
                          partitions: int = 32) -> DataFrame:
    """Zipf-headed web corpus for the corpus-curation bench (VERDICT r4
    item 7), generated fully distributed (spark.range → expressions):
    ``hub_rows[i]`` rows belong to hub domain ``hub%03d`` (the
    one-domain-owns-a-third-of-the-crawl shape that stalls a naive
    per-domain window), the rest spread uniformly over ``tail_domains``
    tail domains.  Closed forms make a 10M-row run self-validating:

    - rows per tail domain = (rows − Σ hub_rows) / tail_domains (exact
      when it divides — pick parameters so it does);
    - token count per doc = (id % 97) + 1, so Σ tokens is exact;
    - ``writer`` = id % writers is the uniform shard-packing partition
      (a writer column, NOT the skewed domain — shard writers are
      assigned round-robin precisely so hub skew can't stall packing).
    """
    ids = spark.range(0, rows, 1, partitions)
    domain = None
    lo = 0
    for i, n in enumerate(hub_rows):
        cond = F.col("id") < (lo + n)
        branch = F.format_string("hub%03d", F.lit(i))
        domain = (F.when(cond, branch) if domain is None
                  else domain.when(cond, branch))
        lo += n
    tail = F.format_string("d%09d", F.col("id") % tail_domains)
    domain = tail if domain is None else domain.otherwise(tail)
    return ids.select(
        F.format_string("p%012d", F.col("id")).alias("doc_id"),
        domain.alias("domain"),
        F.format_string("s%05d", F.col("id") % writers).alias("writer"),
        F.rtrim(F.repeat(F.lit("w "), (F.col("id") % 97 + 1)
                         .cast("int"))).alias("text"),
    )


def pages_from_documents(documents: DataFrame) -> DataFrame:
    """Driver testdata ``documents`` → input_hint pages.

    url = source '/' doc_id (unique); warc_ts = epoch + doc_id seconds;
    html = STRICTLY lossless wrapper (no title/h1 text) so that
    extract_text(html) == text byte-for-byte — this is what lets the DuckDB
    oracle SQL reproduce the pipeline from documents.text alone.
    Everything derived from input columns — no wall clock (SURVEY.md §7.3).
    """
    wrapped = F.concat(
        F.lit("<html><head><title></title>"
              "<style>body { color: #000; }</style>"
              "<script>var x = '<p>not text</p>';</script></head>"
              "<!-- comment --><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    out = documents.select(
        F.concat_ws("/", F.col("source"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(wrapped, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    # the driver's documents parquet is a single split at small SF, which
    # would serialize the pandas-UDF extraction onto one task; a real pages
    # table has thousands of splits.  Spread by url (cheap at this size).
    par = documents.sparkSession.sparkContext.defaultParallelism
    if documents.rdd.getNumPartitions() < par:
        out = out.repartition(par, "url")
    return out
