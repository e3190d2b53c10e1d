"""Seeded inputs, the oracle, and the correctness checks of the benchmark.

Two corpora, both a pages table ``(url, warc_ts, html, text, lang)``
written once per run to parquet; the engine reads only that table.

- ``closed``: Zipf (s = 1.1) draws over a fixed vocabulary of
  ``CLOSED_VOCAB`` surfaces.  The alias table stays under the
  doc-aggregate ceiling, so entities, relations and provenance take the
  doc-aggregate kernels and ``canonical_map`` the driver union-find.
- ``open``: the same Zipf head plus ``OPEN_TAIL_PER_DOC`` long-tail
  surfaces per page drawn from a space of 10^8, nearly all distinct.  The
  alias table passes the ceiling, so those stages take the shuffle paths
  and ``canonical_map`` the DataFrame CC, while head entities skew the keys.

The oracle is ``semantics.build_kg`` over the same rows.  Committed tables
are compared with it by an order-free digest: the row count and the sum
of the first 60 bits of each row's SHA-256, computed by Spark on one side
and by Python on the other.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import multiprocessing
import os
import random
from collections import Counter, defaultdict
from operator import itemgetter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgraphmemory_spark import datagen, semantics as S

CLOSED_VOCAB = 8_000
OPEN_TAIL_PER_DOC = 4
ZIPF_S = 1.1
PAGE_FILES = 4
# The doc-aggregate ceiling the benchmark runs the engine with: the
# engine's own RELATIONS_DOCAGG_MAX_VOCAB (1M) scaled by 1/100, so the open
# corpus crosses it at a size a run can afford.  At 2,500 pages the closed
# corpus has about 7,000 aliases and the open one about 17,000.
DOCAGG_CEILING = 10_000

# head of every corpus: the datagen vocabulary plus the tokens of every
# same-as pair and phrase alias, so canonicalization and bigram linking fire
_HEAD = list(dict.fromkeys(
    datagen._VOCAB
    + [t for pair in S.SYNONYMS for t in pair]
    + [t for phrase in S.BIGRAM_ALIASES for t in phrase.split()]))

# table → committed columns compared with the oracle, in digest order
TABLE_COLUMNS = {
    "docs_clean": ("url", "text"),
    "entities": ("entity_id", "name", "entity_type", "mention_count"),
    "relations": ("subj", "pred", "obj", "weight", "ndocs"),
    "frames": ("frame_uri", "frame_type", "subj", "obj"),
    "slots": ("slot_uri", "frame_uri", "slot_type", "entity_value"),
    "triples": ("subject", "predicate", "object", "graph"),
    "provenance": ("url", "n_mentions", "n_entities", "n_triples"),
}

_SEP = "\x1f"


# -- corpus ------------------------------------------------------------------

def corpus_rows(kind: str, n_pages: int, seed: int) -> list[dict]:
    """Seeded page rows; the same (kind, n_pages, seed) gives the same rows."""
    if kind not in ("closed", "open"):
        raise ValueError(f"unknown corpus {kind!r}")
    rng = random.Random(f"{kind}:{seed}")
    vocab = _HEAD + [f"w{i:05d}" for i in range(CLOSED_VOCAB - len(_HEAD))]
    cum, acc = [], 0.0
    for rank in range(len(vocab)):
        acc += 1.0 / (rank + 1) ** ZIPF_S
        cum.append(acc)
    rows = []
    for i in range(n_pages):
        toks = rng.choices(vocab, cum_weights=cum, k=16 + rng.randrange(80))
        if kind == "open":
            for _ in range(OPEN_TAIL_PER_DOC):
                toks.insert(rng.randrange(len(toks) + 1),
                            f"t{rng.randrange(10 ** 8):08d}")
        rows.append({
            "url": f"https://bench.example/{kind}/{seed}/{i:07d}",
            "warc_ts": datagen._EPOCH + dt.timedelta(seconds=i),
            "html": datagen.wrap_html(" ".join(toks), title="web page"),
            "text": None,
            "lang": datagen._LANGS[rng.randrange(len(datagen._LANGS))],
        })
    return rows


def write_pages(rows: list[dict], path: str) -> None:
    """Write the pages table as ``PAGE_FILES`` parquet files."""
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // PAGE_FILES)
    for j in range(PAGE_FILES):
        pq.write_table(table.slice(j * step, step),
                       os.path.join(path, f"part-{j:02d}.parquet"))


# -- oracle ------------------------------------------------------------------

def _row_hash(values) -> int:
    line = _SEP.join(map(str, values))
    # the first 60 bits of the SHA-256, as the Spark side reads them
    return int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8],
                          "big") >> 4


def _py_digest(rows) -> tuple[int, int]:
    n = total = 0
    for values in rows:
        n += 1
        total += _row_hash(values)
    return n, total


# tables of the running ``Oracle``, read by the forked digest workers
_TABLES: dict[str, list] = {}
_CHUNK = 20_000


def _digest_chunk(task: tuple[str, int]) -> tuple[int, int]:
    name, lo = task
    return _py_digest(_TABLES[name][lo:lo + _CHUNK])


def _py_digests(tables: dict[str, list]) -> dict[str, tuple[int, int]]:
    """``_py_digest`` of every table, in chunks over a fork pool with one
    process per CPU."""
    global _TABLES
    _TABLES = tables
    tasks = [(name, lo) for name, rows in tables.items()
             for lo in range(0, len(rows), _CHUNK)]
    pool = multiprocessing.get_context("fork").Pool(
        len(os.sched_getaffinity(0)))
    try:
        parts = pool.map(_digest_chunk, tasks)
    finally:
        pool.close()
        pool.join()
        _TABLES = {}
    out = dict.fromkeys(tables, (0, 0))
    for (name, _), (n, total) in zip(tasks, parts):
        out[name] = (out[name][0] + n, out[name][1] + total)
    return out


def _digest_row(df, columns):
    line = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in columns])
    h = F.conv(F.substring(F.sha2(line, 256), 1, 15), 16, 10)
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(h.cast("decimal(38,0)")).alias("s"))


def spark_digest(df, columns) -> tuple[int, int]:
    """The same digest as the oracle side, computed by Spark."""
    row = _digest_row(df, columns).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


class Oracle:
    """Expected tables (as digests), the expected triple set and indexes
    that answer every benchmark query, from ``semantics.build_kg``."""

    def __init__(self, rows: list[dict]):
        kg = S.build_kg(rows)
        per_url: dict[str, list] = {}
        for m in kg.mentions:
            acc = per_url.setdefault(m["url"], [0, set()])
            acc[0] += 1
            acc[1].add(m["canonical_id"])
        n_triples = Counter(t["url"] for t in kg.raw_triples)
        provenance = [(u, n, len(c), n_triples.get(u, 0))
                      for u, (n, c) in per_url.items()]
        tables = {
            "docs_clean": [(d["url"], d["text"]) for d in kg.docs],
            "provenance": provenance,
        }
        for name in ("entities", "relations", "frames", "slots", "triples"):
            tables[name] = list(map(itemgetter(*TABLE_COLUMNS[name]),
                                    getattr(kg, name)))
        self.digests = _py_digests(tables)
        self.triple_set = kg.triple_set()
        self.total_weight = sum(r["weight"] for r in kg.relations)

        self.entities = {r["entity_id"]: r for r in kg.entities}
        self.by_name: dict[str, list[str]] = defaultdict(list)
        for r in kg.entities:
            self.by_name[r["name"]].append(r["entity_id"])
        self.out_edges: dict[str, list[dict]] = defaultdict(list)
        for r in kg.relations:
            self.out_edges[r["subj"]].append(r)
        self.frames_by_subj: dict[str, list[dict]] = defaultdict(list)
        for f in kg.frames:
            self.frames_by_subj[f["subj"]].append(f)


def check_tables(kg, oracle: Oracle) -> list[str]:
    """Names of committed tables whose digest differs from the oracle
    (one Spark job for all of them)."""
    parts = [_digest_row(getattr(kg, name), cols)
             .select(F.lit(name).alias("table"), "n", "s")
             for name, cols in TABLE_COLUMNS.items()]
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    got = {r["table"]: (int(r["n"]), int(r["s"] or 0)) for r in union.collect()}
    return [name for name in TABLE_COLUMNS
            if got[name] != oracle.digests[name]]


def triple_precision_recall(kg, oracle: Oracle) -> tuple[float, float]:
    got = {(r["subj"], r["pred"], r["obj"])
           for r in kg.relations.select("subj", "pred", "obj").collect()}
    hit = len(got & oracle.triple_set)
    return (hit / len(got) if got else 0.0,
            hit / len(oracle.triple_set) if oracle.triple_set else 0.0)


# -- queries -----------------------------------------------------------------

TEMPLATES = ("get_object", "sparql_name", "linked_objects",
             "frames_for_entity", "sparql_2hop")

# query arguments are drawn from entities whose answer has at most this
# many rows, so every run's queries do comparable work (2-hop seeds also
# need a non-empty answer)
MAX_ANSWER_ROWS = 50


def query_stream(oracle: Oracle, seed: int):
    """Endless seeded (template, argument) pairs, round-robin over the
    templates so every run has the same template mix."""
    rng = random.Random(f"queries:{seed}")
    small = [u for u in sorted(oracle.entities)
             if len(oracle.frames_by_subj.get(u, ())) <= MAX_ANSWER_ROWS]
    pools = {t: small for t in TEMPLATES}
    pools["sparql_name"] = sorted(oracle.entities[u]["name"] for u in small)
    pools["sparql_2hop"] = [u for u in small
                            if 0 < _two_hop_size(oracle, u) <= MAX_ANSWER_ROWS]
    while True:
        for t in TEMPLATES:
            yield t, rng.choice(pools[t])


def _two_hop_size(oracle: Oracle, uri: str) -> int:
    return sum(len(oracle.frames_by_subj.get(f["obj"], ()))
               for f in oracle.frames_by_subj.get(uri, ()))


def compile_query(view, template: str, arg: str):
    """The lazy DataFrame a ``KGraphView`` call returns for this query."""
    if template == "get_object":
        return view.get_object(arg)
    if template == "sparql_name":
        return view.sparql_query(
            f'SELECT ?s WHERE {{ ?s <{S.HAS_NAME}> "{arg}" }}')
    if template == "linked_objects":
        return view.linked_objects(arg, "out")
    if template == "frames_for_entity":
        return view.frames_for_entity(arg)
    if template == "sparql_2hop":
        return view.sparql_query(
            f"SELECT ?m ?o WHERE {{ ?f1 <{S.EDGE_SOURCE}> <{arg}> . "
            f"?f1 <{S.EDGE_DESTINATION}> ?m . ?f2 <{S.EDGE_SOURCE}> ?m . "
            f"?f2 <{S.EDGE_DESTINATION}> ?o }}")
    raise ValueError(f"unknown template {template!r}")


_ANSWER_FIELDS = {
    "get_object": ("entity_id", "name", "entity_type", "mention_count"),
    "sparql_name": ("s",),
    "linked_objects": ("entity_id", "pred", "weight", "name",
                       "mention_count"),
    "frames_for_entity": ("frame_uri", "frame_type", "subj", "obj"),
    "sparql_2hop": ("m", "o"),
}


def answer_rows(template: str, rows) -> Counter:
    """Collected Spark rows → the multiset the oracle answer is compared to."""
    fields = _ANSWER_FIELDS[template]
    return Counter(tuple(r[f] for f in fields) for r in rows)


def expected_answer(oracle: Oracle, template: str, arg: str) -> Counter:
    fields = _ANSWER_FIELDS[template]
    if template == "get_object":
        rows = [oracle.entities[arg]] if arg in oracle.entities else []
    elif template == "sparql_name":
        rows = [{"s": u} for u in oracle.by_name.get(arg, ())]
    elif template == "linked_objects":
        rows = [{**oracle.entities[r["obj"]], "pred": r["pred"],
                 "weight": r["weight"]}
                for r in oracle.out_edges.get(arg, ())]
    elif template == "frames_for_entity":
        rows = oracle.frames_by_subj.get(arg, [])
    else:
        rows = [{"m": f["obj"], "o": g["obj"]}
                for f in oracle.frames_by_subj.get(arg, ())
                for g in oracle.frames_by_subj.get(f["obj"], ())]
    return Counter(tuple(r[f] for f in fields) for r in rows)
