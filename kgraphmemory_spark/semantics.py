"""Rule-set ``webtext-v1`` — the single-node oracle for KG construction.

This module is the *specification*.  Every rule here is mirrored 1:1 by the
distributed Spark pipeline (``kgraphmemory_spark.pipeline``) and, where
SQL-expressible, by the DuckDB oracle SQL in ``__spark_entry__.py``.  It is
pure Python (no Spark, no pandas) so pytest can run it stand-alone and the
Spark pandas-UDFs can import the very same functions — which is what makes
the "byte-identical extracted text per url" invariant trivially true: both
sides run *this* code.

Reference semantics being mirrored (cited file:line in /root/reference):
- object model: entity nodes / reified relation frames with source and
  destination entity slots (kgraph_frame_bridge.py:451-472,
  test_scripts/wordnet_batch_load_test.py:203-234)
- triple emission: rdf:type + vitaltype + one triple per property
  (kgraph_rdf_db.py:576-593)
- deterministic record ids replace the reference's random
  ``URIGenerator.generate_uri()`` (kgraph_bridge_utilities.py:105) —
  required for idempotent resume.

The reference stores documents but has no extractor
(kgraph_document_bridge.py:47-78); the extraction rules below are our
north-rule addition, defined over open-vocabulary web text.
"""

from __future__ import annotations

import hashlib
import re
import uuid
from dataclasses import dataclass, field

from .io.terms import RDF_TYPE

# --------------------------------------------------------------------------
# Constants of the rule-set (mirrored verbatim in oracle SQL)
# --------------------------------------------------------------------------

REL_NEXT = "urn:rel:next"
TYPE_TOKEN = "urn:kg:Token"
TYPE_PHRASE = "urn:kg:Phrase"
FRAME_TYPE_NEXT = "urn:frame:next"
SLOT_SOURCE = "urn:hasSourceEntity"
SLOT_DESTINATION = "urn:hasDestinationEntity"

VITAL_TYPE = "http://vital.ai/ontology/vital-core#vitaltype"
HAS_NAME = "http://vital.ai/ontology/vital-core#hasName"
EDGE_SOURCE = "http://vital.ai/ontology/vital-core#hasEdgeSource"
EDGE_DESTINATION = "http://vital.ai/ontology/vital-core#hasEdgeDestination"

# Same-as synonym pairs (the canonicalization config).  Pairs whose tokens
# never occur in the corpus simply never fire.  Chains are intentional so
# connected-components must do real transitive closure.
SYNONYMS: list[tuple[str, str]] = [
    ("agg", "group"),
    ("sort", "order"),
    ("row", "line"),
    ("order", "sequence"),   # chains with ("sort","order")
    ("quick", "fast"),
]

# Multi-token (bigram) phrase entities — the "ngram blocking" alias table.
BIGRAM_ALIASES: dict[str, str] = {
    "hash join": "ent:hash_join",
    "table scan": "ent:table_scan",
    "sort merge": "ent:sort_merge",
    "group by": "ent:group_by",
}

_WS_RE = re.compile(r"\s+")
_TAG_RE = re.compile(r"<[^>]*>")
_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")

# Fixed, ordered entity-unescape table (applied in this exact order).
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


# --------------------------------------------------------------------------
# Stage 1 — extraction (per-row invariant: byte-identical text per url)
# --------------------------------------------------------------------------

def extract_text(html: bytes | None) -> str:
    """HTML bytes → plain text.  Deterministic, locale-independent.

    Pipeline: decode utf-8 (replace) → strip <script>/<style> blocks →
    strip comments → tags become spaces → fixed entity unescape →
    collapse whitespace → strip.
    """
    if html is None:
        return ""
    s = html.decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, rep in _HTML_ENTITIES:
        s = s.replace(ent, rep)
    return _WS_RE.sub(" ", s).strip()


def tokenize(text: str) -> list[str]:
    """Whitespace tokens of already-collapsed text (no empties)."""
    if not text:
        return []
    return text.split(" ")


def text_sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------------
# Stage 2 — mention detection + raw triple extraction
# --------------------------------------------------------------------------

def extract_mentions(tokens: list[str]) -> list[tuple[int, str, str]]:
    """(position, surface, kind) — every unigram token, plus every adjacent
    bigram that matches the phrase alias table."""
    out: list[tuple[int, str, str]] = [
        (i, t, "unigram") for i, t in enumerate(tokens)
    ]
    for i in range(len(tokens) - 1):
        big = tokens[i] + " " + tokens[i + 1]
        if big in BIGRAM_ALIASES:
            out.append((i, big, "bigram"))
    return out


def extract_raw_triples(tokens: list[str]) -> list[tuple[int, str, str, str]]:
    """(position, subj_surface, predicate, obj_surface) — token adjacency."""
    return [
        (i, tokens[i], REL_NEXT, tokens[i + 1])
        for i in range(len(tokens) - 1)
    ]


# --------------------------------------------------------------------------
# Stage 3 — linking
# --------------------------------------------------------------------------

def entity_id_for(surface: str, kind: str = "unigram") -> str:
    """Deterministic entity id (replaces reference's random URIGenerator)."""
    if kind == "bigram":
        return BIGRAM_ALIASES[surface]
    return "ent:" + surface


# --------------------------------------------------------------------------
# Stage 4 — canonicalization (connected components over same-as pairs)
# --------------------------------------------------------------------------

def canonical_map(entity_ids: set[str]) -> dict[str, str]:
    """entity_id → canonical_id = lexicographic min of its same-as component.

    Same-as edges: SYNONYMS pairs restricted to entities that actually
    occur.  Transitive closure via union-find (the Spark side uses the
    alternating large-star/small-star CC loop — same fixpoint).
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for a, b in SYNONYMS:
        ea, eb = "ent:" + a, "ent:" + b
        if ea in entity_ids and eb in entity_ids:
            union(ea, eb)
    return {e: find(e) for e in entity_ids}


# --------------------------------------------------------------------------
# Stage 5 — deterministic ids for materialized structures
# --------------------------------------------------------------------------

def frame_uri(subj_canon: str, pred: str, obj_canon: str) -> str:
    h = hashlib.sha256(f"{subj_canon}|{pred}|{obj_canon}".encode()).hexdigest()
    return "frame:" + h[:24]


def slot_uri(frame: str, slot_type: str) -> str:
    h = hashlib.sha256(f"{frame}|{slot_type}".encode()).hexdigest()
    return "slot:" + h[:24]


def vector_record_id(uri: str, vector_id: str) -> str:
    """uuid5(NAMESPACE_URL, f"{uri}#{vector_id}") — exact parity with the
    reference (kgraph.py:82-88)."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"{uri}#{vector_id}"))


# --------------------------------------------------------------------------
# Full single-node oracle pipeline
# --------------------------------------------------------------------------

@dataclass
class OracleKG:
    """Golden output of the oracle pipeline over a small page list."""

    docs: list[dict] = field(default_factory=list)        # url, text, text_sha, lang
    mentions: list[dict] = field(default_factory=list)    # url, pos, surface, kind, entity_id, canonical_id
    raw_triples: list[dict] = field(default_factory=list) # url, pos, subj_surface, pred, obj_surface
    entities: list[dict] = field(default_factory=list)    # entity_id(canonical), name, entity_type, mention_count
    relations: list[dict] = field(default_factory=list)   # subj, pred, obj, weight, ndocs
    frames: list[dict] = field(default_factory=list)      # frame_uri, frame_type, subj, obj
    slots: list[dict] = field(default_factory=list)       # slot_uri, frame_uri, slot_type, entity_value
    triples: list[dict] = field(default_factory=list)     # subject, predicate, object, graph

    def triple_set(self) -> set[tuple[str, str, str]]:
        return {(r["subj"], r["pred"], r["obj"]) for r in self.relations}


def build_kg(pages: list[dict], graph: str = "urn:graph:web") -> OracleKG:
    """Run the full rule-set over ``pages`` (dicts with url, html|text).

    Mirrors pipeline stages 1-5; the Spark pipeline must reproduce every
    table here exactly (set-equality on rows).
    """
    kg = OracleKG()

    # stage 1 — extract
    for p in sorted(pages, key=lambda p: p["url"]):
        text = extract_text(p["html"]) if p.get("html") is not None else (p.get("text") or "")
        kg.docs.append({
            "url": p["url"], "text": text,
            "text_sha": text_sha(text), "lang": p.get("lang", ""),
        })

    # stage 2 — mentions + raw triples
    for d in kg.docs:
        toks = tokenize(d["text"])
        for pos, surface, kind in extract_mentions(toks):
            kg.mentions.append({
                "url": d["url"], "pos": pos, "surface": surface, "kind": kind,
                "entity_id": entity_id_for(surface, kind),
            })
        for pos, s, pred, o in extract_raw_triples(toks):
            kg.raw_triples.append({
                "url": d["url"], "pos": pos,
                "subj_surface": s, "pred": pred, "obj_surface": o,
            })

    # stage 3+4 — link + canonicalize
    ids = {m["entity_id"] for m in kg.mentions}
    cmap = canonical_map(ids)
    for m in kg.mentions:
        m["canonical_id"] = cmap[m["entity_id"]]

    # stage 5 — materialize
    ent_rows: dict[str, dict] = {}
    for m in kg.mentions:
        c = m["canonical_id"]
        row = ent_rows.setdefault(c, {
            "entity_id": c, "name": m["surface"],
            "entity_type": TYPE_PHRASE if m["kind"] == "bigram" else TYPE_TOKEN,
            "mention_count": 0,
        })
        row["mention_count"] += 1
        if m["surface"] < row["name"]:
            row["name"] = m["surface"]
    kg.entities = sorted(ent_rows.values(), key=lambda r: r["entity_id"])

    rel_agg: dict[tuple[str, str, str], dict] = {}
    for t in kg.raw_triples:
        s = cmap[entity_id_for(t["subj_surface"])]
        o = cmap[entity_id_for(t["obj_surface"])]
        key = (s, t["pred"], o)
        row = rel_agg.setdefault(key, {
            "subj": s, "pred": t["pred"], "obj": o,
            "weight": 0, "_urls": set(),
        })
        row["weight"] += 1
        row["_urls"].add(t["url"])
    for row in rel_agg.values():
        row["ndocs"] = len(row.pop("_urls"))
    kg.relations = sorted(rel_agg.values(), key=lambda r: (r["subj"], r["pred"], r["obj"]))

    for r in kg.relations:
        f = frame_uri(r["subj"], r["pred"], r["obj"])
        kg.frames.append({"frame_uri": f, "frame_type": FRAME_TYPE_NEXT,
                          "subj": r["subj"], "obj": r["obj"]})
        kg.slots.append({"slot_uri": slot_uri(f, SLOT_SOURCE), "frame_uri": f,
                         "slot_type": SLOT_SOURCE, "entity_value": r["subj"]})
        kg.slots.append({"slot_uri": slot_uri(f, SLOT_DESTINATION), "frame_uri": f,
                         "slot_type": SLOT_DESTINATION, "entity_value": r["obj"]})

    # long-format triples: rdf:type + vitaltype + hasName per entity
    # (kgraph_rdf_db.py:576-593 emission pattern), frame reification.
    for e in kg.entities:
        u = e["entity_id"]
        kg.triples += [
            {"subject": u, "predicate": RDF_TYPE, "object": e["entity_type"], "graph": graph},
            {"subject": u, "predicate": VITAL_TYPE, "object": e["entity_type"], "graph": graph},
            {"subject": u, "predicate": HAS_NAME, "object": e["name"], "graph": graph},
        ]
    for f in kg.frames:
        kg.triples += [
            {"subject": f["frame_uri"], "predicate": RDF_TYPE, "object": f["frame_type"], "graph": graph},
            {"subject": f["frame_uri"], "predicate": EDGE_SOURCE, "object": f["subj"], "graph": graph},
            {"subject": f["frame_uri"], "predicate": EDGE_DESTINATION, "object": f["obj"], "graph": graph},
        ]
    return kg
