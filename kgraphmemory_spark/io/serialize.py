"""Whole-document RDF serializers: Turtle / TriG / JSON-LD / RDF/XML.

The reference serializes its store to ANY of its formats through
pyoxigraph — ``serialize(format=...)`` defaults to *turtle*
(kgraph_rdf_db.py:523-547) — while the line formats (N-Triples /
N-Quads) are handled by io/rdf.py's splittable path.  This module closes
the output side of S13/S20: every format the engine can parse it can
also emit, and each emitter round-trips through its sibling parser.

Design, Spark-first:

- Everything is JVM-side column algebra (``collect_list`` +
  ``array_sort`` + ``transform`` + ``to_json`` + ``replace`` chains) —
  no Python row code, so emit runs at scan speed and whole-stage
  codegen applies.
- The distributed unit is the *subject block* (Turtle/TriG: one
  ``subj pred obj ; ...`` statement; JSON-LD: one expanded node object;
  RDF/XML: one ``rdf:Description`` element): each serializer returns a
  one-column DataFrame ``value`` of such blocks, independent of row
  order, so ``df.write.text(path)`` scales like any other sink.  Blocks
  use full IRIs, which makes a bag of Turtle blocks a valid Turtle
  document in any order with no directive header.
- ``dump_rdf_string`` is the driver-side parity convenience (the
  reference's ``serialize`` returns one string, which is inherently
  driver-bounded): it collects the blocks, sorts them for determinism,
  and adds the per-format envelope — ``@prefix`` directives (prefix
  compression is only applied here, where the header's placement is
  controlled), the JSON-LD array brackets, the ``<rdf:RDF>`` root.
  Use the DataFrame form + N-Triples/N-Quads for 100 TB outputs; XML
  and a single JSON document need one root, so they cannot be a
  parallel sink, and that is a property of the formats, not the engine.

Aggregation shape: two hash aggregations — (subject, predicate) →
sorted object list, then subject → sorted predicate list — both
map-side-combinable, shuffling only the (already concatenated) strings.
No window functions, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rdf import _escape_literal, _term
from .terms import (BLANK, IRI, LITERAL, RDF_NS, RDF_TYPE, object_columns,
                    object_kind)

_SAFE_LOCAL = r"^[A-Za-z_][A-Za-z0-9_\-]*$"


# ------------------------------------------------------------- Turtle / TriG

def _prefixed(iri: Column, prefixes: dict[str, str] | None) -> Column:
    """``<iri>`` term, compressed to ``name:local`` when a prefix matches
    and the remainder is a safe PN_LOCAL (conservative: word chars only,
    so no escaping rules apply).  Longest prefix IRI wins."""
    expr = _term(iri)
    if prefixes:
        for name, pfx in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
            local = F.substr(iri, F.lit(len(pfx) + 1))
            cond = iri.startswith(pfx) & (
                (F.length(iri) == len(pfx)) | local.rlike(_SAFE_LOCAL))
            expr = F.when(iri.startswith("_:"), iri).when(
                cond, F.concat(F.lit(name + ":"), local)).otherwise(expr)
    return expr


def _turtle_blocks(triples: DataFrame, group_graph: bool,
                   prefixes: dict[str, str] | None = None) -> DataFrame:
    cols = set(triples.columns)
    obj, dt, lang = object_columns(cols)
    kind = object_kind(obj, dt, lang)
    lit_term = F.concat(
        F.lit('"'), _escape_literal(obj), F.lit('"'),
        F.when(dt.isNotNull(),
               F.concat(F.lit("^^"), _prefixed(dt, prefixes)))
         .when(lang != "", F.concat(F.lit("@"), lang))
         .otherwise(F.lit("")))
    obj_term = F.when(kind == LITERAL, lit_term).when(
        kind == BLANK, obj).otherwise(_prefixed(obj, prefixes))
    pred_term = F.when(F.col("predicate") == RDF_TYPE, F.lit("a")) \
        .otherwise(_prefixed(F.col("predicate"), prefixes))
    base = triples.select(
        *([F.col("graph").alias("_g")] if group_graph and "graph" in cols
          else [F.lit(None).cast("string").alias("_g")]),
        _prefixed(F.col("subject"), prefixes).alias("_s"),
        pred_term.alias("_p"),
        obj_term.alias("_o"),
    )
    per_pred = base.groupBy("_g", "_s", "_p").agg(
        F.array_join(F.array_sort(F.collect_list("_o")), " , ").alias("_os"))
    per_subj = per_pred.groupBy("_g", "_s").agg(
        F.array_sort(F.collect_list(F.struct("_p", "_os"))).alias("_po"))
    block = F.concat(
        F.col("_s"), F.lit(" "),
        F.array_join(
            F.transform("_po", lambda x: F.concat(x["_p"], F.lit(" "),
                                                  x["_os"])),
            " ;\n    "),
        F.lit(" ."))
    return per_subj.select(F.col("_g"), block.alias("value"))


def serialize_turtle(triples: DataFrame,
                     prefixes: dict[str, str] | None = None) -> DataFrame:
    """→ one Turtle statement block per subject (column ``value``).

    Without ``prefixes`` the blocks use full ``<IRI>`` terms and are a
    valid Turtle document in any order — safe for a distributed
    ``write.text``.  With ``prefixes`` the ``@prefix`` directives must
    precede the blocks, so compression is reserved for
    ``dump_rdf_string`` (which controls placement); passing prefixes
    here compresses terms but emits NO directives.
    """
    return _turtle_blocks(triples, group_graph=False,
                          prefixes=prefixes).select("value")


def serialize_trig(triples: DataFrame, default_graph: str | None = None,
                   prefixes: dict[str, str] | None = None) -> DataFrame:
    """→ TriG: per-graph ``GRAPH <g> { ... }`` blocks (one row per
    graph); triples in ``default_graph`` (or with a NULL graph) emit as
    bare top-level blocks."""
    blocks = _turtle_blocks(triples, group_graph=True, prefixes=prefixes)
    per_graph = blocks.groupBy("_g").agg(
        F.array_join(F.array_sort(F.collect_list("value")), "\n")
        .alias("_body"))
    bare = F.col("_g").isNull() | (
        F.lit(default_graph).isNotNull() & (F.col("_g") == default_graph))
    return per_graph.select(
        F.when(bare, F.col("_body")).otherwise(
            F.concat(F.lit("GRAPH "), _term(F.col("_g")), F.lit(" {\n"),
                     F.col("_body"), F.lit("\n}"))).alias("value"))


# ------------------------------------------------------------------ JSON-LD

def serialize_jsonld(triples: DataFrame) -> DataFrame:
    """→ one expanded-form JSON-LD node object per subject (column
    ``value``): ``{"@id": s, "<pred>": [{"@id"|"@value"/"@type"/
    "@language": ...}, ...]}``.  ``to_json`` does all string escaping
    and drops null struct fields, so IRI references and literals share
    one struct type.  Each row alone is a valid JSON-LD document; a full
    document is the array of them (``dump_rdf_string`` adds the
    brackets).  Named graphs are ignored (use TriG / N-Quads)."""
    obj, dt, lang = object_columns(triples.columns)
    is_ref = object_kind(obj, dt, lang) != LITERAL
    vstruct = F.struct(
        F.when(is_ref, obj).alias("@id"),
        F.when(~is_ref, obj).alias("@value"),
        F.when(~is_ref, dt).alias("@type"),
        F.when(~is_ref, lang).alias("@language"),
    )
    per_pred = triples.groupBy("subject", "predicate").agg(
        F.array_sort(F.collect_list(vstruct)).alias("_vs"))
    per_subj = per_pred.groupBy("subject").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("predicate", "_vs"))))
        .alias("_m"))
    return per_subj.select(
        F.concat(
            # {"@id": <json-escaped subject>,  +  rest of the map object
            F.expr("""concat(
                left(to_json(struct(subject AS `@id`)),
                     length(to_json(struct(subject AS `@id`))) - 1),
                ',', substring(to_json(_m), 2))""")
        ).alias("value"))


# ------------------------------------------------------------------ RDF/XML

def _xml_text(c: Column) -> Column:
    """Escape for XML text content (& first), keeping \\n/\\t raw but
    entity-encoding \\r, which XML parsers would otherwise normalize."""
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit("\r"), F.lit("&#13;"))


def _xml_attr(c: Column) -> Column:
    """Escape for a double-quoted XML attribute value (adds quote and
    whitespace entities on top of the text escapes)."""
    c = _xml_text(c)
    c = F.replace(c, F.lit('"'), F.lit("&quot;"))
    c = F.replace(c, F.lit("\n"), F.lit("&#10;"))
    return F.replace(c, F.lit("\t"), F.lit("&#9;"))


_NCNAME_TAIL = r"[A-Za-z_][A-Za-z0-9_.\-]*$"


def serialize_rdfxml(triples: DataFrame) -> DataFrame:
    """→ one ``<rdf:Description>`` element per subject (column
    ``value``).  Every predicate is split IRI = namespace + trailing
    NCName and declared inline (``xmlns:n="..."`` on the property
    element), so blocks are self-contained; a predicate IRI with no
    NCName tail (e.g. ending in ``/``) cannot be expressed in RDF/XML at
    all and raises.  ``dump_rdf_string`` wraps blocks in the
    ``<rdf:RDF>`` root (XML's single-root rule makes whole-document XML
    a driver-side format; use N-Triples for scale sinks).  Named graphs
    are ignored (RDF/XML has none)."""
    obj, dt, lang = object_columns(triples.columns)
    kind = object_kind(obj, dt, lang)
    pred = F.col("predicate")
    local = F.regexp_extract(pred, _NCNAME_TAIL, 0)
    ns = F.substring(pred, F.lit(1), F.length(pred) - F.length(local))
    bad = (F.length(local) == 0) | (F.length(ns) == 0)
    local = F.when(bad, F.raise_error(F.concat(
        F.lit("predicate IRI not expressible as an RDF/XML QName: "),
        pred))).otherwise(local)
    open_tag = F.concat(F.lit("<n:"), local, F.lit(' xmlns:n="'),
                        _xml_attr(ns), F.lit('"'))
    prop = F.when(
        kind == IRI,
        F.concat(open_tag, F.lit(' rdf:resource="'), _xml_attr(obj),
                 F.lit('"/>')),
    ).when(
        kind == BLANK,
        F.concat(open_tag, F.lit(' rdf:nodeID="'),
                 F.substr(obj, F.lit(3)), F.lit('"/>')),
    ).otherwise(F.concat(
        open_tag,
        F.when(dt.isNotNull(),
               F.concat(F.lit(' rdf:datatype="'), _xml_attr(dt),
                        F.lit('"'))).otherwise(F.lit("")),
        F.when(lang != "",
               F.concat(F.lit(' xml:lang="'), lang,
                        F.lit('"'))).otherwise(F.lit("")),
        F.lit(">"), _xml_text(obj), F.lit("</n:"), local, F.lit(">"),
    ))
    subj = F.col("subject")
    subj_attr = F.when(
        subj.startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'), F.substr(subj, F.lit(3)),
                 F.lit('"')),
    ).otherwise(F.concat(F.lit('rdf:about="'), _xml_attr(subj),
                         F.lit('"')))
    base = triples.select(subj_attr.alias("_sa"), prop.alias("_prop"))
    per_subj = base.groupBy("_sa").agg(
        F.array_join(F.array_sort(F.collect_list("_prop")), "\n    ")
        .alias("_props"))
    return per_subj.select(
        F.concat(F.lit("<rdf:Description "), F.col("_sa"), F.lit(">\n    "),
                 F.col("_props"), F.lit("\n</rdf:Description>"))
        .alias("value"))


# ----------------------------------------------------------------- dispatch

_FMT = {
    "turtle": "turtle", "ttl": "turtle",
    "trig": "trig",
    "json-ld": "jsonld", "jsonld": "jsonld",
    "rdf-xml": "rdfxml", "rdfxml": "rdfxml", "rdf/xml": "rdfxml",
    "xml": "rdfxml",
    "ntriples": "ntriples", "nt": "ntriples", "n-triples": "ntriples",
    "nquads": "nquads", "nq": "nquads", "n-quads": "nquads",
}


def _norm(fmt: str) -> str:
    key = fmt.lower().replace("_", "-")
    if key not in _FMT and key.replace("/", "-") in _FMT:
        key = key.replace("/", "-")
    if key not in _FMT:
        raise ValueError(f"unsupported serialize format: {fmt!r}")
    return _FMT[key]


def serialize_rdf(triples: DataFrame, fmt: str = "turtle") -> DataFrame:
    """Distributed dispatcher over every output format the engine parses
    (reference spellings accepted, kgraph_rdf_db.py:523-547 — the
    reference's default is turtle too).  Returns block/line rows in
    column ``value``; see each serializer for its ordering contract."""
    kind = _norm(fmt)
    if kind in ("ntriples", "nquads"):
        from .rdf import serialize_lines
        return serialize_lines(triples, fmt=kind)
    if kind == "turtle":
        return serialize_turtle(triples)
    if kind == "trig":
        return serialize_trig(triples)
    if kind == "jsonld":
        return serialize_jsonld(triples)
    return serialize_rdfxml(triples)


def write_rdf(triples: DataFrame, path: str, fmt: str = "turtle") -> None:
    """Parallel text sink for the order-independent formats (Turtle /
    TriG blocks, JSON-LD node-object lines, N-Triples / N-Quads).
    RDF/XML is refused: a part-file split under one ``<rdf:RDF>`` root
    cannot be reassembled by concatenation — use ``dump_rdf_string`` or
    an N-Triples sink instead (that constraint is XML's, not Spark's)."""
    kind = _norm(fmt)
    if kind == "rdfxml":
        raise ValueError(
            "RDF/XML needs a single document root; use dump_rdf_string "
            "(driver-side) or an order-independent format for parallel "
            "writes")
    serialize_rdf(triples, fmt).write.mode("overwrite").text(path)


def dump_rdf_string(triples: DataFrame, fmt: str = "turtle",
                    prefixes: dict[str, str] | None = None,
                    default_graph: str | None = None) -> str:
    """The reference-parity single-string form (``serialize`` returns a
    str).  Driver-side by nature — one string must fit in driver memory
    exactly as it must in the reference's process; use ``serialize_rdf``
    + ``write.text`` for outputs that don't.  Blocks are sorted for a
    deterministic document."""
    kind = _norm(fmt)
    if kind == "turtle":
        rows = serialize_turtle(triples, prefixes=prefixes)
    elif kind == "trig":
        rows = serialize_trig(triples, default_graph=default_graph,
                              prefixes=prefixes)
    else:
        rows = serialize_rdf(triples, fmt=kind)
    blocks = sorted(r["value"] for r in rows.collect())
    if kind in ("turtle", "trig") and prefixes:
        header = [f"@prefix {name}: <{iri}> ." for name, iri in
                  sorted(prefixes.items())]
        return "\n".join(header + [""] + blocks) + "\n"
    if kind == "jsonld":
        return "[\n" + ",\n".join(blocks) + "\n]\n"
    if kind == "rdfxml":
        return (f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="{RDF_NS}">\n'
                + "\n".join(blocks) + "\n</rdf:RDF>\n")
    return "\n".join(blocks) + "\n"
