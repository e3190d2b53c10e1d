"""RDF line-format I/O: N-Triples / N-Quads parse + serialize (S9-S13,
S19-S20 in SURVEY.md §2.1).

The reference hand-rolls a per-line Python N-Triples parser
(/root/reference/kgraphmemory/kgraph_rdf_db.py:839-1034) and serializes via
pyoxigraph (`serialize`, kgraph_rdf_db.py:523-547); file loads stream
100k-line batches (kgraph_rdf_db.py:387-471).  Here both directions are
pure `pyspark.sql.functions` (whole-stage codegen, no Python in the hot
path), and `spark.read.text` already gives splittable, parallel, batched
reads — the 100k-line batching loop is subsumed by the scan.

Term model (matches the long `triples` table):
- subject / predicate / graph: URI strings (no angle brackets) or `_:` blank
  node labels, kept verbatim;
- object: URI string OR literal lexical value; `obj_datatype` carries the
  `^^<dt>` IRI (NULL for plain/URI), `obj_lang` the `@lang` tag.

Serialization renders an object by io/terms.py's object-term rule
(``object_kind``): a typed or tagged object is a literal, otherwise a
``_:`` label is a blank node, an IRI-shaped string an IRI term and
anything else an escaped literal (the reference's parser makes the same
syntactic distinction, kgraph_rdf_db.py:953-1001).  Every arm yields the
original string back, so parse(serialize(df)) round-trips the table
exactly.

Non-line formats (S20) have whole-file subset parsers — Turtle + TriG in
io/turtle.py, JSON-LD in io/jsonld.py, RDF/XML in io/rdfxml.py (one task
per file — non-splittable by nature; N-Triples output is itself valid
Turtle for the serialize direction).  ``import_rdf`` below dispatches on
the format name exactly like the reference's format table
(kgraph_rdf_db.py:493-511).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .terms import BLANK, ECHAR, IRI, UCHAR, object_columns, object_kind

# One master pattern; group numbers used by parse_lines below.
#   1: <subject>        2: _:subject
#   3: predicate
#   4: <object uri>     5: _:object
#   6: literal body     7: ^^datatype    8: @lang
#   9: <graph>
_NT_PATTERN = (
    r'^\s*(?:<([^>\s]*)>|(_:\S+))'          # subject
    r'\s+<([^>\s]*)>'                        # predicate
    r'\s+(?:<([^>\s]*)>|(_:\S+)|'            # object: uri | blank |
    rf'"((?:[^"\\]|{ECHAR}|{UCHAR})*)"'        #   literal body
    r'(?:\^\^<([^>\s]*)>|@([A-Za-z0-9\-]+))?)'  # optional datatype/lang
    r'(?:\s+<([^>\s]*)>)?'                   # optional graph (N-Quads)
    r'\s*\.\s*(?:#.*)?$'                     # terminating dot, trailing comment
)


def _escape_literal(c: Column) -> Column:
    """N-Triples literal escaping: backslash first, then quote/newline/CR/tab."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def _unescape_literal(c: Column) -> Column:
    """Decode a literal body's ECHAR and UCHAR escapes (io/terms.py's
    patterns, which ``_NT_PATTERN`` admits alone) as Column algebra:
    split the body into escapes and the runs between them, decode each
    escape (a UCHAR through its UTF-16 or UTF-32 bytes), join."""
    def piece(p: Column) -> Column:
        return (F.when(p.startswith("\\u"), F.decode(
                    F.unhex(F.replace(p, F.lit("\\u"), F.lit(""))),
                    "UTF-16BE"))
                .when(p.startswith("\\U"),
                      F.decode(F.unhex(F.substr(p, F.lit(3))), "UTF-32"))
                .when(p.startswith("\\"),
                      F.translate(F.substr(p, F.lit(2)), "tbnrf",
                                  "\t\b\n\r\f"))
                .otherwise(p))
    pieces = F.regexp_extract_all(c, F.lit(f"{UCHAR}|{ECHAR}|[^\\\\]+"),
                                  F.lit(0))
    return F.when(c.contains("\\"),
                  F.array_join(F.transform(pieces, piece), "")).otherwise(c)


def _term(uri_or_blank: Column) -> Column:
    """Render a subject/predicate/graph term: blank labels verbatim,
    everything else wrapped in angle brackets."""
    return F.when(uri_or_blank.startswith("_:"), uri_or_blank).otherwise(
        F.concat(F.lit("<"), uri_or_blank, F.lit(">")))


def _object_term(cols: set[str]) -> Column:
    """Render the object column as an N-Triples term by its
    ``object_kind``."""
    obj, dt, lang = object_columns(cols)
    kind = object_kind(obj, dt, lang)
    literal = F.concat(
        F.lit('"'), _escape_literal(obj), F.lit('"'),
        F.when(dt.isNotNull(), F.concat(F.lit("^^<"), dt, F.lit(">")))
         .when(lang != "", F.concat(F.lit("@"), lang))
         .otherwise(F.lit("")),
    )
    return (F.when(kind == IRI, _term(obj)).when(kind == BLANK, obj)
            .otherwise(literal))


def serialize_lines(triples: DataFrame, fmt: str = "ntriples") -> DataFrame:
    """triples(subject, predicate, object[, obj_datatype, obj_lang, graph])
    → one-column DataFrame ``value`` of N-Triples / N-Quads lines.

    Distributed sink analog of the reference's `serialize`
    (kgraph_rdf_db.py:523-547): write with ``df.write.text(path)``.
    """
    if fmt not in ("ntriples", "nquads"):
        raise ValueError(f"unsupported line format: {fmt}")
    cols = set(triples.columns)
    parts = [_term(F.col("subject")), _term(F.col("predicate")),
             _object_term(cols)]
    if fmt == "nquads" and "graph" in cols:
        parts.append(_term(F.col("graph")))
    return triples.select(
        F.concat_ws(" ", *parts, F.lit(".")).alias("value"))


def parse_lines(lines: DataFrame, default_graph: str | None = None,
                value_col: str = "value") -> DataFrame:
    """One-column DataFrame of N-Triples / N-Quads lines → triples
    (subject, predicate, object, obj_datatype, obj_lang, graph).

    Wraps the same grammar the reference parses per line in Python
    (kgraph_rdf_db.py:839-1034) as JVM-side regexp extraction — splittable
    and codegen'd; malformed / blank / comment lines are dropped (the
    reference skips them too, kgraph_rdf_db.py:887-905).  A graph term on
    the line wins over ``default_graph`` (re-homing behavior of
    `import_rdf`, kgraph_rdf_db.py:187-236, maps to passing
    ``default_graph=...``).
    """
    v = F.col(value_col)

    def g(i: int) -> Column:
        return F.regexp_extract(v, _NT_PATTERN, i)

    parsed = lines.where(v.rlike(_NT_PATTERN)).select(
        F.when(g(1) != "", g(1)).otherwise(g(2)).alias("subject"),
        g(3).alias("predicate"),
        F.when(g(4) != "", g(4))
         .when(g(5) != "", g(5))
         .otherwise(_unescape_literal(g(6))).alias("object"),
        F.when(g(7) != "", g(7)).alias("obj_datatype"),
        F.when(g(8) != "", g(8)).alias("obj_lang"),
        F.when(g(9) != "", g(9))
         .otherwise(F.lit(default_graph).cast("string")).alias("graph"),
    )
    return parsed


def load_ntriples(spark, path: str, default_graph: str | None = None) -> DataFrame:
    """Distributed N-Triples/N-Quads file load (S11/S12): `spark.read.text`
    is already chunked + parallel; per-partition row counts (lineage) replace
    the reference's progress callback (kgraph_rdf_db.py:387-471).

    Multi-file loads scope blank-node labels per file — pyoxigraph
    parity (the reference's loader scopes bnodes per parse call,
    kgraph_rdf_db.py:410-427): each ``_:label`` gains a deterministic
    ``--f<8-hex>`` suffix (sha-256 of the file path) so two files that
    both use ``_:b1`` stay distinct.  Single-file loads keep labels
    verbatim (exact round-trips).  The suffix is a pure JVM expression
    over ``input_file_name()`` — still codegen'd, still splittable."""
    lines = spark.read.text(path)
    parsed = parse_lines(lines, default_graph=default_graph)
    if len(lines.inputFiles()) <= 1:
        return parsed
    suf = F.concat(F.lit("--f"),
                   F.substring(F.sha2(F.input_file_name(), 256), 1, 8))

    def bn(name: str) -> Column:
        c = F.col(name)
        return F.when(c.startswith("_:"), F.concat(c, suf)).otherwise(c)

    return parsed.select(
        bn("subject").alias("subject"),
        F.col("predicate"),
        F.when(object_kind(*object_columns(parsed.columns)) == BLANK,
               F.concat(F.col("object"), suf))
         .otherwise(F.col("object")).alias("object"),
        "obj_datatype", "obj_lang",
        bn("graph").alias("graph"),
    )


def write_ntriples(triples: DataFrame, path: str, fmt: str = "ntriples") -> None:
    serialize_lines(triples, fmt=fmt).write.mode("overwrite").text(path)


def import_rdf(spark, path: str, fmt: str = "ntriples",
               default_graph: str | None = None) -> DataFrame:
    """S9 format-dispatched load (kgraph_rdf_db.py:493-511's RdfFormat
    table).  Line formats take the splittable `spark.read.text` path;
    whole-file formats take the one-task-per-file wholetext path."""
    # normalize '/' alongside '_': the reference's format table spells it
    # 'rdf/xml' (kgraph_rdf_db.py RdfFormat map) — that spelling must work.
    # Unknown formats still raise (the reference silently defaults to
    # N-Triples; a wrong-format load that parses to garbage is worse than
    # an error, so the raise is intentional).
    fmt = fmt.lower().replace("_", "-").replace("/", "-")
    if fmt in ("ntriples", "n-triples", "nt", "nquads", "n-quads", "nq"):
        return load_ntriples(spark, path, default_graph)
    if fmt in ("turtle", "ttl"):
        from .turtle import load_turtle
        return load_turtle(spark, path, default_graph)
    if fmt == "trig":
        from .turtle import load_trig
        return load_trig(spark, path, default_graph)
    if fmt in ("json-ld", "jsonld"):
        from .jsonld import load_jsonld
        return load_jsonld(spark, path, default_graph)
    if fmt in ("rdf-xml", "rdfxml", "xml"):
        from .rdfxml import load_rdfxml
        return load_rdfxml(spark, path, default_graph)
    raise ValueError(f"unsupported RDF format {fmt!r}")
