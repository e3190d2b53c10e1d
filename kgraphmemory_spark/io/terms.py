"""RDF term syntax shared by every parser in the engine: SPARQL
(sparql.py), Turtle/TriG (io/turtle.py), JSON-LD (io/jsonld.py) and
RDF/XML (io/rdfxml.py).  The reference runs all of them through one
library, pyoxigraph (kgraph_rdf_db.py:238-357,410-427,493-511), so its
term syntax and base-IRI resolution exist once; this module is that
one place here.

- the RDF / XSD namespace constants and the IRI scheme regex;
- the one rule for the triple table's object term, which is stored as a
  string plus ``obj_datatype`` / ``obj_lang``: ``object_kind`` decides
  IRI, blank node or literal and ``literal_datatype`` a literal's
  effective datatype (as Column expressions), for every RDF writer,
  ``remove_object`` and the SPARQL evaluator;
- the token sub-patterns of the Turtle and SPARQL grammars — IRIREF,
  PNAME per PN_PREFIX / PN_LOCAL (a local name never ends in ``.``),
  BLANK_NODE_LABEL, the four string quote forms, INTEGER / DECIMAL /
  DOUBLE, LANGTAG and ``^^`` — which each parser's ``lexer`` composes
  with its own keywords and punctuation;
- ``literal``: the one typing rule for literal tokens (numeric shorthand,
  a string's ``^^datatype`` / ``@lang`` suffix) and ``unescape`` for
  string bodies: the ``ECHAR`` / ``UCHAR`` patterns, which N-Triples'
  JVM-side decoder (io/rdf.py) applies too, and an error for any other
  escape;
- ``resolve_iri``: RFC 3986 §5.2 reference resolution, for any scheme;
- ``collection``: the rdf:first / rdf:rest chain behind Turtle ``( … )``,
  JSON-LD ``@list`` and RDF/XML ``parseType="Collection"``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_LANGSTRING = RDF_NS + "langString"
RDF_XMLLITERAL = RDF_NS + "XMLLiteral"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"

# an absolute IRI starts with a scheme (RFC 3986 §3.1)
SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
# IRI shape: scheme:rest with no whitespace/quotes/brackets (a Spark
# rlike pattern)
URI_SHAPE = SCHEME.pattern + r'[^\s"<>]*$'

# -- the object term of the triple table ---------------------------------
# object_kind's values
IRI, BLANK, LITERAL = "iri", "blank", "literal"


def object_columns(columns) -> tuple[Column, Column, Column]:
    """(object, obj_datatype, obj_lang) of a triple table with these
    column names; an absent metadata column reads NULL."""
    null = F.lit(None).cast("string")
    return (F.col("object"),
            F.col("obj_datatype") if "obj_datatype" in columns else null,
            F.col("obj_lang") if "obj_lang" in columns else null)


def object_is_literal(obj: Column, dt: Column, lang: Column) -> Column:
    """An object with a datatype or a language tag is a literal;
    otherwise a ``_:`` label or an IRI-shaped string is not, and
    anything else is.  An empty tag is no tag (SPARQL's ``LANG`` of an
    untagged literal)."""
    return (dt.isNotNull() | (lang != "")
            | ~(obj.startswith("_:") | obj.rlike(URI_SHAPE)))


def term_kind(term: Column, literal: Column) -> Column:
    """IRI / BLANK / LITERAL of a term, given whether it is a literal: a
    ``_:`` label that is no literal is a blank node, any other an IRI."""
    return (F.when(literal, F.lit(LITERAL))
            .when(term.startswith("_:"), F.lit(BLANK))
            .otherwise(F.lit(IRI)))


def object_kind(obj: Column, dt: Column, lang: Column) -> Column:
    """IRI / BLANK / LITERAL of an object by ``object_is_literal``."""
    return term_kind(obj, object_is_literal(obj, dt, lang))


def literal_datatype(dt: Column, lang: Column) -> Column:
    """A literal's effective datatype: its own, else rdf:langString
    when it has a tag, else xsd:string."""
    return F.coalesce(dt, F.when(lang != "", F.lit(RDF_LANGSTRING))
                      .otherwise(F.lit(XSD_STRING)))

# -- token sub-patterns (Turtle §6.5 / SPARQL §19.8 terminals) -----------
IRIREF = r'<[^<>"{}|^`\\\s]*>'
_PLX = r"%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%]"
PN_PREFIX = r"[^\W\d_](?:[\w.\-]*[\w\-])?"
PN_LOCAL = rf"(?:[\w:]|{_PLX})(?:(?:[\w\-.:]|{_PLX})*(?:[\w\-:]|{_PLX}))?"
PNAME = rf"(?:{PN_PREFIX})?:(?:{PN_LOCAL})?"
BLANK_NODE_LABEL = r"_:\w(?:[\w\-.]*[\w\-])?"
STRING = (r'"""(?:(?:"|"")?(?:[^"\\]|\\.))*"""'
          r"|'''(?:(?:'|'')?(?:[^'\\]|\\.))*'''"
          r'|"(?:[^"\\]|\\.)*"'
          r"|'(?:[^'\\]|\\.)*'")
# DECIMAL needs a digit after the point: "1." is INTEGER "1" and the
# statement terminator, not a decimal literal
NUMBER = (r"[+-]?(?:\d+\.\d*[eE][+-]?\d+"
          r"|(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)")
LANGTAG = r"@[A-Za-z]+(?:-[A-Za-z0-9]+)*"
DTMARK = r"\^\^"

_PN_LOCAL_ESC = re.compile(r"\\(.)")

# -- string escapes (regexes Python's re and Java's Pattern read alike) --
ECHAR = r"""\\[tbnrf"'\\]"""
# a UCHAR names a Unicode scalar value: a \u surrogate pair (read as one
# character), a \u that is no surrogate, or a \U up to 10FFFF that is no
# surrogate
_HEX2 = "[0-9A-Fa-f]{2}"
_NO_SURROGATE = "(?![dD][89a-fA-F])"
UCHAR = (rf"\\u[dD][89abAB]{_HEX2}\\u[dD][c-fC-F]{_HEX2}"
         rf"|\\u{_NO_SURROGATE}{_HEX2}{_HEX2}"
         rf"|\\U(?:0000{_NO_SURROGATE}|000[1-9A-Fa-f]|0010){_HEX2}{_HEX2}")
_ESCAPE = re.compile(rf"(?P<ok>{UCHAR}|{ECHAR})"
                     r"|\\(?:u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.?)", re.S)
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f"}


def lexer(*rules: tuple[str, str]) -> re.Pattern:
    """``(kind, pattern)`` rules, tried in order → one token regex whose
    ``lastgroup`` names the kind."""
    return re.compile("|".join(f"(?P<{kind}>{pat})" for kind, pat in rules))


def tokens(lex: re.Pattern, text: str, what: str):
    """Yield ``(kind, text)`` tokens, skipping ``ws`` / ``comment``."""
    pos = 0
    while pos < len(text):
        m = lex.match(text, pos)
        if m is None:
            raise ValueError(f"{what} at offset {pos}: "
                             f"{text[pos:pos + 30]!r}")
        pos = m.end()
        if m.lastgroup not in ("ws", "comment"):
            yield m.lastgroup, m.group()


def unescape(body: str) -> str:
    """String-body escapes: ECHAR (``\\t \\b \\n \\r \\f \\" \\' \\\\``)
    and UCHAR (``\\uXXXX`` / ``\\UXXXXXXXX``).  Any other escape, a
    lone surrogate or a code point past 10FFFF raises ``ValueError``."""
    def one(m: re.Match) -> str:
        esc = m.group()
        if m.lastgroup != "ok":
            raise ValueError(f"invalid string escape {esc!r}")
        if esc[1] == "u":
            return bytes.fromhex(esc.replace("\\u", "")).decode("utf-16-be")
        if esc[1] == "U":
            return chr(int(esc[2:], 16))
        return _ECHAR.get(esc[1], esc[1])
    return _ESCAPE.sub(one, body)


def string_value(tok: str) -> str:
    """A string token in any of the four quote forms → its value."""
    q = 3 if tok[:3] in ('"""', "'''") else 1
    return unescape(tok[q:-q])


def expand_pname(prefixes: dict[str, str], tok: str) -> str:
    """``p:local`` → the declared namespace + local name, with the
    ``\\``-escapes of PN_LOCAL removed."""
    pfx, local = tok.split(":", 1)
    if pfx not in prefixes:
        raise ValueError(f"undeclared prefix {pfx!r}: in {tok!r}")
    return prefixes[pfx] + _PN_LOCAL_ESC.sub(r"\1", local)


def literal(kind: str, tok: str, peek, take, datatype):
    """A ``number`` or ``string`` token → (lexical, datatype, lang).
    Numbers type by shape: an exponent makes xsd:double, a point
    xsd:decimal, else xsd:integer.  A string takes an optional ``^^``
    datatype or ``@lang`` suffix from the caller's token stream
    (``peek()`` / ``take()`` return ``(kind, text)``); ``datatype(kind,
    text)`` expands the datatype's IRI or prefixed-name token."""
    if kind == "number":
        dt = ("double" if "e" in tok or "E" in tok else
              "decimal" if "." in tok else "integer")
        return tok, XSD + dt, None
    lex = string_value(tok)
    nk, nt = peek()
    if nk == "dtmark":
        take()
        return lex, datatype(*take()), None
    if nk == "langtag":
        take()
        return lex, None, nt[1:]
    return lex, None, None


# RFC 3986 appendix B, without the scheme (absolute references never
# get this far)
_RELATIVE = re.compile(r"(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?",
                       re.S)


def resolve_iri(base: str | None, ref: str) -> str:
    """RFC 3986 §5.2.2 resolution of ``ref`` against ``base``, for any
    scheme.  An absolute ``ref``, or no base, comes back verbatim; an
    empty fragment (``ns#``) is kept."""
    if not base or SCHEME.match(ref):
        return ref
    scheme = SCHEME.match(base)
    b_auth, b_path, b_query, _ = _RELATIVE.fullmatch(
        base[scheme.end():] if scheme else base).groups()
    auth, path, query, frag = _RELATIVE.fullmatch(ref).groups()
    if auth is None and not path:
        auth, path = b_auth, b_path
        query = b_query if query is None else query
    elif auth is None:
        if not path.startswith("/"):
            # merge (§5.2.3): the base path up to its last "/"
            path = ("/" + path if b_auth is not None and not b_path
                    else b_path[:b_path.rfind("/") + 1] + path)
        auth, path = b_auth, _remove_dot_segments(path)
    else:
        path = _remove_dot_segments(path)
    return ((scheme.group() if scheme else "")
            + (f"//{auth}" if auth is not None else "") + path
            + (f"?{query}" if query is not None else "")
            + (f"#{frag}" if frag is not None else ""))


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./") or path == "/.":
            path = "/" + path[3:]
        elif path.startswith("/../") or path == "/..":
            path = "/" + path[4:]
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            end = path.find("/", 1)
            end = len(path) if end < 0 else end
            out.append(path[:end])
            path = path[end:]
    return "".join(out)


def collection(items: list[tuple], fresh, emit, graph) -> str:
    """``[(value, datatype, lang)]`` → the head of its rdf:first /
    rdf:rest chain (rdf:nil when empty).  ``fresh()`` names each cell,
    ``emit`` takes the chain's rows."""
    cells = [fresh() for _ in items]
    for cell, rest, (v, dt, lang) in zip(cells, cells[1:] + [RDF_NIL],
                                         items):
        emit((cell, RDF_FIRST, v, dt, lang, graph))
        emit((cell, RDF_REST, rest, None, None, graph))
    return cells[0] if cells else RDF_NIL
