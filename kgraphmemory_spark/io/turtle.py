"""Turtle + TriG (subset) whole-file parser — closes the S20 gap for the
most common profile (SURVEY.md §2.1; reference load path
kgraph_rdf_db.py:410-427 delegates these formats to pyoxigraph, which this
sandbox does not ship).

Supported subset — the profile that covers the overwhelming majority of
published Turtle:
- ``@prefix`` / ``PREFIX`` and ``@base`` / ``BASE`` directives;
- IRIs ``<...>`` (relative ones, also in ``@prefix`` and later
  ``@base`` directives, resolved against the in-scope base per RFC 3986
  — io/terms.py's ``resolve_iri``), prefixed names ``p:local`` (empty
  prefix ok; a local name never ends in ``.``), blank node labels
  ``_:b``;
- ``a`` as ``rdf:type``;
- predicate lists with ``;`` and object lists with ``,``;
- literals in all four quote forms — ``"..."``, ``'...'``, and the
  multi-line ``\"\"\"...\"\"\"`` / ``'''...'''`` long forms — with ``\\``
  escapes (incl. ``\\uXXXX``), optional ``^^dt`` (IRI or prefixed) or
  ``@lang``; numeric shorthand (xsd:integer / xsd:decimal incl. the
  leading-dot ``.5`` form / xsd:double for exponent forms like ``1e3``,
  ``-2.5E-2``) and ``true``/``false`` (xsd:boolean);
- blank-node property lists ``[ p o ; ... ]`` (fresh anonymous node,
  usable in subject or object position — a subject plist may stand alone
  per the grammar) and collections ``( e1 e2 ... )`` desugared to
  rdf:first/rdf:rest chains (``()`` → rdf:nil); both recurse;
- TriG graph blocks (kgraph_rdf_db.py:497 RdfFormat.TRIG):
  ``GRAPH <g> { ... }``, bare ``<g> { ... }`` / ``p:g { ... }``, and an
  anonymous ``{ ... }`` default-graph block; the final ``.`` inside a
  block is optional, per the TriG grammar.  Triples outside any block go
  to ``default_graph`` exactly like plain Turtle.

Blank-node labels are FILE-scoped on multi-file loads (pyoxigraph
parity — the reference's loader scopes bnodes per parse call,
kgraph_rdf_db.py:410-427): when the glob resolves to more than one
file, every ``_:label`` is suffixed with ``--f<8-hex>`` (sha-256 of the
file path, deterministic), so two files both using ``_:b1`` stay
distinct.  A single-file load keeps labels verbatim, preserving exact
round-trips.

Scale shape: Turtle is not line-splittable, so parallelism is ONE TASK
PER FILE — `spark.read.text(wholetext)` distributes the file list and
`mapInPandas` parses each file Arrow-batched.  A 100 TB corpus of many
.ttl files parallelizes across files; a single giant .ttl does not (use
N-Triples for that — io/rdf.py's splittable path).  parse(serialize) for
line formats stays the canonical round-trip; N-Triples output is itself
valid Turtle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# the RDF / XSD constants stay importable from here
from .terms import (  # noqa: F401
    BLANK_NODE_LABEL, DTMARK, IRIREF, LANGTAG, NUMBER, PNAME, RDF_FIRST,
    RDF_NIL, RDF_REST, RDF_TYPE, STRING, XSD, collection, expand_pname, lexer,
    literal, resolve_iri, tokens)

# Alternation order matters: blank before pname (else `_:b` reads as a
# pname with prefix `_`), pname before kw (else `a:x` / `true:x` lose
# their prefix to the keyword), kw before langtag (else `@prefix` reads
# as a language tag).
_TOKEN = lexer(
    ("ws", r"\s+"), ("comment", r"#[^\n]*"), ("iri", IRIREF),
    ("string", STRING), ("dtmark", DTMARK), ("blank", BLANK_NODE_LABEL),
    ("number", NUMBER), ("pname", PNAME),
    ("kw", r"(?:@prefix|@base|PREFIX|BASE|true|false|a|(?i:GRAPH))\b"),
    ("langtag", LANGTAG), ("punct", r"[;,.{}\[\]()]"))


class _Parser:
    def __init__(self, default_graph: str | None):
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.graph = default_graph
        self._bn = 0

    def _blank(self) -> str:
        """Fresh document-scoped anonymous blank node (``[...]`` /
        collection cells) — same ``_:<letter><n>`` convention as the
        JSON-LD (``_:j``) and RDF/XML (``_:x``) parsers; a document that
        also *labels* a blank ``_:t<n>`` would merge with it, the standard
        caveat for label-preserving parsers (module docstring)."""
        self._bn += 1
        return f"_:t{self._bn}"

    def _iri(self, kind: str, tok: str) -> str:
        """An IRI / prefixed-name token → its IRI (blank labels too, in
        the subject and graph-name positions that allow them)."""
        if kind == "iri":
            return resolve_iri(self.base, tok[1:-1])
        if kind == "pname":
            return expand_pname(self.prefixes, tok)
        if kind == "blank":
            return tok
        raise ValueError(f"bad graph name / subject token {tok!r}")

    def _datatype(self, kind: str, tok: str) -> str:
        if kind not in ("iri", "pname"):
            raise ValueError(f"bad datatype token {tok!r}")
        return self._iri(kind, tok)

    def _term(self, kind: str, tok: str, toks, rows: list[tuple]) -> tuple:
        """→ (value, datatype, lang, is_literal); may consume ^^dt / @lang.
        A ``[...]`` property list or ``(...)`` collection term emits its
        own triples into ``rows`` and yields the head blank node."""
        if kind in ("iri", "pname", "blank"):
            return self._iri(kind, tok), None, None, False
        if (kind, tok) == ("punct", "["):
            return self._bnode_plist(toks, rows), None, None, False
        if (kind, tok) == ("punct", "("):
            return self._collection(toks, rows), None, None, False
        if kind == "kw" and tok in ("true", "false"):
            return tok, XSD + "boolean", None, True
        if kind in ("number", "string"):
            return (*literal(kind, tok, toks.peek, toks.next,
                             self._datatype), True)
        raise ValueError(f"unexpected term token {tok!r}")

    def _bnode_plist(self, toks, rows: list[tuple]) -> str:
        """``[ p1 o1 ; p2 o2 , o3 ]`` (the '[' already consumed) → fresh
        blank node carrying the listed triples; ``[]`` is an anonymous
        node with none.  Recursive: objects may themselves be ``[...]`` /
        ``(...)``."""
        subj = self._blank()
        if toks.peek() != ("punct", "]"):
            self._predicate_objects(subj, toks, rows, ("]",))
        toks.next()
        return subj

    def _predicate_objects(self, subj: str, toks, rows: list[tuple],
                           ends: tuple[str, ...]) -> str:
        """``p1 o1, o2 ; p2 o3`` about ``subj`` (repeated and trailing
        ``;`` are allowed), up to the punctuation in ``ends`` that closes it —
        left unread and returned."""
        while True:
            pk, pt = toks.next()
            if pk == "kw" and pt == "a":
                pred = RDF_TYPE
            else:
                pred, _, _, plit = self._term(pk, pt, toks, rows)
                if plit:
                    raise ValueError(f"literal predicate {pt!r}")
            while True:
                ok, ot = toks.next()
                obj, dt, lang, _ = self._term(ok, ot, toks, rows)
                rows.append((subj, pred, obj, dt, lang, self.graph))
                if toks.peek() != ("punct", ","):
                    break
                toks.next()
            more = toks.peek() == ("punct", ";")
            while toks.peek() == ("punct", ";"):
                toks.next()
            nk, nt = toks.peek()
            if nk == "punct" and nt in ends:
                return nt
            if not more:
                raise ValueError(f"expected ';' ',' or {' '.join(ends)!r}, "
                                 f"got {nt!r}")

    def _collection(self, toks, rows: list[tuple]) -> str:
        """``( e1 e2 ... )`` (the '(' already consumed) → rdf:first/rest
        chain head; ``()`` → rdf:nil.  Elements are full object terms
        (nested collections / property lists recurse)."""
        items: list[tuple] = []
        while True:
            k, t = toks.peek()
            if (k, t) == ("punct", ")"):
                toks.next()
                break
            if k is None:
                raise ValueError("unterminated ( ... ) collection")
            toks.next()
            items.append(self._term(k, t, toks, rows)[:3])
        return collection(items, self._blank, rows.append, self.graph)

    def parse(self, text: str) -> list[tuple]:
        toks = _Peekable(tokens(_TOKEN, text, "turtle parse error"))
        rows: list[tuple] = []
        while True:
            k, t = toks.peek()
            if k is None:
                return rows
            if k == "kw" and t in ("@prefix", "PREFIX", "@base", "BASE"):
                toks.next()
                directive = "@" + t.lstrip("@").lower()
                if directive == "@prefix":   # 'p:' — pname, empty local
                    pfx = toks.next()[1].split(":", 1)[0]
                ik, itok = toks.next()
                if ik != "iri":
                    raise ValueError(f"{directive} needs an IRI, got {itok!r}")
                iri = resolve_iri(self.base, itok[1:-1])
                if directive == "@prefix":
                    self.prefixes[pfx] = iri
                else:
                    self.base = iri
                if t.startswith("@") and toks.next() != ("punct", "."):
                    raise ValueError(f"{directive} not terminated by '.'")
                continue
            if k == "kw" and t.lower() == "graph":       # GRAPH <g> { ... }
                toks.next()
                gk, gt = toks.next()
                self._block(toks, rows, self._iri(gk, gt))
                continue
            if (k, t) == ("punct", "{"):                 # anonymous { ... }
                self._block(toks, rows, self.graph)
                continue
            if k in ("iri", "pname", "blank"):
                # one token of lookahead decides bare-name block vs subject
                toks.next()
                name = self._iri(k, t)
                if toks.peek() == ("punct", "{"):        # <g> { ... }
                    self._block(toks, rows, name)
                else:
                    self._statement(toks, rows, subj=name)
                continue
            self._statement(toks, rows)

    def _block(self, toks, rows: list[tuple], name: str | None) -> None:
        bk, bt = toks.next()
        if (bk, bt) != ("punct", "{"):
            raise ValueError(f"expected '{{' after graph name, got {bt!r}")
        outer = self.graph
        self.graph = name
        try:
            while True:
                k, t = toks.peek()
                if (k, t) == ("punct", "}"):
                    toks.next()
                    return
                if k is None:
                    raise ValueError("unterminated graph block")
                self._statement(toks, rows, in_block=True)
        finally:
            self.graph = outer

    def _statement(self, toks, rows: list[tuple], subj: str | None = None,
                   in_block: bool = False) -> None:
        if subj is None:
            sk, st = toks.next()
            subj, _, _, lit = self._term(sk, st, toks, rows)
            if lit:
                raise ValueError(f"literal subject {st!r}")
            # a blankNodePropertyList subject may stand alone:
            # "[ p o ] ." is a complete statement (Turtle `triples ::=
            # blankNodePropertyList predicateObjectList?`)
            if (sk, st) == ("punct", "["):
                nk, nt = toks.peek()
                if (nk, nt) == ("punct", "."):
                    toks.next()
                    return
                if in_block and (nk, nt) == ("punct", "}"):
                    return
        # the final '.' inside a block is optional in TriG
        if self._predicate_objects(subj, toks, rows,
                                   (".", "}") if in_block else (".",)) == ".":
            toks.next()


class _Peekable:
    def __init__(self, it: Iterator):
        self._it = it
        self._buf: tuple | None = None

    def peek(self) -> tuple:
        if self._buf is None:
            self._buf = next(self._it, (None, None))
        return self._buf

    def next(self) -> tuple:
        t = self.peek()
        self._buf = None
        if t == (None, None):
            raise ValueError("unexpected end of turtle input")
        return t


def parse_turtle_text(text: str,
                      default_graph: str | None = None) -> list[tuple]:
    """Pure-python single-document parse → [(subject, predicate, object,
    obj_datatype, obj_lang, graph)] — also the oracle for the Spark path.
    Accepts both Turtle and TriG (graph blocks override default_graph)."""
    return _Parser(default_graph).parse(text)


_COLS = ["subject", "predicate", "object", "obj_datatype", "obj_lang", "graph"]


_SCHEMA = ("subject string, predicate string, object string, "
           "obj_datatype string, obj_lang string, graph string")


def _scope_rows(rows: list[tuple], suffix: str) -> list[tuple]:
    """Suffix every blank-node label with the per-file scope tag.
    Bnodes can sit in subject, object (when not a literal — the parsed
    tuple carries NULL datatype AND lang for reference objects) and
    graph position; predicates never."""
    out = []
    for s, p, o, dt, lang, g in rows:
        if s.startswith("_:"):
            s += suffix
        if o.startswith("_:") and dt is None and lang is None:
            o += suffix
        if g is not None and g.startswith("_:"):
            g += suffix
        out.append((s, p, o, dt, lang, g))
    return out


def _wholefile_loader(spark: SparkSession, path: str, parse_fn,
                      default_graph: str | None) -> DataFrame:
    """Shared plan for non-splittable RDF formats (turtle/trig/json-ld/
    rdf-xml): one task per file (wholetext scan) — a many-file corpus
    parallelizes across files — with an Arrow-batched mapInPandas parse;
    output schema identical to io.rdf.parse_lines so every downstream
    store operator applies.

    Multi-file loads scope blank-node labels per file (see module
    docstring); the decision reads only the file LISTING
    (``inputFiles``), not the data."""
    files = spark.read.format("text").option("wholetext", "true").load(path)
    scoped = len(files.inputFiles()) > 1
    if scoped:
        from pyspark.sql import functions as F
        files = files.select("value", F.input_file_name().alias("__file"))

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            rows: list[tuple] = []
            for i, text in enumerate(pdf["value"]):
                parsed = parse_fn(text, default_graph)
                if scoped:
                    fp = pdf["__file"].iloc[i]
                    suf = ("--f" + hashlib.sha256(
                        fp.encode()).hexdigest()[:8])
                    parsed = _scope_rows(parsed, suf)
                rows.extend(parsed)
            yield pd.DataFrame(rows, columns=_COLS)

    return files.mapInPandas(_parse, schema=_SCHEMA)


def load_turtle(spark: SparkSession, path: str,
                default_graph: str | None = None) -> DataFrame:
    """Distributed Turtle load — see _wholefile_loader for the plan."""
    return _wholefile_loader(spark, path, parse_turtle_text, default_graph)


def load_trig(spark: SparkSession, path: str,
              default_graph: str | None = None) -> DataFrame:
    """Distributed TriG load (kgraph_rdf_db.py:497 RdfFormat.TRIG): the
    grammar is a strict superset of the Turtle subset, so this is the same
    one-task-per-file wholetext + mapInPandas plan as load_turtle."""
    return load_turtle(spark, path, default_graph)
