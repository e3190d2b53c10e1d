"""JSON-LD (subset) whole-file parser — with turtle.py and rdfxml.py this
closes S20's format list (SURVEY.md §2.1; the reference delegates
``fmt="json-ld"`` to pyoxigraph, kgraph_rdf_db.py:493-511, which this
sandbox does not ship).

Supported subset — expanded and simply-compacted documents:
- ``@context``: term → IRI string, term → ``{"@id": iri, "@type":
  "@id" | <datatype-iri>}``, plus ``@vocab`` and ``@base`` (a nested
  context's relative ``@base`` resolves against the outer one, ``null``
  clears it);
- node objects: ``@id`` (a relative reference resolves against ``@base``
  per RFC 3986 — io/terms.py's ``resolve_iri``; absent → fresh blank
  node), ``@type`` (string or list) → ``rdf:type`` triples;
- values: JSON string → plain literal (or IRI under a term coerced
  ``"@type": "@id"``), int → xsd:integer, float → xsd:double, bool →
  xsd:boolean, ``{"@value": …, "@type"/"@language": …}`` expanded-form
  literals, ``{"@id": …}`` IRI objects, nested node objects (emitted
  recursively, linked by their id), and JSON arrays of any of these;
- ``@graph``: a top-level or node-level graph container; when the holder
  has an ``@id`` the contained triples land in that named graph,
  otherwise in ``default_graph``.

``@list`` value objects and ``"@container": "@list"``-coerced terms
desugar to rdf:first/rdf:rest chains (``[]`` → rdf:nil, null items
drop), same as the Turtle parser's collections; nested lists recurse.

``@reverse`` is supported in both forms — the node-object keyword
(``"@reverse": {prop: refs}``) and reverse terms (``{"term":
{"@reverse": iri}}``) — emitting the flipped ``(ref, prop, node)``
triple; values must be node references (a literal there raises, per the
JSON-LD spec).  Graph objects nested inside node objects work too: a
node carrying ``@graph`` names a graph (its ``@id``, or a fresh blank
node when absent) holding the contained triples, while the holder's own
properties stay in the enclosing graph.

NOT supported (documented limitation): non-@list ``@container``
semantics beyond the default multi-valued arrays (which is exactly
``@set``), ``@nest``, ``@included``, remote contexts (a string
``@context`` raises — fetching URLs from executors is not a thing this
engine does), and ``@json`` literals.  ``@type`` values expand with
the vocabulary mapping (term → compact IRI → ``@vocab``), never against
``@base``; a bare ``@type`` word with no term/prefix/``@vocab`` raises.

Scale shape: same as turtle.py — JSON documents are not splittable, so
parallelism is one task per file via wholetext + Arrow-batched
mapInPandas.  Blank-node labels (``_:j<n>``) are document-scoped.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

# the RDF / XSD constants stay importable from here
from .terms import (  # noqa: F401
    RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, XSD, collection, resolve_iri)

_KEYWORDS = {"@id", "@type", "@value", "@language", "@context", "@graph",
             "@base", "@vocab"}


class _Ctx:
    def __init__(self, raw: dict | None):
        raw = raw or {}
        if not isinstance(raw, dict):
            raise ValueError(
                "remote/array @context is outside the supported subset")
        self.base = raw.get("@base", "") or ""
        self.vocab = raw.get("@vocab", "") or ""
        self.terms: dict[str, dict] = {}
        for term, defn in raw.items():
            if term.startswith("@"):
                continue
            if isinstance(defn, str):
                self.terms[term] = {"@id": defn}
            elif isinstance(defn, dict) and ("@id" in defn
                                             or "@reverse" in defn):
                self.terms[term] = defn
            else:
                raise ValueError(f"unsupported @context entry {term!r}")

    def derived(self, raw) -> "_Ctx":
        """An inner ``@context`` EXTENDS the active one (JSON-LD context
        processing applies definitions in order, later overriding
        earlier — it never discards outer terms); ``null`` resets to the
        empty context, per spec."""
        if raw is None:
            return _Ctx(None)
        child = _Ctx(raw)
        merged = _Ctx(None)
        merged.base = self.base
        if "@base" in raw:             # relative to the outer base; null resets
            merged.base = ("" if raw["@base"] is None
                           else resolve_iri(self.base, raw["@base"]))
        merged.vocab = child.vocab if "@vocab" in raw else self.vocab
        merged.terms = {**self.terms, **child.terms}
        return merged

    def _expand_ref(self, name: str) -> str:
        """Expand a term / compact IRI / relative IRI used in IRI position."""
        if name in self.terms and "@id" in self.terms[name]:
            return self.terms[name]["@id"]
        if ":" in name:
            pfx, local = name.split(":", 1)
            if pfx in self.terms and not local.startswith("//"):
                if "@id" not in self.terms[pfx]:
                    raise ValueError(
                        f"term {pfx!r} is reverse-only (no @id) and "
                        "cannot be used as a compact-IRI prefix")
                return self.terms[pfx]["@id"] + local
            return name                      # already an absolute IRI
        return resolve_iri(self.base, name)

    def expand_prop(self, name: str) -> tuple[str, dict]:
        """→ (predicate IRI, term definition) for a node-object key.
        A reverse term (``{"@reverse": iri}``) expands to that IRI; the
        caller flips subject/object when ``"@reverse" in defn``."""
        defn = self.terms.get(name, {})
        if "@reverse" in defn:
            iri = self._expand_ref(defn["@reverse"])
        elif name in self.terms:
            iri = self._expand_ref(defn["@id"])
        elif ":" in name:
            iri = self._expand_ref(name)
        elif self.vocab:
            iri = self.vocab + name
        else:
            raise ValueError(f"cannot expand property {name!r}: "
                             "no term, prefix, or @vocab")
        return iri, defn

    def expand_type(self, name: str) -> str:
        """Expand an ``@type`` value.  Per JSON-LD expansion, @type uses
        the *vocabulary* mapping (term → compact IRI → @vocab), NOT the
        @base fallback that applies to @id-position references — a bare
        word under ``{"@vocab": V, "@base": B}`` must become V+word, never
        B+word.  A bare word with no term/prefix/@vocab raises, matching
        the module's raise-on-unsupported posture."""
        if name in self.terms:
            if "@id" not in self.terms[name]:
                raise ValueError(
                    f"term {name!r} is reverse-only (no @id) and cannot "
                    "be an @type value")
            return self._expand_ref(self.terms[name]["@id"])
        if ":" in name:
            return self._expand_ref(name)
        if self.vocab:
            return self.vocab + name
        raise ValueError(f"cannot expand @type {name!r}: "
                         "no term, prefix, or @vocab")


class _Parser:
    def __init__(self, default_graph: str | None):
        self.rows: list[tuple] = []
        self.default_graph = default_graph
        self._bn = 0

    def _blank(self) -> str:
        self._bn += 1
        return f"_:j{self._bn}"

    def parse(self, doc, ctx: _Ctx | None = None,
              graph: str | None = None) -> None:
        graph = graph if graph is not None else self.default_graph
        if isinstance(doc, list):
            for node in doc:
                self.parse(node, ctx, graph)
            return
        if not isinstance(doc, dict):
            raise ValueError(f"top-level JSON-LD value must be an object "
                             f"or array, got {type(doc).__name__}")
        if "@context" in doc:
            ctx = (ctx or _Ctx(None)).derived(doc["@context"])
        ctx = ctx or _Ctx(None)
        if "@graph" in doc:
            g = ctx._expand_ref(doc["@id"]) if "@id" in doc else graph
            self.parse(doc["@graph"], ctx, g)
            # a graph holder may also carry its own properties
            rest = {k: v for k, v in doc.items()
                    if k not in ("@graph", "@context")}
            if set(rest) - {"@id"}:
                self._node(rest, ctx, graph)
            return
        self._node(doc, ctx, graph)

    def _node(self, node: dict, ctx: _Ctx, graph: str | None) -> str:
        # Nested nodes may carry their own @context, which extends the
        # active one (idempotent for the top-level doc, whose context
        # parse() already applied: re-deriving X over X is X).
        if "@context" in node:
            ctx = ctx.derived(node["@context"])
        subj = (ctx._expand_ref(node["@id"]) if "@id" in node
                else self._blank())
        if "@graph" in node:
            # Graph object reached as a value: the node names a graph and
            # its @graph contents land there (JSON-LD deserialization to
            # an RDF dataset; a holder without @id names a fresh
            # blank-node graph).  The holder's own properties stay in the
            # *enclosing* graph, same as parse()'s top-level handling.
            self.parse(node["@graph"], ctx, subj)
        for t in (lambda ts: ts if isinstance(ts, list) else [ts])(
                node.get("@type", [])):
            self.rows.append((subj, RDF_TYPE, ctx.expand_type(t),
                              None, None, graph))
        if "@reverse" in node:
            rev = node["@reverse"]
            if not isinstance(rev, dict):
                raise ValueError("@reverse must hold an object mapping "
                                 "properties to node references")
            for key, value in rev.items():
                pred, defn = ctx.expand_prop(key)
                if "@reverse" in defn:
                    raise ValueError(f"reverse term {key!r} inside @reverse "
                                     "(double reversal) is not supported")
                values = value if isinstance(value, list) else [value]
                for v in values:
                    self._reverse_value(subj, pred, v, ctx, graph)
        for key, value in node.items():
            if key == "@reverse" or key in _KEYWORDS:
                continue
            if key.startswith("@"):
                raise ValueError(f"unsupported JSON-LD keyword {key!r}")
            pred, defn = ctx.expand_prop(key)
            if "@reverse" in defn:
                # reverse term in a normal property position: values are
                # node references that point BACK at this node
                values = value if isinstance(value, list) else [value]
                for v in values:
                    self._reverse_value(subj, pred, v, ctx, graph)
                continue
            if defn.get("@container") == "@list" and isinstance(value, list):
                # list-coerced term: the ARRAY is ordered — one rdf list
                head = self._list_chain(value, defn, ctx, graph)
                self.rows.append((subj, pred, head, None, None, graph))
                continue
            values = value if isinstance(value, list) else [value]
            for v in values:
                self._value(subj, pred, defn, v, ctx, graph)
        return subj

    def _reverse_value(self, subj: str, pred: str, v, ctx: _Ctx,
                       graph: str | None) -> None:
        """Emit ``(v, pred, subj)`` — the flipped direction shared by the
        ``@reverse`` keyword and reverse terms.  Values must be node
        references (a literal under @reverse is invalid JSON-LD)."""
        if isinstance(v, dict):
            if "@value" in v or "@list" in v:
                raise ValueError("@reverse values must be node references, "
                                 "not literals or lists")
            obj = self._node(v, ctx, graph)
        elif isinstance(v, str):
            obj = ctx._expand_ref(v)
        else:
            raise ValueError("@reverse values must be node references, "
                             f"got {v!r}")
        self.rows.append((obj, pred, subj, None, None, graph))

    def _list_chain(self, items: list, defn: dict, ctx: _Ctx,
                    graph: str | None) -> str:
        """``@list`` → rdf:first/rdf:rest chain (the same desugaring as
        the Turtle parser's ``(...)`` collections); ``[]`` → rdf:nil and
        null items drop.  Items go through ``_object``, so nested nodes /
        typed values / nested lists all work."""
        objs = [self._object(v, defn, ctx, graph) for v in items]
        return collection([o for o in objs if o is not None], self._blank,
                          self.rows.append, graph)

    def _value(self, subj: str, pred: str, defn: dict, v,
               ctx: _Ctx, graph: str | None) -> None:
        obj = self._object(v, defn, ctx, graph)
        if obj is not None:                  # JSON null drops the value
            self.rows.append((subj, pred, *obj, graph))

    def _object(self, v, defn: dict, ctx: _Ctx,
                graph: str | None) -> tuple | None:
        """A JSON-LD value → its (object, datatype, lang) term, or None
        for JSON null; a nested node object or list emits its own
        triples first."""
        if isinstance(v, dict):
            if "@list" in v:
                if set(v) - {"@list"}:
                    raise ValueError("a @list object may not carry other "
                                     "keys in the supported subset")
                return self._list_chain(v["@list"], defn, ctx, graph), \
                    None, None
            if "@value" in v:
                lex, dt = _scalar(v["@value"])
                if v.get("@type"):
                    dt = ctx.expand_type(v["@type"])
                return lex, dt, v.get("@language")
            if set(v) == {"@id"}:
                return ctx._expand_ref(v["@id"]), None, None
            return self._node(v, ctx, graph), None, None  # nested node
        if isinstance(v, str):
            dt = defn.get("@type")
            if dt == "@id":
                return ctx._expand_ref(v), None, None
            return v, ctx.expand_type(dt) if dt else None, None
        if isinstance(v, (bool, int, float)):
            return (*_scalar(v), None)
        if v is None:
            return None
        raise ValueError(f"unsupported JSON-LD value {v!r}")


def _scalar(v) -> tuple[str, str | None]:
    """A JSON scalar → (lexical form, implied datatype)."""
    if isinstance(v, bool):
        return ("true" if v else "false"), XSD + "boolean"
    if isinstance(v, int):
        return str(v), XSD + "integer"
    if isinstance(v, float):
        return repr(v), XSD + "double"
    return str(v), None


def parse_jsonld_text(text: str,
                      default_graph: str | None = None) -> list[tuple]:
    """Pure-python single-document parse → [(subject, predicate, object,
    obj_datatype, obj_lang, graph)] — also the oracle for the Spark path."""
    p = _Parser(default_graph)
    p.parse(json.loads(text))
    return p.rows


def load_jsonld(spark: SparkSession, path: str,
                default_graph: str | None = None) -> DataFrame:
    """Distributed JSON-LD load: one task per file (wholetext scan),
    Arrow-batched parse via mapInPandas; schema identical to
    io.rdf.parse_lines so every downstream store operator applies."""
    from .turtle import _wholefile_loader
    return _wholefile_loader(spark, path, parse_jsonld_text, default_graph)
