"""RDF/XML (subset) whole-file parser — with turtle.py and jsonld.py this
closes S20's format list (SURVEY.md §2.1; the reference delegates
``fmt="rdf-xml"`` to pyoxigraph, kgraph_rdf_db.py:493-511, which this
sandbox does not ship).  Built on stdlib ``xml.etree`` — no new deps.

Supported subset — the striped-syntax profile that covers typical
exported RDF/XML:
- root ``rdf:RDF`` (or a single node element);
- node elements: ``rdf:Description`` or a typed element (its expanded
  QName becomes an ``rdf:type`` triple), subject from ``rdf:about`` /
  ``rdf:ID`` (→ ``base#ID``-style, emitted as ``#ID`` when no xml:base) /
  ``rdf:nodeID`` (→ ``_:id``) / fresh blank node when absent;
- property elements: expanded child QName is the predicate; object from
  ``rdf:resource`` (IRI), ``rdf:nodeID`` (blank), nested node element(s),
  ``rdf:parseType="Resource"`` (children become properties of a fresh
  blank node), or text content with optional ``rdf:datatype`` /
  inherited ``xml:lang``;
- non-rdf attributes on a node element are emitted as plain-literal
  property triples (the RDF/XML "property attributes" abbreviation);
- ``rdf:li`` container membership: each ``rdf:li`` property element
  becomes ``rdf:_1``, ``rdf:_2``, … numbered per enclosing element
  (node element or ``parseType="Resource"`` block), per the spec;
- ``rdf:parseType="Collection"`` (children chain into an
  rdf:first/rdf:rest list, empty → rdf:nil — same desugaring as the
  Turtle parser's ``(...)``) and ``rdf:parseType="Literal"`` (the
  element's XML content, serialized, as an ``rdf:XMLLiteral``);
- ``xml:base`` resolution (element-scoped, inherited; a relative
  ``xml:base`` resolves against the enclosing one): ``rdf:about`` /
  ``rdf:resource`` / ``rdf:datatype`` values resolve against the
  in-scope base per RFC 3986 (io/terms.py's ``resolve_iri``, which keeps
  an empty fragment: ``ns#`` → ``<base>ns#``), and ``rdf:ID`` becomes
  ``<base>#<ID>``.

NOT supported (documented limitation): ``rdf:bagID`` and the
``rdf:ID``-on-a-property-element reification attributes.

Scale shape: same as turtle.py — XML is not splittable, so parallelism
is one task per file via wholetext + Arrow-batched mapInPandas.
Blank-node labels (``_:x<n>``) are document-scoped.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .terms import RDF_NS, RDF_TYPE, RDF_XMLLITERAL, collection, resolve_iri

XML_NS = "http://www.w3.org/XML/1998/namespace"

_ABOUT = f"{{{RDF_NS}}}about"
_ID = f"{{{RDF_NS}}}ID"
_NODEID = f"{{{RDF_NS}}}nodeID"
_RESOURCE = f"{{{RDF_NS}}}resource"
_DATATYPE = f"{{{RDF_NS}}}datatype"
_PARSETYPE = f"{{{RDF_NS}}}parseType"
_LANG = f"{{{XML_NS}}}lang"
_XMLBASE = f"{{{XML_NS}}}base"
_LI = f"{{{RDF_NS}}}li"
_DESCRIPTION = f"{{{RDF_NS}}}Description"
_RDF_ROOT = f"{{{RDF_NS}}}RDF"


def _base(el: ET.Element, base: str) -> str:
    """The base in scope on ``el``: its own ``xml:base``, resolved
    against the enclosing one, else the enclosing one."""
    own = el.get(_XMLBASE)
    return base if own is None else resolve_iri(base, own)


def _expand(tag: str) -> str:
    """etree's ``{ns}local`` → ``nslocal`` (RDF QName concatenation)."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


class _Parser:
    def __init__(self, default_graph: str | None):
        self.rows: list[tuple] = []
        self.graph = default_graph
        self._bn = 0

    def _blank(self) -> str:
        self._bn += 1
        return f"_:x{self._bn}"

    def parse(self, text: str) -> list[tuple]:
        root = ET.fromstring(text)
        if root.tag == _RDF_ROOT:
            lang = root.get(_LANG)
            base = _base(root, "")
            for child in root:
                self._node(child, lang, base)
        else:
            self._node(root, None, "")
        return self.rows

    def _subject_of(self, el: ET.Element, base: str) -> str:
        if _ABOUT in el.attrib:
            return resolve_iri(base, el.get(_ABOUT))
        if _ID in el.attrib:
            # rdf:ID names a fragment of the base document
            return resolve_iri(base, "#" + el.get(_ID))
        if _NODEID in el.attrib:
            return "_:" + el.get(_NODEID)
        return self._blank()

    def _node(self, el: ET.Element, lang: str | None, base: str) -> str:
        base = _base(el, base)
        subj = self._subject_of(el, base)
        lang = el.get(_LANG, lang)
        emit = self.rows.append
        if el.tag != _DESCRIPTION:
            emit((subj, RDF_TYPE, _expand(el.tag), None, None, self.graph))
        for attr, val in el.attrib.items():
            if attr in (_ABOUT, _ID, _NODEID, _LANG, _XMLBASE):
                continue
            if attr.startswith(f"{{{XML_NS}}}"):
                # xml:space / any other xml:-namespace attribute is syntax
                # metadata, never a property — emitting it as a triple
                # (predicate "http://...namespacespace") would be junk.
                continue
            if attr.startswith(f"{{{RDF_NS}}}"):
                raise ValueError(f"unsupported rdf: attribute "
                                 f"{_expand(attr)!r} on a node element")
            # property-attribute abbreviation → plain literal
            emit((subj, _expand(attr), val, None, lang, self.graph))
        li = [0]                     # rdf:li numbering, per node element
        for prop in el:
            self._property(subj, prop, lang, base, li)
        return subj

    def _property(self, subj: str, prop: ET.Element, lang: str | None,
                  base: str, li: list[int]) -> None:
        base = _base(prop, base)
        if prop.tag == _LI:
            li[0] += 1
            pred = f"{RDF_NS}_{li[0]}"
        else:
            pred = _expand(prop.tag)
        lang = prop.get(_LANG, lang)
        emit = self.rows.append
        if _RESOURCE in prop.attrib:
            emit((subj, pred, resolve_iri(base, prop.get(_RESOURCE)),
                  None, None, self.graph))
            return
        if _NODEID in prop.attrib:
            emit((subj, pred, "_:" + prop.get(_NODEID),
                  None, None, self.graph))
            return
        pt = prop.get(_PARSETYPE)
        if pt == "Resource":
            inner = self._blank()
            emit((subj, pred, inner, None, None, self.graph))
            inner_li = [0]           # rdf:li numbering restarts per block
            for p in prop:
                self._property(inner, p, lang, base, inner_li)
            return
        if pt == "Collection":
            # children chain into rdf:first/rdf:rest cells — the same
            # desugaring as turtle.py's `(...)` collections
            nodes = [(self._node(child, lang, base), None, None)
                     for child in prop]
            chain: list[tuple] = []    # emitted after the row naming its head
            head = collection(nodes, self._blank, chain.append, self.graph)
            emit((subj, pred, head, None, None, self.graph))
            self.rows.extend(chain)
            return
        if pt == "Literal":
            # the element's XML content, serialized verbatim, is the value
            xml = (prop.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in prop)
            emit((subj, pred, xml, RDF_XMLLITERAL, None, self.graph))
            return
        if pt is not None:
            raise ValueError(f"unsupported rdf:parseType={pt!r}")
        children = list(prop)
        if children:
            for child in children:
                obj = self._node(child, lang, base)
                emit((subj, pred, obj, None, None, self.graph))
            return
        dt = prop.get(_DATATYPE)
        if dt is not None:
            dt = resolve_iri(base, dt)
        text = prop.text or ""
        emit((subj, pred, text, dt, None if dt else lang, self.graph))


def parse_rdfxml_text(text: str,
                      default_graph: str | None = None) -> list[tuple]:
    """Pure-python single-document parse → [(subject, predicate, object,
    obj_datatype, obj_lang, graph)] — also the oracle for the Spark path."""
    return _Parser(default_graph).parse(text)


def load_rdfxml(spark: SparkSession, path: str,
                default_graph: str | None = None) -> DataFrame:
    """Distributed RDF/XML load: one task per file (wholetext scan),
    Arrow-batched parse via mapInPandas; schema identical to
    io.rdf.parse_lines so every downstream store operator applies."""
    from .turtle import _wholefile_loader
    return _wholefile_loader(spark, path, parse_rdfxml_text, default_graph)
