"""The shared RDF term syntax (io/terms.py) behind the SPARQL, Turtle/TriG,
JSON-LD and RDF/XML parsers: string escapes, prefixed names, long
strings and base-IRI resolution give the answer the specs give, in
every parser.  Pure Python — no SparkSession."""

import re
from urllib.parse import urljoin

import pytest

from kgraphmemory_spark.io.jsonld import parse_jsonld_text
from kgraphmemory_spark.io.rdfxml import parse_rdfxml_text
from kgraphmemory_spark.io.terms import resolve_iri
from kgraphmemory_spark.io.turtle import parse_turtle_text
from kgraphmemory_spark.sparql import _Parser


def _sparql_objects(query: str) -> list:
    return [o for _s, _p, o, _g in _Parser(query).parse()["where"].patterns]


def _objects(rows) -> list:
    return [r[2] for r in rows]


RDF = 'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" ' \
      'xmlns:ex="http://e/"'


@pytest.mark.parametrize("query, want", [
    # UCHAR escapes
    ('SELECT ?s WHERE { ?s <urn:p> "caf\\u00e9" }',
     [("lit", "café", None, None)]),
    # ECHAR \b is a backspace
    ('SELECT ?s WHERE { ?s <urn:p> "tab\\bx" }',
     [("lit", "tab\bx", None, None)]),
    # long-quote strings
    ('SELECT ?s WHERE { ?s <urn:p> """long""" }',
     [("lit", "long", None, None)]),
    # a local name never ends in '.': "ex:o." is ex:o and the separator
    ('PREFIX ex: <http://ex/> SELECT * WHERE { ?s ex:p ex:o. ?s ex:q ?x }',
     [("iri", "http://ex/o"), ("var", "x")]),
])
def test_sparql_terms(query, want):
    assert _sparql_objects(query) == want


@pytest.mark.parametrize("text, want", [
    ("@base <http://a/b/c> . <../x> <#p> <d> .",
     [("http://a/x", "http://a/b/c#p", "http://a/b/d")]),
    # @prefix IRIs resolve against the in-scope base
    ("@base <http://a/b/> . @prefix ex: <ns#> . ex:s ex:p ex:o .",
     [("http://a/b/ns#s", "http://a/b/ns#p", "http://a/b/ns#o")]),
    # a relative @base resolves against the previous one
    ("@base <http://a/b/> . @base <c/> . <x> <y> <z> .",
     [("http://a/b/c/x", "http://a/b/c/y", "http://a/b/c/z")]),
])
def test_turtle_base_resolution(text, want):
    assert [r[:3] for r in parse_turtle_text(text)] == want


def test_jsonld_base_resolution():
    rows = parse_jsonld_text('{"@context": {"@base": "http://a/b/c"}, '
                             '"@id": "../x", "http://e/p": "v"}')
    assert [r[0] for r in rows] == ["http://a/x"]


def test_rdfxml_about_keeps_an_empty_fragment():
    rows = parse_rdfxml_text(
        f'<rdf:RDF {RDF} xml:base="http://a/b/">'
        '<rdf:Description rdf:about="ns#"><ex:p>v</ex:p></rdf:Description>'
        '</rdf:RDF>')
    assert [r[0] for r in rows] == ["http://a/b/ns#"]


def test_rdfxml_nested_relative_xml_base():
    rows = parse_rdfxml_text(
        f'<rdf:RDF {RDF} xml:base="http://b/dir/">'
        '<rdf:Description rdf:about="c" xml:base="sub/">'
        '<ex:p>v</ex:p></rdf:Description></rdf:RDF>')
    assert [r[0] for r in rows] == ["http://b/dir/sub/c"]


def test_sparql_blank_node_label_is_rejected_clearly():
    with pytest.raises(ValueError, match="blank nodes in query patterns"):
        _Parser("SELECT * WHERE { _:b <urn:p> ?o }").parse()


def test_string_escapes_agree_across_parsers():
    body = r"café \U0001F600 \t\b\n\r\f \"\'\\"
    want = "café \U0001F600 \t\b\n\r\f \"'\\"
    assert _sparql_objects(
        f'SELECT * WHERE {{ ?s <urn:p> "{body}" }}')[0][1] == want
    assert _objects(parse_turtle_text(f'<urn:s> <urn:p> "{body}" .')) == \
        [want]


# RFC 3986 §5.4.1 (normal) and §5.4.2 (abnormal) examples, resolved
# against the base "http://a/b/c/d;p?q"
RFC3986_EXAMPLES = {
    "g:h": "g:h", "g": "http://a/b/c/g", "./g": "http://a/b/c/g",
    "g/": "http://a/b/c/g/", "/g": "http://a/g", "//g": "http://g",
    "?y": "http://a/b/c/d;p?y", "g?y": "http://a/b/c/g?y",
    "#s": "http://a/b/c/d;p?q#s", "g#s": "http://a/b/c/g#s",
    "g?y#s": "http://a/b/c/g?y#s", ";x": "http://a/b/c/;x",
    "g;x": "http://a/b/c/g;x", "g;x?y#s": "http://a/b/c/g;x?y#s",
    "": "http://a/b/c/d;p?q", ".": "http://a/b/c/", "./": "http://a/b/c/",
    "..": "http://a/b/", "../": "http://a/b/", "../g": "http://a/b/g",
    "../..": "http://a/", "../../": "http://a/", "../../g": "http://a/g",
    "../../../g": "http://a/g", "../../../../g": "http://a/g",
    "/./g": "http://a/g", "/../g": "http://a/g", "g.": "http://a/b/c/g.",
    ".g": "http://a/b/c/.g", "g..": "http://a/b/c/g..",
    "..g": "http://a/b/c/..g", "./../g": "http://a/b/g",
    "./g/.": "http://a/b/c/g/", "g/./h": "http://a/b/c/g/h",
    "g/../h": "http://a/b/c/h", "g;x=1/./y": "http://a/b/c/g;x=1/y",
    "g;x=1/../y": "http://a/b/c/y", "g?y/./x": "http://a/b/c/g?y/./x",
    "g?y/../x": "http://a/b/c/g?y/../x", "g#s/./x": "http://a/b/c/g#s/./x",
    "g#s/../x": "http://a/b/c/g#s/../x",
    # strict parsers keep an absolute reference as-is
    "http:g": "http:g",
}


@pytest.mark.parametrize("ref, want", sorted(RFC3986_EXAMPLES.items()))
def test_resolve_iri_rfc3986_examples(ref, want):
    base = "http://a/b/c/d;p?q"
    assert resolve_iri(base, ref) == want
    if ref != "http:g":              # urljoin is a non-strict parser
        assert urljoin(base, ref) == want


@pytest.mark.parametrize("ref, want", sorted(RFC3986_EXAMPLES.items()))
def test_resolve_iri_any_scheme(ref, want):
    """The same references under a scheme urljoin does not know (it
    returns the bare reference there: "g" → "g")."""
    if want.startswith("http://"):
        want = "ex://" + want[len("http://"):]
    assert resolve_iri("ex://a/b/c/d;p?q", ref) == want


def test_resolve_iri_without_a_base_or_for_an_absolute_ref():
    assert resolve_iri(None, "../x") == "../x"
    assert resolve_iri("", "ns#") == "ns#"
    assert resolve_iri("http://a/b/", "urn:x:y") == "urn:x:y"
    assert resolve_iri("http://a/b/", "ns#") == "http://a/b/ns#"


@pytest.mark.parametrize("text, escape", [
    ('<urn:s> <urn:p> "\\q" .', "\\q"),
    ('<urn:s> <urn:p> "a\\d+" .', "\\d"),
    ('<urn:s> <urn:p> "\\uD800" .', "\\uD800"),
    ('<urn:s> <urn:p> "\\U00110000" .', "\\U00110000"),
])
def test_turtle_rejects_an_invalid_string_escape(text, escape):
    with pytest.raises(ValueError, match=re.escape(repr(escape))):
        parse_turtle_text(text)


@pytest.mark.parametrize("query, escape", [
    ('SELECT * WHERE { ?s <urn:p> ?x FILTER(REGEX(?x, "\\d+")) }', "\\d"),
    ('SELECT * WHERE { ?s <urn:p> "\\q" }', "\\q"),
    ("SELECT * WHERE { ?s <urn:p> '\\uDE00' }", "\\uDE00"),
])
def test_sparql_rejects_an_invalid_string_escape(query, escape):
    with pytest.raises(ValueError, match=re.escape(repr(escape))):
        _Parser(query).parse()


def test_turtle_repeated_semicolons():
    rows = parse_turtle_text('<urn:a> <urn:p> <urn:o> ;; <urn:q> <urn:r> ;; .')
    assert [r[:3] for r in rows] == [("urn:a", "urn:p", "urn:o"),
                                     ("urn:a", "urn:q", "urn:r")]


def test_sparql_repeated_semicolons():
    pats = _Parser("SELECT * WHERE { ?s <urn:p> ?o ;; <urn:q> ?x ;; }"
                   ).parse()["where"].patterns
    assert [(p, o) for _s, p, o, _g in pats] == [
        (("iri", "urn:p"), ("var", "o")), (("iri", "urn:q"), ("var", "x"))]
