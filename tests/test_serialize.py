"""Output-side S13/S20: the whole-document serializers round-trip
through their sibling parsers — the same parity the reference gets from
pyoxigraph's dump (kgraph_rdf_db.py:523-547, default turtle)."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.io.jsonld import parse_jsonld_text
from kgraphmemory_spark.io.rdf import parse_lines
from kgraphmemory_spark.io.rdfxml import parse_rdfxml_text
from kgraphmemory_spark.io.serialize import (
    dump_rdf_string,
    serialize_rdf,
    serialize_turtle,
)
from kgraphmemory_spark.io.turtle import parse_turtle_text

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

ROWS = [
    ("http://e/alice", RDF + "type", "http://e/Person", None, None, "g1"),
    ("http://e/alice", "http://e/name", 'Al "ice"\n\\x', None, "en", "g1"),
    ("http://e/alice", "http://e/age", "30", XSD + "integer", None, "g1"),
    ("http://e/alice", "http://e/knows", "http://e/bob", None, None, None),
    ("http://e/alice", "http://e/knows", "_:b1", None, None, None),
    ("_:b1", "http://e/note", "plain <tag> & stuff\t.", None, None, None),
    ("http://e/bob", "http://e/motto", "héllo wörld \r ok", None, None, "g1"),
    # IRI-shaped literals: the datatype or the tag keeps them literals
    ("http://e/bob", "http://e/home", "http://example.org/x", XSD + "anyURI",
     None, None),
    ("http://e/bob", "http://e/mail", "mailto:a@b", None, "en", "g1"),
]
SCHEMA = ("subject string, predicate string, object string, "
          "obj_datatype string, obj_lang string, graph string")
WANT = {(s, p, o, dt, lg) for s, p, o, dt, lg, _ in ROWS}


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_turtle_roundtrip_and_block_order_independence(triples):
    ttl = dump_rdf_string(triples, "turtle")
    assert {t[:5] for t in parse_turtle_text(ttl)} == WANT
    # blocks are order-independent valid Turtle: reversed doc, same graph
    blocks = [r["value"] for r in serialize_turtle(triples).collect()]
    shuffled = "\n".join(reversed(sorted(blocks)))
    assert {t[:5] for t in parse_turtle_text(shuffled)} == WANT
    # rdf:type renders as `a`, objects group with `,`, predicates with `;`
    assert " a " in ttl and " , " in ttl and ";\n" in ttl


def test_turtle_prefix_compression_roundtrip(triples):
    ttl = dump_rdf_string(triples, "ttl",
                          prefixes={"e": "http://e/", "xsd": XSD})
    assert ttl.startswith("@prefix e: <http://e/> .")
    assert "e:alice a e:Person" in ttl
    assert {t[:5] for t in parse_turtle_text(ttl)} == WANT
    # an IRI whose remainder is not a safe local name stays bracketed
    assert "<http://e/alice>" not in ttl


def test_trig_roundtrip_with_graphs(triples):
    trig = dump_rdf_string(triples, "trig")
    assert "GRAPH <g1> {" in trig
    assert {tuple(t) for t in parse_turtle_text(trig)} == set(ROWS)
    # declaring g1 as the default graph turns its block bare
    bare = dump_rdf_string(triples, "trig", default_graph="g1")
    assert "GRAPH" not in bare
    got = {t[:5] for t in parse_turtle_text(bare, default_graph="g1")}
    assert got == WANT


def test_jsonld_roundtrip(triples):
    doc = dump_rdf_string(triples, "json-ld")
    assert doc.startswith("[")
    assert {t[:5] for t in parse_jsonld_text(doc)} == WANT
    # every block row is itself a valid one-node JSON-LD document
    one = serialize_rdf(triples, "jsonld").collect()[0]["value"]
    assert isinstance(parse_jsonld_text(one), list)


def test_rdfxml_roundtrip(triples):
    xml = dump_rdf_string(triples, "rdf/xml")
    assert xml.startswith('<?xml version="1.0"?>')
    assert {t[:5] for t in parse_rdfxml_text(xml)} == WANT


def test_rdfxml_inexpressible_predicate_raises(spark):
    bad = spark.createDataFrame(
        [("http://e/a", "http://e/ns/", "v", None, None, None)], SCHEMA)
    with pytest.raises(Exception, match="not expressible"):
        dump_rdf_string(bad, "xml")


def test_line_formats_and_dispatch(spark, triples):
    nt = dump_rdf_string(triples, "n-triples")
    assert len(nt.strip().splitlines()) == len(ROWS)
    back = parse_lines(spark.createDataFrame(
        [(line,) for line in nt.strip().splitlines()], "value string"))
    assert {tuple(r)[:5] for r in back.collect()} == WANT
    nq = dump_rdf_string(triples, "nq")
    assert " <g1> ." in nq
    for fmt in ("turtle", "TTL", "trig", "json-ld", "jsonld", "rdf/xml",
                "RDF_XML", "xml", "nt", "nquads"):
        assert serialize_rdf(triples, fmt).columns == ["value"], fmt
    with pytest.raises(ValueError, match="unsupported serialize format"):
        serialize_rdf(triples, "n3")


def test_serializers_stay_jvm_side(triples):
    """No Python row code in any emit plan — the whole path must be
    column algebra (scale guarantee; BatchEvalPython would mean a
    per-row UDF crept in)."""
    import contextlib
    import io

    for fmt in ("turtle", "trig", "jsonld", "rdfxml"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            serialize_rdf(triples, fmt).explain("formatted")
        plan = buf.getvalue()
        assert "BatchEvalPython" not in plan, fmt
        assert "mapinpandas" not in plan.lower(), fmt


def test_write_rdf_parallel_sink_roundtrip(spark, triples, tmp_path):
    """write_rdf → import_rdf closes the loop for the splittable and
    block formats; RDF/XML is refused (single-root constraint)."""
    from kgraphmemory_spark.io.rdf import import_rdf
    from kgraphmemory_spark.io.serialize import write_rdf

    p = str(tmp_path / "out_ttl")
    write_rdf(triples, p, "turtle")
    back = import_rdf(spark, p, fmt="turtle")
    assert {tuple(r)[:5] for r in back.collect()} == WANT
    with pytest.raises(ValueError, match="single document root"):
        write_rdf(triples, str(tmp_path / "x"), "rdf/xml")


# ------------------- randomized roundtrip battery (round 3) ----------

NASTY = ['"', '\\', "\n", "\r", "\t", "<", ">", "&", "'", "{", "}",
         "é", "wörld", "日本", " ", '"""', "\\n", "a.b", ""]


def _rand_rows(rng, n=60):
    import random as _r
    assert isinstance(rng, _r.Random)
    subs = [f"http://e/s{i}" for i in range(6)] + ["_:r1", "_:r2"]
    preds = [f"http://e/p{i}" for i in range(5)]
    dts = [None, XSD + "integer", XSD + "dateTime", "http://e/dt"]
    rows = set()
    while len(rows) < n:
        s = rng.choice(subs)
        p = rng.choice(preds)
        kind = rng.random()
        if kind < 0.45:
            o = "".join(rng.choice(NASTY) for _ in range(rng.randint(0, 4))) \
                or "x"
            dt, lang = rng.choice(dts), None
            if dt is None and rng.random() < 0.3:
                lang = rng.choice(["en", "fr-CA"])
        elif kind < 0.75:
            o, dt, lang = rng.choice(subs[:6]), None, None
        else:
            o, dt, lang = rng.choice(["_:r1", "_:r2", "_:r3"]), None, None
        rows.add((s, p, o, dt, lang, rng.choice([None, "urn:g1", "urn:g2"])))
    return sorted(rows, key=str)


def test_randomized_roundtrip_all_formats(spark):
    """Seeded random triples — adversarial literals (quotes, escapes,
    newlines, unicode, XML/JSON metachars, empty string), typed/lang
    literals, blank nodes, mixed graphs — must survive
    serialize → parse through every format."""
    import random

    rng = random.Random(99)
    rows = _rand_rows(rng)
    df = spark.createDataFrame(rows, SCHEMA)
    want5 = {t[:5] for t in rows}
    want6 = set(rows)

    ttl = dump_rdf_string(df, "turtle")
    assert {t[:5] for t in parse_turtle_text(ttl)} == want5
    trig = dump_rdf_string(df, "trig")
    assert {tuple(t) for t in parse_turtle_text(trig)} == want6
    doc = dump_rdf_string(df, "json-ld")
    assert {t[:5] for t in parse_jsonld_text(doc)} == want5
    xml = dump_rdf_string(df, "rdf/xml")
    assert {t[:5] for t in parse_rdfxml_text(xml)} == want5
    nq = dump_rdf_string(df, "nquads")
    back = parse_lines(spark.createDataFrame(
        [(line,) for line in nq.strip().splitlines()], "value string"))
    assert {tuple(r) for r in back.collect()} == want6
