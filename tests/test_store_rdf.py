"""Store CRUD (S1-S8) + RDF line I/O (S9-S20): round-trips, pattern
scans/deletes, cascade semantics — mirrors the reference's conversion test
pattern (test_scripts/test_object_conversion.py:120-207) set-oriented."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.io.rdf import (
    load_ntriples,
    parse_lines,
    serialize_lines,
    write_ntriples,
)
from kgraphmemory_spark.operators.store import (
    get_triples,
    objects_to_triples,
    remove_object,
    remove_triples,
    triples_to_objects,
    update_object,
    upsert_objects,
)
from kgraphmemory_spark.semantics import RDF_TYPE, VITAL_TYPE


@pytest.fixture(scope="module")
def objects(spark):
    return spark.createDataFrame(
        [
            ("urn:e1", "alpha", 10, 1.5, True,
             dt.datetime(2024, 1, 2, 3, 4, 5), ["x", "y"]),
            ("urn:e2", "beta", None, 2.5, False,
             dt.datetime(2024, 6, 7, 8, 9, 10), []),
            ("urn:e3", 'quo"te\\back\nline', 30, None, None, None, None),
        ],
        "uri string, name string, n int, score double, flag boolean, "
        "ts timestamp, tags array<string>",
    )


@pytest.fixture(scope="module")
def triples(objects):
    return objects_to_triples(
        objects, uri_col="uri", type_uri="urn:kg:Thing", graph="urn:g"
    ).cache()


def test_emission_counts_and_types(triples):
    # 2 type triples per object + one per non-null scalar + one per array elt
    by_subj = {r["subject"]: r["n"] for r in
               triples.groupBy("subject").count().withColumnRenamed("count", "n").collect()}
    assert by_subj == {"urn:e1": 2 + 5 + 2, "urn:e2": 2 + 4 + 0, "urn:e3": 2 + 2}
    rows = {(r.subject, r.predicate): (r.object, r.obj_datatype)
            for r in triples.collect()}
    assert rows[("urn:e1", RDF_TYPE)] == ("urn:kg:Thing", None)
    assert rows[("urn:e1", VITAL_TYPE)] == ("urn:kg:Thing", None)
    # xsd typing per the reference's fallback mapper (kgraph_rdf_db.py:797-837)
    assert rows[("urn:e1", "urn:prop:n")] == (
        "10", "http://www.w3.org/2001/XMLSchema#integer")
    assert rows[("urn:e1", "urn:prop:flag")] == (
        "true", "http://www.w3.org/2001/XMLSchema#boolean")  # lowercased :829
    assert rows[("urn:e1", "urn:prop:ts")] == (
        "2024-01-02T03:04:05", "http://www.w3.org/2001/XMLSchema#dateTime")


def test_object_reconstruction(objects, triples):
    wide = triples_to_objects(
        triples, property_names=["name", "n", "score", "flag"])
    got = {r.uri: (r.rdf_type, r.name, r.n, r.score, r.flag)
           for r in wide.collect()}
    assert got["urn:e1"] == ("urn:kg:Thing", "alpha", "10", "1.5", "true")
    assert got["urn:e2"][2] is None  # unset property stays absent
    assert got["urn:e3"][1] == 'quo"te\\back\nline'


def test_pattern_scan_and_delete(triples):
    assert get_triples(triples, s="urn:e1", p="urn:prop:tags").count() == 2
    assert get_triples(triples, p=RDF_TYPE).count() == 3
    remaining = remove_triples(triples, s="urn:e1", p="urn:prop:tags")
    assert remaining.count() == triples.count() - 2
    # wildcard-heavy pattern: delete all of e2's triples
    assert remove_triples(triples, s="urn:e2").where(
        F.col("subject") == "urn:e2").count() == 0


def test_remove_object_cascade(spark, triples):
    # add an edge pointing AT e1; removal must drop it too (kgraph.py:147-181)
    edge = spark.createDataFrame(
        [("urn:edge1", "urn:prop:dest", "urn:e1", None, "urn:g")],
        triples.schema)
    t2 = triples.unionByName(edge)
    after = remove_object(t2, "urn:e1")
    assert after.where((F.col("subject") == "urn:e1")
                       | (F.col("object") == "urn:e1")).count() == 0
    assert after.where(F.col("subject") == "urn:e2").count() > 0


def test_array_property_roundtrip(triples):
    """Multi-valued properties round-trip as sorted arrays (ADVICE round 1
    — min-collapse silently lost all but one element)."""
    wide = triples_to_objects(triples, property_names=["name", "tags"],
                              array_properties=["tags"])
    got = {r.uri: r.tags for r in wide.collect()}
    assert got["urn:e1"] == ["x", "y"]
    assert got["urn:e2"] is None  # empty array emitted no triples
    assert got["urn:e3"] is None


def test_remove_triples_null_safe(spark):
    """A NULL term never matches the delete pattern — the row survives
    (plain != evaluated NULL and wrongly deleted it; ADVICE round 1)."""
    t = spark.createDataFrame(
        [("s1", "p1", "o1", None, None),
         ("s1", "p1", "o1", None, "urn:g")],
        "subject string, predicate string, object string, "
        "obj_datatype string, graph string")
    rows = remove_triples(t, s="s1", p="p1", g="urn:g").collect()
    assert len(rows) == 1 and rows[0].graph is None


def test_remove_object_spares_literals(spark):
    """Cascade delete hits URI-shaped datatype-less, tagless objects
    only — typed, lang-tagged and prose literals survive (reference
    deletes NamedNode objects only, kgraph.py:147-181; ADVICE round 1)."""
    xsd_str = "http://www.w3.org/2001/XMLSchema#string"
    xsd_any = "http://www.w3.org/2001/XMLSchema#anyURI"
    t = spark.createDataFrame(
        [("urn:e9", "urn:prop:dest", "urn:e1", None, None, "urn:g"),
         ("urn:e9", "urn:prop:title", "plain text", None, None, "urn:g"),
         ("urn:e8", "urn:prop:code", "urn:e1", xsd_str, None, "urn:g"),
         ("urn:e7", "urn:prop:home", "http://example.org/x", xsd_any, None,
          "urn:g"),
         ("urn:e7", "urn:prop:link", "http://example.org/x", None, None,
          "urn:g"),
         ("urn:e7", "urn:prop:mail", "mailto:a@b", None, "en", "urn:g")],
        "subject string, predicate string, object string, "
        "obj_datatype string, obj_lang string, graph string")
    keys = {(r.subject, r.predicate) for r in remove_object(t, "urn:e1").collect()}
    assert ("urn:e9", "urn:prop:dest") not in keys   # URI object → cascaded
    assert ("urn:e8", "urn:prop:code") in keys       # typed literal survives
    assert ("urn:e9", "urn:prop:title") in keys
    keys = {(r.subject, r.predicate) for r in
            remove_object(t, "http://example.org/x").collect()}
    assert ("urn:e7", "urn:prop:link") not in keys
    assert ("urn:e7", "urn:prop:home") in keys
    keys = {(r.subject, r.predicate) for r in
            remove_object(t, "mailto:a@b").collect()}
    assert ("urn:e7", "urn:prop:mail") in keys


def test_clear(spark, triples):
    from kgraphmemory_spark.operators.store import clear
    extra = spark.createDataFrame(
        [("urn:x", "urn:prop:p", "v", None, "urn:g2")], triples.schema)
    t2 = triples.unionByName(extra)
    assert clear(t2).count() == 0
    left = clear(t2, graph="urn:g")
    assert left.count() == 1 and left.first().graph == "urn:g2"


def test_update_and_upsert(spark, objects, triples):
    new_obj = spark.createDataFrame(
        [("urn:e2", "beta2", 99)], "uri string, name string, n int")
    new_tr = objects_to_triples(new_obj, uri_col="uri",
                                type_uri="urn:kg:Thing", graph="urn:g")
    updated = update_object(triples, new_tr, "urn:e2")
    got = {r.predicate: r.object for r in
           updated.where(F.col("subject") == "urn:e2").collect()}
    assert got["urn:prop:name"] == "beta2" and got["urn:prop:n"] == "99"
    # upsert replaces exactly the incoming subjects
    up = upsert_objects(triples, new_tr)
    assert up.where(F.col("subject") == "urn:e2").count() == 4  # 2 type + 2 props
    assert up.where(F.col("subject") == "urn:e1").count() == 9


# ---------------------------------------------------------------------------
# RDF line formats
# ---------------------------------------------------------------------------

def test_nt_roundtrip_adversarial_literals(spark):
    """serialize→parse identity over generated adversarial literals:
    every escape class (quote, backslash, newline, CR, tab), runs and
    borders of escapes, unicode, and URI-shaped strings that must stay
    literals when typed.  One Spark batch for all examples."""
    import random
    rng = random.Random(4217)
    alphabet = list('ab"\\\n\r\t é中:<>') + ["\\n", '\\"', "\\\\"]
    cases = {'"', "\\", "\\\\", '\\"', "a\\", "\\a", '"quoted"',
             "line\nbreak\r\t", "tab\tend\t", "\\n not a newline",
             "ends with backslash\\", "é中文", ""}
    while len(cases) < 120:
        cases.add("".join(rng.choice(alphabet)
                          for _ in range(rng.randint(1, 12))))
    rows = [(f"urn:s{i}", "urn:prop:v", c,
             "http://www.w3.org/2001/XMLSchema#string", "urn:g")
            for i, c in enumerate(sorted(cases))]
    t = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "obj_datatype string, graph string")
    back = parse_lines(serialize_lines(t, fmt="nquads"))
    got = {r.subject: r.object for r in back.collect()}
    want = {s: o for s, _, o, _, _ in rows}
    assert got == want


def test_nt_literal_escapes_decode_like_terms_unescape(spark):
    """parse_lines decodes every ECHAR and UCHAR of a literal body the
    way io/terms.py's ``unescape`` does — surrogate pairs join, an
    escaped backslash stays literal — and drops a line with any other
    escape; the decoded table round-trips through serialize_lines.  One
    Spark batch for all examples."""
    import random

    from kgraphmemory_spark.io.terms import unescape
    rng = random.Random(1717)
    atoms = [r"\t", r"\b", r"\n", r"\r", r"\f", r'\"', r"\'", r"\\",
             r"\u00e9", r"\u0041", r"\uD83D\uDE00", r"\U0001F600",
             r"\U0010FFFF", r"\\u0041", "u0041", "a", "é", " ", "😀"]
    bodies = sorted({"".join(rng.choice(atoms)
                             for _ in range(rng.randint(1, 8)))
                     for _ in range(150)} | {r"\\u0041"})
    bad = [r"\q", r"a\d+", r"\uD800", r"\U00110000", r"\u00e"]
    for b in bad:
        with pytest.raises(ValueError, match="invalid string escape"):
            unescape(b)
    lines = ([(f'<urn:s{i}> <urn:p> "{b}" .',) for i, b in enumerate(bodies)]
             + [(f'<urn:bad> <urn:p> "{b}" .',) for b in bad])
    back = parse_lines(spark.createDataFrame(lines, "value string"))
    got = {r.subject: r.object for r in back.collect()}
    assert got == {f"urn:s{i}": unescape(b) for i, b in enumerate(bodies)}
    # an escaped backslash stays literal: six characters, not "A"
    i = bodies.index(r"\\u0041")
    assert got[f"urn:s{i}"] == r"\u0041"
    again = parse_lines(serialize_lines(back))
    assert {r.subject: r.object for r in again.collect()} == got


def test_nt_roundtrip_exact(triples):
    for fmt in ("ntriples", "nquads"):
        lines = serialize_lines(triples, fmt=fmt)
        back = parse_lines(lines, default_graph="urn:g")
        want = {(r.subject, r.predicate, r.object, r.obj_datatype, "urn:g")
                for r in triples.collect()}
        got = {(r.subject, r.predicate, r.object, r.obj_datatype, r.graph)
               for r in back.collect()}
        assert got == want, fmt


def test_parse_external_forms(spark):
    lines = spark.createDataFrame(
        [
            ('<http://a> <http://p> <http://b> .',),
            ('<http://a> <http://p> "plain lit" .',),
            ('<http://a> <http://p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',),
            ('<http://a> <http://p> "bonjour"@fr .',),
            ('_:b1 <http://p> "esc \\"q\\" \\\\ \\n end" .',),
            ('<http://a> <http://p> <http://b> <http://g> .',),  # nquad
            ('# comment line',),
            ('',),
            ('malformed garbage',),
        ],
        "value string",
    )
    rows = parse_lines(lines, default_graph="urn:default").collect()
    assert len(rows) == 6
    by_obj = {r.object: r for r in rows}
    assert by_obj["42"].obj_datatype.endswith("integer")
    assert by_obj["bonjour"].obj_lang == "fr"
    assert 'esc "q" \\ \n end' in by_obj
    blank = [r for r in rows if r.subject == "_:b1"]
    assert len(blank) == 1
    graphs = {r.graph for r in rows}
    assert graphs == {"urn:default", "http://g"}


def test_file_roundtrip(spark, triples, tmp_path):
    path = str(tmp_path / "dump_nq")
    write_ntriples(triples, path, fmt="nquads")
    back = load_ntriples(spark, path)
    assert back.count() == triples.count()
    assert (back.select("subject", "predicate", "object").exceptAll(
        triples.select("subject", "predicate", "object")).count() == 0)


def test_apply_update_delete_insert(spark, triples):
    """SPARQL UPDATE analog (kgraph_rdf_db.py:342-357): pattern delete +
    ground-triple insert in one transform."""
    from kgraphmemory_spark.operators.store import apply_update
    ins = spark.createDataFrame(
        [("urn:e9", "urn:prop:name", "gamma", None, None, "urn:g")],
        "subject string, predicate string, object string, "
        "obj_datatype string, obj_lang string, graph string")
    out = apply_update(triples,
                       delete={"s": "urn:e1", "p": "urn:prop:name"},
                       insert=ins)
    assert out.where("subject = 'urn:e1' AND predicate = 'urn:prop:name'") \
              .count() == 0
    assert out.where("subject = 'urn:e9'").count() == 1
    # untouched rows survive; no-op update is identity
    assert out.count() == triples.count()  # -1 deleted +1 inserted
    assert apply_update(triples).count() == triples.count()


def test_update_object_preserves_null_subject_rows(spark):
    """update_object's delete arm is null-safe like remove_triples: a
    NULL-subject row never matches the uri and must survive."""
    from kgraphmemory_spark.operators.store import update_object
    t = spark.createDataFrame(
        [("urn:a", "urn:p", "old", None, None, None),
         (None, "urn:p", "keep", None, None, None)],
        "subject string, predicate string, object string, "
        "obj_datatype string, obj_lang string, graph string")
    new = spark.createDataFrame(
        [("urn:a", "urn:p", "new", None, None, None)],
        "subject string, predicate string, object string, "
        "obj_datatype string, obj_lang string, graph string")
    got = {(r.subject, r.object) for r in update_object(t, new, "urn:a").collect()}
    assert got == {("urn:a", "new"), (None, "keep")}
