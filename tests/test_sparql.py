"""SPARQL front-end (sparql.py) — the reference's own query strings
(wordnet_batch_load_test.py:95-313 battery, docs/sparql-examples.md
constructs) compiled to DataFrame plans, checked against independently
computed expectations and against the pipeline's materialized tables."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.sparql import SparqlEngine

KG = "http://vital.ai/ontology/haley-ai-kg#"
VC = "http://vital.ai/ontology/vital-core#"
RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_DT = XSD + "dateTime"

P = ("PREFIX kg: <http://vital.ai/ontology/haley-ai-kg#>\n"
     "PREFIX vital-core: <http://vital.ai/ontology/vital-core#>\n")

SCHEMA = ("subject string, predicate string, object string, "
          "obj_datatype string, obj_lang string, graph string")


def _rows():
    rows = []
    for i in (1, 2):
        f = f"urn:frame{i}"
        ftype = "urn:Edge_WordnetHyponym" if i == 1 else "urn:Edge_Other"
        rows += [(f, RT, KG + "KGFrame", None, None, "g"),
                 (f, KG + "hasKGFrameType", ftype, None, None, "g")]
        for role, ent in (("Source", f"urn:ent{i}a"),
                          ("Destination", f"urn:ent{i}b")):
            e, sl = f"urn:edge{i}{role}", f"urn:slot{i}{role}"
            rows += [(e, RT, KG + "Edge_hasKGSlot", None, None, "g"),
                     (e, VC + "hasEdgeSource", f, None, None, "g"),
                     (e, VC + "hasEdgeDestination", sl, None, None, "g"),
                     (sl, RT, KG + "KGEntitySlot", None, None, "g"),
                     (sl, KG + "hasKGSlotType", f"urn:has{role}Entity",
                      None, None, "g"),
                     (sl, KG + "hasEntitySlotValue", ent, None, None, "g")]
    rows.append(("urn:frame1", KG + "hasKGFrameTypeDescription",
                 "hyponym frames", None, None, "g"))
    for i, (cls, content, ts) in enumerate([
            ("KGChatUserMessage", "hello bot", "2024-01-01T10:00:00"),
            ("KGChatBotMessage", "hello user", "2024-01-01T10:00:05"),
            ("KGChatUserMessage", "what is Tech?", "2024-01-01T10:01:00")]):
        m = f"urn:msg{i}"
        rows += [(m, RT, KG + "KGChatMessage", None, None, "chat"),
                 (m, RT, KG + cls, None, None, "chat"),
                 (m, KG + "hasKGChatMessageContent", content, None, None,
                  "chat"),
                 (m, VC + "hasTimestamp", ts, XSD_DT, None, "chat")]
    return rows


@pytest.fixture(scope="module")
def eng(spark):
    return SparqlEngine(spark.createDataFrame(_rows(), SCHEMA))


# ------------------------- the WordNet battery (reference :95-313) ----

def test_wordnet_battery_counts(eng):
    q = eng.query("SELECT (COUNT(*) AS ?count) WHERE { ?s ?p ?o . }")
    assert q.collect()[0]["count"] == len(_rows())
    q = eng.query(P + "SELECT (COUNT(?frame) AS ?count) WHERE { "
                      "?frame a kg:KGFrame . }")
    assert q.collect()[0]["count"] == 2
    q = eng.query(P + """SELECT (COUNT(?frame) AS ?count) WHERE {
        ?frame a kg:KGFrame .
        ?frame kg:hasKGFrameType <urn:Edge_WordnetHyponym> . }""")
    assert q.collect()[0]["count"] == 1
    q = eng.query(P + """SELECT (COUNT(DISTINCT ?entity) AS ?count) WHERE {
        ?slot a kg:KGEntitySlot .
        ?slot kg:hasEntitySlotValue ?entity . }""")
    assert q.collect()[0]["count"] == 4


def test_wordnet_optional_and_groupby(eng):
    rows = eng.query(P + """SELECT ?frame ?frameType ?frameDescription
        WHERE {
            ?frame a kg:KGFrame .
            ?frame kg:hasKGFrameType ?frameType .
            OPTIONAL { ?frame kg:hasKGFrameTypeDescription
                       ?frameDescription }
        } LIMIT 5""").collect()
    d = {r["frame"]: r["frameDescription"] for r in rows}
    assert d == {"urn:frame1": "hyponym frames", "urn:frame2": None}
    rows = eng.query(P + """SELECT ?slotType (COUNT(?slot) AS ?count)
        WHERE { ?slot a kg:KGEntitySlot .
                ?slot kg:hasKGSlotType ?slotType . }
        GROUP BY ?slotType""").collect()
    assert {(r["slotType"], r["count"]) for r in rows} == {
        ("urn:hasSourceEntity", 2), ("urn:hasDestinationEntity", 2)}


def test_wordnet_five_way_join_and_construct(eng):
    rows = eng.query(P + """SELECT ?frame ?slot ?slotType ?entity WHERE {
        ?frame a kg:KGFrame .
        ?edge a kg:Edge_hasKGSlot .
        ?edge vital-core:hasEdgeSource ?frame .
        ?edge vital-core:hasEdgeDestination ?slot .
        ?slot a kg:KGEntitySlot .
        ?slot kg:hasKGSlotType ?slotType .
        ?slot kg:hasEntitySlotValue ?entity . } LIMIT 10""").collect()
    assert len(rows) == 4
    got = eng.construct(P + """CONSTRUCT {
            ?sourceEntity <urn:hyponymOf> ?destEntity .
            ?frame <urn:connectsEntities> ?sourceEntity .
            ?frame <urn:connectsEntities> ?destEntity . }
        WHERE {
            ?frame a kg:KGFrame .
            ?frame kg:hasKGFrameType <urn:Edge_WordnetHyponym> .
            ?sourceEdge a kg:Edge_hasKGSlot .
            ?sourceEdge vital-core:hasEdgeSource ?frame .
            ?sourceEdge vital-core:hasEdgeDestination ?sourceSlot .
            ?sourceSlot a kg:KGEntitySlot .
            ?sourceSlot kg:hasKGSlotType <urn:hasSourceEntity> .
            ?sourceSlot kg:hasEntitySlotValue ?sourceEntity .
            ?destEdge a kg:Edge_hasKGSlot .
            ?destEdge vital-core:hasEdgeSource ?frame .
            ?destEdge vital-core:hasEdgeDestination ?destSlot .
            ?destSlot a kg:KGEntitySlot .
            ?destSlot kg:hasKGSlotType <urn:hasDestinationEntity> .
            ?destSlot kg:hasEntitySlotValue ?destEntity . }""")
    assert {tuple(r) for r in got.collect()} == {
        ("urn:ent1a", "urn:hyponymOf", "urn:ent1b"),
        ("urn:frame1", "urn:connectsEntities", "urn:ent1a"),
        ("urn:frame1", "urn:connectsEntities", "urn:ent1b")}


# ------------------- docs/sparql-examples.md constructs ----------------

def test_semicolon_abbreviation_and_order(eng):
    rows = eng.query(P + """SELECT ?message ?content ?timestamp WHERE {
        ?message a kg:KGChatMessage ;
                 kg:hasKGChatMessageContent ?content ;
                 vital-core:hasTimestamp ?timestamp .
    } ORDER BY ?timestamp""").collect()
    assert [r["message"] for r in rows] == ["urn:msg0", "urn:msg1",
                                            "urn:msg2"]


def test_union_with_bind(eng):
    rows = eng.query(P + """SELECT ?message ?content ?messageType WHERE {
        { ?message a kg:KGChatUserMessage ;
                   kg:hasKGChatMessageContent ?content .
          BIND("user" AS ?messageType) }
        UNION
        { ?message a kg:KGChatBotMessage ;
                   kg:hasKGChatMessageContent ?content .
          BIND("bot" AS ?messageType) }
    }""").collect()
    assert {(r["message"], r["messageType"]) for r in rows} == {
        ("urn:msg0", "user"), ("urn:msg1", "bot"), ("urn:msg2", "user")}


def test_bind_if_exists(eng):
    got = eng.construct(P + """CONSTRUCT {
            ?message kg:hasSimpleType ?simpleType . }
        WHERE {
            ?message a kg:KGChatMessage ;
                     kg:hasKGChatMessageContent ?content .
            BIND(IF(EXISTS{?message a kg:KGChatUserMessage},
                    "user", "bot") AS ?simpleType) }""").collect()
    assert {(r["subject"], r["object"]) for r in got} == {
        ("urn:msg0", "user"), ("urn:msg1", "bot"), ("urn:msg2", "user")}


def test_filter_battery(eng):
    q = P + """SELECT ?a ?b WHERE {
        ?a a kg:KGFrame . ?b a kg:KGFrame . FILTER(?a != ?b) }"""
    assert eng.query(q).count() == 2
    rows = eng.query(P + """SELECT ?m WHERE {
        ?m vital-core:hasTimestamp ?t .
        FILTER(?t >= "2024-01-01T10:00:05"^^<%s> &&
               ?t < "2024-01-01T11:00:00"^^<%s>) }"""
        % (XSD_DT, XSD_DT)).collect()
    assert sorted(r["m"] for r in rows) == ["urn:msg1", "urn:msg2"]
    rows = eng.query(P + """SELECT ?c WHERE {
        ?m kg:hasKGChatMessageContent ?c .
        FILTER(CONTAINS(LCASE(?c), "tech") || STRSTARTS(?c, "hello bo"))
        }""").collect()
    assert sorted(r["c"] for r in rows) == ["hello bot", "what is Tech?"]
    rows = eng.query(P + """SELECT ?c WHERE {
        ?m kg:hasKGChatMessageContent ?c . FILTER(STRLEN(?c) > 9) }
        """).collect()
    assert sorted(r["c"] for r in rows) == ["hello user", "what is Tech?"]
    rows = eng.query(P + """SELECT ?m WHERE {
        ?m a kg:KGChatMessage .
        FILTER NOT EXISTS { ?m a kg:KGChatBotMessage } }""").collect()
    assert sorted(r["m"] for r in rows) == ["urn:msg0", "urn:msg2"]
    rows = eng.query(P + """SELECT ?m WHERE {
        ?m kg:hasKGChatMessageContent ?c .
        FILTER(?c IN ("hello bot", "nope")) }""").collect()
    assert [r["m"] for r in rows] == ["urn:msg0"]
    rows = eng.query(P + """SELECT ?c WHERE {
        ?m kg:hasKGChatMessageContent ?c .
        FILTER(REGEX(?c, "^HELLO", "i")) }""").collect()
    assert sorted(r["c"] for r in rows) == ["hello bot", "hello user"]


def test_graph_pattern_and_numeric_compare(spark):
    rows = [("urn:a", "urn:p", "5", "http://www.w3.org/2001/XMLSchema#integer",
             None, "g1"),
            ("urn:b", "urn:p", "40", "http://www.w3.org/2001/XMLSchema#integer",
             None, "g2")]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    got = eng2.query("""SELECT ?s WHERE {
        GRAPH <g2> { ?s <urn:p> ?v . } }""").collect()
    assert [r["s"] for r in got] == ["urn:b"]
    got = eng2.query("""SELECT ?s ?g WHERE {
        GRAPH ?g { ?s <urn:p> ?v . } FILTER(?v > 7) }""").collect()
    # numeric comparison: "5" > 7 is false, "40" > 7 true (lexical would
    # invert both)
    assert [(r["s"], r["g"]) for r in got] == [("urn:b", "g2")]


def test_aggregates_and_modifiers(eng):
    rows = eng.query(P + """SELECT ?type (COUNT(*) AS ?count) WHERE {
        ?m a ?type . } GROUP BY ?type
        ORDER BY DESC(?count) ?type LIMIT 2""").collect()
    assert rows[0]["count"] >= rows[1]["count"]
    r = eng.query(P + """SELECT (GROUP_CONCAT(DISTINCT ?c; SEPARATOR=" | ")
        AS ?cs) WHERE { ?m kg:hasKGChatMessageContent ?c . }""").collect()
    assert r[0]["cs"] == "hello bot | hello user | what is Tech?"
    r = eng.query(P + """SELECT (MAX(?t) AS ?last) WHERE {
        ?m vital-core:hasTimestamp ?t . }""").collect()
    # MAX over ISO dateTime strings orders lexically (the store's
    # canonical form) and returns the winning lexical form
    assert r[0]["last"] == "2024-01-01T10:01:00"
    offs = eng.query(P + """SELECT ?m WHERE {
        ?m a kg:KGChatMessage . } ORDER BY ?m LIMIT 2 OFFSET 1""").collect()
    assert [x["m"] for x in offs] == ["urn:msg1", "urn:msg2"]


def test_sum_avg_error_propagation(spark):
    """SPARQL 1.1 §18.5.1.5: a bound non-numeric input to SUM/AVG is a
    type error and errors propagate — that group's aggregate is unbound
    (pyoxigraph agrees); all-numeric groups aggregate normally."""
    rows = [("urn:s1", "urn:p0", "alpha", None, None, "g"),
            ("urn:s1", "urn:p0", "3.5",
             "http://www.w3.org/2001/XMLSchema#decimal", None, "g"),
            ("urn:s2", "urn:p0", "2",
             "http://www.w3.org/2001/XMLSchema#integer", None, "g"),
            ("urn:s2", "urn:p0", "0.5",
             "http://www.w3.org/2001/XMLSchema#decimal", None, "g")]
    e = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    got = {r["a"]: r["agg"] for r in e.query(
        "SELECT ?a (SUM(?x) AS ?agg) WHERE { ?a <urn:p0> ?x } "
        "GROUP BY ?a").collect()}
    assert got == {"urn:s1": None, "urn:s2": 2.5}
    got = {r["a"]: r["agg"] for r in e.query(
        "SELECT ?a (AVG(?x) AS ?agg) WHERE { ?a <urn:p0> ?x } "
        "GROUP BY ?a").collect()}
    assert got == {"urn:s1": None, "urn:s2": 1.25}


def test_ask(eng):
    assert eng.ask(P + "ASK { ?f a kg:KGFrame }")
    assert not eng.ask("ASK { <urn:nope> ?p ?o }")
    assert eng.ask(P + """ASK { ?f a kg:KGFrame .
        FILTER EXISTS { ?f kg:hasKGFrameTypeDescription ?d } }""")


def test_describe(eng):
    # ground IRI, no WHERE: every stored triple of the resource
    rows = eng.describe("DESCRIBE <urn:frame1>").collect()
    assert {r["predicate"] for r in rows} == {
        RT, KG + "hasKGFrameType", KG + "hasKGFrameTypeDescription"}
    assert all(r["subject"] == "urn:frame1" for r in rows)
    # variable bound by WHERE; ORDER BY/LIMIT bound the RESOURCE set
    rows = eng.describe(P + """DESCRIBE ?f WHERE { ?f a kg:KGFrame . }
        ORDER BY ?f LIMIT 1""").collect()
    assert {r["subject"] for r in rows} == {"urn:frame1"}
    assert len(rows) == 3
    # mixed ground IRI + variable, deduplicated resource set
    rows = eng.describe(P + """DESCRIBE <urn:frame1> ?f
        WHERE { ?f a kg:KGFrame . }""").collect()
    assert {r["subject"] for r in rows} == {"urn:frame1", "urn:frame2"}
    # DESCRIBE * describes every bound variable
    rows = eng.describe(P + """DESCRIBE * WHERE {
        ?f kg:hasKGFrameType ?ft . FILTER(?f = <urn:frame2>) }""").collect()
    assert {r["subject"] for r in rows} == {"urn:frame2"}  # ?ft not stored
    # non-resource objects (plain literals) describe to nothing
    assert eng.describe("DESCRIBE <urn:not-there>").count() == 0


def test_describe_errors(eng):
    with pytest.raises(ValueError, match="needs WHERE"):
        eng.describe("DESCRIBE ?f")
    with pytest.raises(ValueError, match="not bound"):
        eng.describe("DESCRIBE ?x WHERE { ?f ?p ?o . }")
    with pytest.raises(ValueError, match="needs \\* or at least"):
        eng.describe("DESCRIBE WHERE { ?f ?p ?o . }")
    with pytest.raises(ValueError, match="got a describe"):
        eng.query("DESCRIBE <urn:frame1>")


def test_values_inline_data(eng):
    rows = eng.query(P + """SELECT ?frame ?ft WHERE {
        VALUES ?ft { <urn:Edge_WordnetHyponym> <urn:Edge_Nope> }
        ?frame kg:hasKGFrameType ?ft . }""").collect()
    assert [(r["frame"], r["ft"]) for r in rows] == \
        [("urn:frame1", "urn:Edge_WordnetHyponym")]
    # multi-var form: (?var ?var) rows join as a unit
    rows = eng.query(P + """SELECT ?frame WHERE {
        VALUES (?frame ?ft) { (<urn:frame1> <urn:Edge_WordnetHyponym>)
                              (<urn:frame2> <urn:Edge_WordnetHyponym>) }
        ?frame kg:hasKGFrameType ?ft . }""").collect()
    assert [r["frame"] for r in rows] == ["urn:frame1"]
    # UNDEF is supported since round 4 — an all-UNDEF block is a no-op
    # wildcard join (see test_values_undef_* below)
    n = eng.query(
        "SELECT ?s WHERE { VALUES ?s { UNDEF } ?s ?p ?o }").count()
    assert n == eng.query("SELECT ?s WHERE { ?s ?p ?o }").count()


def test_minus(eng):
    # frames that do NOT have the hyponym type — MINUS twin of j7
    rows = eng.query(P + """SELECT ?frame WHERE {
        ?frame a kg:KGFrame .
        MINUS { ?frame kg:hasKGFrameType <urn:Edge_WordnetHyponym> . } }"""
                     ).collect()
    assert [r["frame"] for r in rows] == ["urn:frame2"]
    # disjoint domains: MINUS removes nothing (SPARQL spec)
    n = eng.query(P + """SELECT ?frame WHERE {
        ?frame a kg:KGFrame .
        MINUS { ?x kg:hasKGSlotType <urn:hasSourceEntity> . } }""").count()
    assert n == 2


def test_property_path_sequence_inverse_alternative(eng):
    # frame → (inverse edge-source) edge → destination slot → entity value
    rows = eng.query(P + """SELECT DISTINCT ?ent WHERE {
        <urn:frame1> ^vital-core:hasEdgeSource/vital-core:hasEdgeDestination/kg:hasEntitySlotValue ?ent .
      } ORDER BY ?ent""").collect()
    assert [r["ent"] for r in rows] == ["urn:ent1a", "urn:ent1b"]
    # alternative keeps bag multiplicity: 4 edges × 2 roles
    n = eng.query(P + """SELECT ?x WHERE {
        ?e vital-core:hasEdgeSource|vital-core:hasEdgeDestination ?x . }"""
                  ).count()
    assert n == 8


def test_property_path_closures(spark):
    sub = "urn:sub"
    rows = [("urn:A", sub, "urn:B", None, None, "g"),
            ("urn:B", sub, "urn:C", None, None, "g"),
            ("urn:C", sub, "urn:D", None, None, "g"),
            ("urn:X", sub, "urn:Y", None, None, "g")]
    e2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    q = f"SELECT ?o WHERE {{ <urn:A> <{sub}>+ ?o }} ORDER BY ?o"
    assert [r["o"] for r in e2.query(q).collect()] == \
        ["urn:B", "urn:C", "urn:D"]
    q = f"SELECT ?o WHERE {{ <urn:A> <{sub}>* ?o }} ORDER BY ?o"
    assert [r["o"] for r in e2.query(q).collect()] == \
        ["urn:A", "urn:B", "urn:C", "urn:D"]
    q = f"SELECT ?o WHERE {{ <urn:A> <{sub}>? ?o }} ORDER BY ?o"
    assert [r["o"] for r in e2.query(q).collect()] == ["urn:A", "urn:B"]
    # grouped + reversed endpoints: every ancestor of D
    q = f"SELECT ?s WHERE {{ ?s (<{sub}>)+ <urn:D> }} ORDER BY ?s"
    assert [r["s"] for r in e2.query(q).collect()] == \
        ["urn:A", "urn:B", "urn:C"]
    # cycles terminate: 4-cycle closure = 16 ordered pairs (incl. self)
    e3 = SparqlEngine(spark.createDataFrame(
        rows + [("urn:D", sub, "urn:A", None, None, "g")], SCHEMA))
    assert e3.query(f"SELECT ?s ?o WHERE {{ ?s <{sub}>+ ?o }}").count() == 17
    # negated property sets: all predicates here are <urn:sub>
    assert e2.query(
        "SELECT ?s ?o WHERE { ?s !<urn:other> ?o }").count() == 4
    assert e2.query(f"SELECT ?s ?o WHERE {{ ?s !<{sub}> ?o }}").count() == 0
    got = e2.query(f"""SELECT ?s WHERE {{
        ?s !(<{sub}>|^<urn:other>) <urn:A> }} ORDER BY ?s""").collect()
    assert [r["s"] for r in got] == ["urn:B"]  # only the inverse arm fires


def test_having(eng):
    # slot types with more than one slot (each role type has 2 slots)
    rows = eng.query(P + """SELECT ?st (COUNT(*) AS ?n) WHERE {
        ?slot kg:hasKGSlotType ?st . }
        GROUP BY ?st HAVING (COUNT(*) > 1) ORDER BY ?st""").collect()
    assert [(r["st"], r["n"]) for r in rows] == \
        [("urn:hasDestinationEntity", 2), ("urn:hasSourceEntity", 2)]
    # constraint over a projected aggregate + a grouped var together
    rows = eng.query(P + """SELECT ?st (COUNT(*) AS ?n) WHERE {
        ?slot kg:hasKGSlotType ?st . }
        GROUP BY ?st
        HAVING (COUNT(*) > 1 && CONTAINS(?st, "Source"))""").collect()
    assert [(r["st"], r["n"]) for r in rows] == [("urn:hasSourceEntity", 2)]
    with pytest.raises(ValueError, match="HAVING"):
        eng.query("SELECT ?s WHERE { ?s ?p ?o } HAVING (?s > 1)")


def test_subquery(eng):
    # aggregate subquery joined to the outer pattern on ?frame
    rows = eng.query(P + """SELECT ?frame ?cnt WHERE {
        ?frame a kg:KGFrame .
        { SELECT ?frame (COUNT(*) AS ?cnt) WHERE {
            ?e vital-core:hasEdgeSource ?frame . } GROUP BY ?frame }
      } ORDER BY ?frame""").collect()
    assert [(r["frame"], r["cnt"]) for r in rows] == \
        [("urn:frame1", 2), ("urn:frame2", 2)]
    # LIMIT inside the subquery bounds the outer join
    rows = eng.query(P + """SELECT ?frame ?ft WHERE {
        { SELECT ?frame WHERE { ?frame a kg:KGFrame . }
          ORDER BY ?frame LIMIT 1 }
        ?frame kg:hasKGFrameType ?ft .
      }""").collect()
    assert [(r["frame"], r["ft"]) for r in rows] == \
        [("urn:frame1", "urn:Edge_WordnetHyponym")]


def test_unsupported_constructs_raise(eng):
    with pytest.raises(ValueError, match="IRIs"):
        eng.query("SELECT ?s WHERE { ?s !(<urn:a>|?p) ?o }")
    with pytest.raises(ValueError, match="paths"):
        eng.query("CONSTRUCT { ?s <urn:a>/<urn:b> ?o } "
                  "WHERE { ?s <urn:a> ?o }")
    with pytest.raises(ValueError, match="undeclared prefix"):
        eng.query("SELECT ?s WHERE { ?s kg:x ?o }")
    with pytest.raises(ValueError, match="sparql_query|form|query"):
        eng.query(P + "ASK { ?s ?p ?o }")


# ----------------- against the pipeline's materialized graph ----------

def test_engine_over_pipeline_triples(spark):
    """The front-end agrees with direct DataFrame algebra on the real
    materialized triple table (same relation both ways)."""
    from kgraphmemory_spark import datagen
    from kgraphmemory_spark.pipeline import run_pipeline
    from kgraphmemory_spark.semantics import (
        EDGE_DESTINATION,
        EDGE_SOURCE,
        HAS_NAME,
        RDF_TYPE,
    )

    rows = datagen.generate_pages_rows(30, seed=11)
    kg = run_pipeline(spark, spark.createDataFrame(
        rows, schema=datagen.PAGE_SCHEMA))
    eng = SparqlEngine(kg.triples)

    # entity degree: reified frames, source or destination — UNION query
    q = eng.query(f"""SELECT ?entity (COUNT(*) AS ?deg) WHERE {{
        {{ ?frame <{EDGE_SOURCE}> ?entity . }}
        UNION
        {{ ?frame <{EDGE_DESTINATION}> ?entity . }}
    }} GROUP BY ?entity ORDER BY DESC(?deg) ?entity""")
    twin = (
        kg.triples.where(F.col("predicate").isin([EDGE_SOURCE,
                                                  EDGE_DESTINATION]))
        .groupBy(F.col("object").alias("entity"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    assert {tuple(r) for r in q.collect()} == \
        {tuple(r) for r in twin.collect()}

    # frame reconstruct as CONSTRUCT with a variable predicate template
    got = eng.construct(f"""CONSTRUCT {{ ?src ?ftype ?dst . }} WHERE {{
        ?frame a ?ftype .
        ?frame <{EDGE_SOURCE}> ?src .
        ?frame <{EDGE_DESTINATION}> ?dst .
        FILTER(STRSTARTS(?ftype, "urn:frame:")) }}""")
    twin2 = (
        kg.triples.where(F.col("predicate") == RDF_TYPE)
        .where(F.col("object").startswith("urn:frame:"))
        .select(F.col("subject").alias("f"), F.col("object").alias("ftype"))
        .join(kg.triples.where(F.col("predicate") == EDGE_SOURCE)
              .select(F.col("subject").alias("f"),
                      F.col("object").alias("src")), "f")
        .join(kg.triples.where(F.col("predicate") == EDGE_DESTINATION)
              .select(F.col("subject").alias("f"),
                      F.col("object").alias("dst")), "f")
        .select("src", "ftype", "dst").distinct()
    )
    assert {tuple(r) for r in got.collect()} == \
        {tuple(r) for r in twin2.collect()}

    # names exist for every entity mentioned by a frame (ASK + semi)
    assert eng.ask(f"""ASK {{ ?f <{EDGE_SOURCE}> ?e .
                           ?e <{HAS_NAME}> ?n . }}""")


def test_disjoint_optional_keeps_left_rows(eng):
    """OPTIONAL with no shared variables must not drop solutions even
    when its pattern is empty."""
    rows = eng.query(P + """SELECT ?f ?x WHERE {
        ?f a kg:KGFrame .
        OPTIONAL { <urn:nothing> <urn:never> ?x } }""").collect()
    assert sorted(r["f"] for r in rows) == ["urn:frame1", "urn:frame2"]
    assert all(r["x"] is None for r in rows)


# ----------------------------- SPARQL UPDATE ---------------------------

def test_update_insert_and_delete_data(spark):
    rows = [("urn:a", "urn:p", "keep", None, None, "g1"),
            ("urn:a", "urn:p", "5", "http://www.w3.org/2001/XMLSchema#integer",
             None, "g1")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    out = eng.update("""
        INSERT DATA { <urn:b> <urn:q> "new" .
                      GRAPH <g2> { <urn:c> <urn:q> <urn:d> } } ;
        DELETE DATA { <urn:a> <urn:p> "keep" }""")
    got = {(r["subject"], r["object"], r["graph"]) for r in out.collect()}
    assert ("urn:b", "new", None) in got
    assert ("urn:c", "urn:d", "g2") in got
    assert ("urn:a", "keep", "g1") not in got
    # the typed literal survived: plain-literal delete is null-safe on
    # datatype, so it must NOT match "5"^^xsd:integer
    assert ("urn:a", "5", "g1") in got
    # ... and a typed delete removes exactly it
    out2 = eng.update("""DELETE DATA { <urn:a> <urn:p>
        "5"^^<http://www.w3.org/2001/XMLSchema#integer> }""")
    assert [(r["subject"], r["object"]) for r in out2.collect()] == [
        ("urn:a", "keep")]


def test_update_delete_where_and_modify(spark):
    rows = [("urn:e1", RT, KG + "KGEntity", None, None, "g"),
            ("urn:e1", VC + "hasName", "Old", None, None, "g"),
            ("urn:e2", RT, KG + "KGEntity", None, None, "g"),
            ("urn:e2", VC + "hasName", "Other", None, None, "g")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    # DELETE WHERE: drop every triple about ?s named "Old" — both
    # patterns of the WHERE act as the delete template
    out = eng.update(P + """DELETE WHERE {
        ?s vital-core:hasName "Old" . ?s a kg:KGEntity . }""")
    got = {(r["subject"], r["predicate"]) for r in out.collect()}
    assert got == {("urn:e2", RT), ("urn:e2", VC + "hasName")}
    # DELETE/INSERT/WHERE: rename — the reference's property-update idiom
    out2 = eng.update(P + """
        DELETE { ?s vital-core:hasName "Other" }
        INSERT { ?s vital-core:hasName "Renamed" }
        WHERE  { ?s vital-core:hasName "Other" . }""")
    names = {(r["subject"], r["object"]) for r in out2.collect()
             if r["predicate"] == VC + "hasName"}
    assert ("urn:e2", "Renamed") in names
    assert ("urn:e2", "Other") not in names


def test_dataset_from_clauses(spark):
    """FROM / FROM NAMED (§13.2): the default graph is the MERGE of the
    FROM graphs; GRAPH patterns see only the FROM NAMED set; each side is
    empty when its clause is absent."""
    rows = [("urn:a", "urn:p", "1", None, None, "g1"),
            ("urn:b", "urn:p", "2", None, None, "g2"),
            ("urn:c", "urn:p", "3", None, None, None),
            ("urn:a", "urn:q", "urn:b", None, None, "g1")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))

    def t(q):
        return sorted(tuple(r) for r in eng.query(q).collect())

    assert t("SELECT ?s FROM <g1> WHERE { ?s <urn:p> ?o }") == [("urn:a",)]
    assert t("SELECT ?s FROM <g1> FROM <g2> WHERE { ?s <urn:p> ?o }") == [
        ("urn:a",), ("urn:b",)]
    # FROM NAMED only → default graph empty; GRAPH restricted to the set
    assert t("SELECT ?s FROM NAMED <g1> WHERE { ?s <urn:p> ?o }") == []
    assert t("SELECT ?g ?s FROM NAMED <g2> WHERE "
             "{ GRAPH ?g { ?s <urn:p> ?o } }") == [("g2", "urn:b")]
    assert t("SELECT ?s FROM NAMED <g2> WHERE "
             "{ GRAPH <g1> { ?s <urn:p> ?o } }") == []
    # property path under a FROM dataset
    assert t("SELECT ?s ?o FROM <g1> WHERE { ?s <urn:q>+ ?o }") == [
        ("urn:a", "urn:b")]
    # no dataset clause keeps the engine's union-default convention
    assert t("SELECT ?s WHERE { ?s <urn:p> ?o }") == [
        ("urn:a",), ("urn:b",), ("urn:c",)]
    # ASK / CONSTRUCT-shorthand / DESCRIBE all accept dataset clauses
    assert eng.ask("ASK FROM <g1> { ?s <urn:p> ?o }")
    assert not eng.ask("ASK FROM NAMED <g1> { ?s <urn:p> ?o }")
    got = {tuple(r) for r in eng.construct(
        "CONSTRUCT FROM <g2> WHERE { ?s <urn:p> ?o }").collect()}
    assert got == {("urn:b", "urn:p", "2")}
    desc = {(r["subject"], r["graph"]) for r in eng.describe(
        "DESCRIBE <urn:a> FROM <g1>").collect()}
    assert desc == {("urn:a", "g1")}
    with pytest.raises(ValueError, match="subquery"):
        eng.query("SELECT ?s WHERE { { SELECT ?s FROM <g1> "
                  "WHERE { ?s <urn:p> ?o } } }")


def _gm_eng(spark):
    rows = [("urn:a", "urn:p", "1", None, None, None),       # default graph
            ("urn:b", "urn:p", "2", None, None, "g1"),
            ("urn:c", "urn:q", "3", None, None, "g1"),
            ("urn:d", "urn:p", "4", None, None, "g2")]
    return SparqlEngine(spark.createDataFrame(rows, SCHEMA))


def test_update_clear_drop(spark):
    eng = _gm_eng(spark)
    got = {(r["subject"], r["graph"])
           for r in eng.update("CLEAR GRAPH <g1>").collect()}
    assert got == {("urn:a", None), ("urn:d", "g2")}
    got = {r["subject"] for r in eng.update("CLEAR DEFAULT").collect()}
    assert got == {"urn:b", "urn:c", "urn:d"}
    got = {r["subject"] for r in eng.update("CLEAR NAMED").collect()}
    assert got == {"urn:a"}
    assert eng.update("CLEAR ALL").count() == 0
    # DROP ≡ CLEAR on a quad table (graphs exist implicitly); SILENT ok
    got = {r["subject"] for r in eng.update("DROP SILENT GRAPH <g2>").collect()}
    assert got == {"urn:a", "urn:b", "urn:c"}


def test_update_add_move_copy(spark):
    eng = _gm_eng(spark)
    # ADD: set-union into dst; src untouched; src == dst is a no-op
    out = eng.update("ADD <g1> TO <g2>")
    got = {(r["subject"], r["graph"]) for r in out.collect()}
    assert {("urn:b", "g1"), ("urn:c", "g1"),
            ("urn:b", "g2"), ("urn:c", "g2"), ("urn:d", "g2")} <= got
    assert eng.update("ADD <g1> TO <g1>").count() == 4
    # ADD twice inserts nothing new (set semantics)
    assert eng.update("ADD <g1> TO <g2> ; ADD <g1> TO <g2>").count() == 6
    # COPY replaces the destination entirely
    got = {(r["subject"], r["graph"])
           for r in eng.update("COPY <g1> TO <g2>").collect()}
    assert got == {("urn:a", None), ("urn:b", "g1"), ("urn:c", "g1"),
                   ("urn:b", "g2"), ("urn:c", "g2")}
    # MOVE drops the source; DEFAULT is a valid operand
    got = {(r["subject"], r["graph"])
           for r in eng.update("MOVE <g1> TO DEFAULT").collect()}
    assert got == {("urn:b", None), ("urn:c", None), ("urn:d", "g2")}
    # COPY of an empty graph clears the destination (spec: DROP + ADD)
    got = {(r["subject"], r["graph"])
           for r in eng.update("COPY <gnope> TO <g2>").collect()}
    assert got == {("urn:a", None), ("urn:b", "g1"), ("urn:c", "g1")}


def test_update_create_and_load(spark):
    eng = _gm_eng(spark)
    # CREATE: graphs exist implicitly — validated no-op, chains fine
    out = eng.update("CREATE GRAPH <g9> ; CLEAR GRAPH <g2>")
    assert out.count() == 3
    # LOAD needs network I/O → explicit error; SILENT swallows it (spec)
    with pytest.raises(ValueError, match="LOAD"):
        eng.update("LOAD <http://ex.org/data.ttl>")
    assert eng.update(
        "LOAD SILENT <http://ex.org/data.ttl> INTO GRAPH <g1>").count() == 4


def test_update_with_graph(spark):
    rows = [("urn:e", "urn:p", "x", None, None, "g1"),
            ("urn:e", "urn:p", "x", None, None, "g2")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    # WITH <g1> scopes the WHERE match AND the template graph: only g1's
    # row is rewritten, g2's identical triple is untouched
    out = eng.update("""WITH <g1>
        DELETE { ?s <urn:p> "x" } INSERT { ?s <urn:p> "y" }
        WHERE { ?s <urn:p> "x" }""")
    got = {(r["object"], r["graph"]) for r in out.collect()}
    assert got == {("y", "g1"), ("x", "g2")}
    # WITH + INSERT-only form; an explicit GRAPH block overrides WITH
    out2 = eng.update("""WITH <g2> INSERT {
          ?s <urn:r> "z" . GRAPH <g3> { ?s <urn:r> "w" } }
        WHERE { ?s <urn:p> "x" }""")
    got2 = {(r["predicate"], r["object"], r["graph"]) for r in out2.collect()}
    assert ("urn:r", "z", "g2") in got2 and ("urn:r", "w", "g3") in got2
    # WITH + DELETE WHERE shorthand stays graph-scoped
    out3 = eng.update("WITH <g2> DELETE WHERE { ?s <urn:p> ?o }")
    assert {(r["object"], r["graph"]) for r in out3.collect()} == {("x", "g1")}


def test_update_insert_where_and_using(spark):
    """Modify-form coverage beyond WITH: the plain ``INSERT {} WHERE {}``
    op and ``USING [NAMED]`` dataset clauses (SPARQL 1.1 Update §3.1.3;
    pyoxigraph accepts all of these via store.update,
    reference kgraph_rdf_db.py:342-357)."""
    rows = [("urn:e1", "urn:p", "x", None, None, "g1"),
            ("urn:e2", "urn:p", "x", None, None, "g2"),
            ("urn:e3", "urn:p", "x", None, None, None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    # plain INSERT-WHERE: ungraphed WHERE matches the union graph
    out = eng.update('INSERT { ?s <urn:q> "m" } WHERE { ?s <urn:p> "x" }')
    assert {r["subject"] for r in out.collect()
            if r["predicate"] == "urn:q"} == {"urn:e1", "urn:e2", "urn:e3"}
    # USING <g1>: WHERE's default graph is g1 only
    out = eng.update(
        'INSERT { ?s <urn:q> "m" } USING <g1> WHERE { ?s <urn:p> "x" }')
    assert {r["subject"] for r in out.collect()
            if r["predicate"] == "urn:q"} == {"urn:e1"}
    # WITH + USING: USING overrides WITH for WHERE, WITH still scopes
    # the template quads (§3.1.3)
    out = eng.update('WITH <g9> INSERT { ?s <urn:q> "m" } '
                     'USING <g2> WHERE { ?s <urn:p> "x" }')
    assert {(r["subject"], r["graph"]) for r in out.collect()
            if r["predicate"] == "urn:q"} == {("urn:e2", "g9")}
    # USING NAMED feeds GRAPH ?g; repeated USING merges the default set
    out = eng.update('DELETE { ?s <urn:p> "x" } USING NAMED <g2> '
                     'WHERE { GRAPH ?g { ?s <urn:p> "x" } }')
    assert {(r["subject"], r["graph"]) for r in out.collect()} == {
        ("urn:e1", "g1"), ("urn:e3", None)}
    out = eng.update('DELETE { ?s <urn:p> "x" } INSERT { ?s <urn:p> "y" } '
                     'USING <g1> USING <g2> WHERE { ?s <urn:p> "x" }')
    assert {(r["subject"], r["object"]) for r in out.collect()} == {
        ("urn:e1", "y"), ("urn:e2", "y"), ("urn:e3", "x")}


def test_update_rejects_vars_in_data(spark):
    eng = SparqlEngine(spark.createDataFrame(
        [("urn:a", "urn:p", "x", None, None, None)], SCHEMA))
    with pytest.raises(ValueError, match="ground"):
        eng.update("INSERT DATA { <urn:a> <urn:p> ?v }")


# ------------------- round-3 review regressions -----------------------

def test_update_var_object_deletes_typed_rows(spark):
    """A DELETE template variable in object position must remove typed /
    lang-tagged rows (it binds a lexical form — matching is lexical),
    and the rename idiom must work over typed values."""
    ts = "2024-01-01T10:00:00"
    rows = [("urn:m0", VC + "hasTimestamp", ts, XSD_DT, None, "g"),
            ("urn:m0", KG + "hasName", "keep", None, None, "g")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    out = eng.update(P + """DELETE WHERE {
        ?m vital-core:hasTimestamp ?t . }""")
    got = [(r["subject"], r["predicate"]) for r in out.collect()]
    assert got == [("urn:m0", KG + "hasName")]
    # rename: variable-object delete + ground insert over a typed row
    out2 = eng.update(P + """
        DELETE { ?m vital-core:hasTimestamp ?t }
        INSERT { ?m vital-core:hasTimestamp "MOVED" }
        WHERE  { ?m vital-core:hasTimestamp ?t . }""")
    ts_rows = [(r["object"], r["obj_datatype"]) for r in out2.collect()
               if r["predicate"] == VC + "hasTimestamp"]
    assert ts_rows == [("MOVED", None)]
    # a GROUND literal delete stays exact: plain never matches typed
    out3 = eng.update(
        P + 'DELETE DATA { <urn:m0> vital-core:hasTimestamp "%s" }' % ts)
    assert out3.where(F.col("predicate") == VC + "hasTimestamp").count() == 1


def test_integer_then_statement_dot_lexes(spark):
    """``... 1.`` (no space) is INTEGER "1" + the triple terminator, not
    an xsd:decimal "1." that silently matches nothing."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [("urn:a", "urn:p", "1", xsd_int, None, None),
            ("urn:a", "urn:q", "1.5", None, None, None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    assert eng.query(
        "SELECT ?s WHERE { ?s <urn:p> 1. }").collect()[0]["s"] == "urn:a"
    # real decimals still lex and compare numerically
    assert eng.query("""SELECT ?v WHERE { ?s <urn:q> ?v .
        FILTER(?v < 2.5) }""").collect()[0]["v"] == "1.5"


def test_min_max_numeric_returns_lexical_winner(spark):
    """MIN/MAX order numerically when every input casts (returning the
    original lexical form), else lexically — '100' beats '9' numerically
    though '9' wins lexically."""
    rows = [("urn:a", "urn:p", v, None, None, None)
            for v in ("9", "10", "100")]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    r = eng.query("""SELECT (MAX(?v) AS ?mx) (MIN(?v) AS ?mn)
        WHERE { ?s <urn:p> ?v }""").collect()[0]
    assert (r["mx"], r["mn"]) == ("100", "9")


def test_optional_filter_sees_left_bindings(eng):
    """SPARQL §18.2.2.6 LeftJoin: a FILTER inside OPTIONAL evaluates
    over the joined bindings — rows failing it keep the left side with
    the optional variables unbound, never dropped."""
    # shared-key case: msg2's timestamp fails the filter → content null
    rows = eng.query(P + """SELECT ?m ?c WHERE {
        ?m a kg:KGChatMessage . ?m vital-core:hasTimestamp ?v .
        OPTIONAL { ?m kg:hasKGChatMessageContent ?c .
                   FILTER(?v < "2024-01-01T10:01:00") } }
        ORDER BY ?m""").collect()
    assert [(r["m"], r["c"]) for r in rows] == [
        ("urn:msg0", "hello bot"), ("urn:msg1", "hello user"),
        ("urn:msg2", None)]
    # no-shared-key case: every later timestamp, latest gets none
    rows = eng.query(P + """SELECT ?m ?w WHERE {
        ?m vital-core:hasTimestamp ?v .
        OPTIONAL { ?m2 vital-core:hasTimestamp ?w . FILTER(?v < ?w) } }
        ORDER BY ?m ?w""").collect()
    got = [(r["m"], r["w"]) for r in rows]
    assert got == [
        ("urn:msg0", "2024-01-01T10:00:05"),
        ("urn:msg0", "2024-01-01T10:01:00"),
        ("urn:msg1", "2024-01-01T10:01:00"),
        ("urn:msg2", None)]


def test_optional_filter_keeps_first_binding_sidecars(spark):
    """A variable bound on both sides of an OPTIONAL keeps the LEFT
    binding's datatype whether or not the OPTIONAL carries a filter over
    left variables: the first binding wins as a unit, so a plain "5" on
    the left is not retyped by the right side's "5"^^xsd:integer."""
    rows = [("urn:a", "urn:p", "5", None, None, None),
            ("urn:a", "urn:v", "1", None, None, None),
            ("urn:b", "urn:q", "5", XSD + "integer", None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    q = """SELECT ?x (DATATYPE(?x) AS ?dt) WHERE {
        <urn:a> <urn:p> ?x . <urn:a> <urn:v> ?v .
        OPTIONAL { <urn:b> <urn:q> ?x %s } }"""
    for flt in ('FILTER(?v = "1")', ""):
        got = [(r.x, r.dt) for r in eng2.query(q % flt).collect()]
        assert got == [("5", XSD + "string")], flt


def test_order_by_aggregate(eng):
    """ORDER BY DESC(COUNT(*)) — aggregates in sort keys hoist into
    hidden post-agg columns, same as HAVING."""
    rows = eng.query(P + """SELECT ?type WHERE { ?m a ?type . }
        GROUP BY ?type ORDER BY DESC(COUNT(*)) ?type""").collect()
    counts = {r["type"]: r["count"] for r in eng.query(
        P + """SELECT ?type (COUNT(*) AS ?count) WHERE { ?m a ?type . }
        GROUP BY ?type""").collect()}
    seq = [counts[r["type"]] for r in rows]
    assert seq == sorted(seq, reverse=True)
    assert rows[0]["type"] == KG + "Edge_hasKGSlot"


def test_order_by_unprojected_variable(eng):
    """ORDER BY may use any in-scope variable when there is no DISTINCT
    (ordering happens before projection)."""
    rows = eng.query(P + """SELECT ?c WHERE {
        ?m kg:hasKGChatMessageContent ?c . ?m vital-core:hasTimestamp ?t }
        ORDER BY DESC(?t)""").collect()
    assert [r["c"] for r in rows] == [
        "what is Tech?", "hello user", "hello bot"]


def test_group_by_projection_order(eng):
    """Result columns follow the query's own projection order."""
    q = eng.query(P + """SELECT (COUNT(*) AS ?c) ?type WHERE {
        ?m a ?type . } GROUP BY ?type""")
    assert q.columns == ["c", "type"]


def test_string_and_numeric_builtins(spark):
    """STRENDS / CONCAT / COALESCE / SUBSTR / REPLACE / STRBEFORE /
    STRAFTER / ABS / ROUND / CEIL / FLOOR in FILTER and BIND position."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [("urn:a", "urn:name", "hello world", None, None, None),
            ("urn:a", "urn:num", "-2.6", xsd_int, None, None),
            ("urn:b", "urn:name", "goodbye", None, None, None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    r = eng.query("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STRENDS(?n, "world")) }""").collect()
    assert [x["s"] for x in r] == ["urn:a"]
    r = eng.query("""SELECT ?s ?c ?b ?af ?sub WHERE {
        ?s <urn:name> ?n .
        BIND(CONCAT(?n, "!", STR(1)) AS ?c)
        BIND(STRBEFORE(?n, " ") AS ?b)
        BIND(STRAFTER(?n, " ") AS ?af)
        BIND(SUBSTR(?n, 1, 5) AS ?sub)
        FILTER(CONTAINS(?n, " ")) }""").collect()
    assert [(x["c"], x["b"], x["af"], x["sub"]) for x in r] == [
        ("hello world!1", "hello", "world", "hello")]
    # absent separator → "" per spec; REPLACE with case-insensitive flag
    r = eng.query("""SELECT ?b ?rep WHERE { <urn:b> <urn:name> ?n .
        BIND(STRBEFORE(?n, "@") AS ?b)
        BIND(REPLACE(?n, "GOOD", "fare", "i") AS ?rep) }""").collect()
    assert (r[0]["b"], r[0]["rep"]) == ("", "farebye")
    r = eng.query("""SELECT ?abs ?rnd ?ceil ?floor WHERE {
        ?s <urn:num> ?v .
        BIND(ABS(?v) AS ?abs)  BIND(ROUND(?v) AS ?rnd)
        BIND(CEIL(?v) AS ?ceil) BIND(FLOOR(?v) AS ?floor) }""").collect()
    assert (r[0]["abs"], r[0]["rnd"], r[0]["ceil"], r[0]["floor"]) == \
        (2.6, -3.0, -2, -3)
    r = eng.query("""SELECT ?x WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:missing> ?m }
        BIND(COALESCE(?m, ?n) AS ?x) } ORDER BY ?x""").collect()
    assert [x["x"] for x in r] == ["goodbye", "hello world"]


def test_hash_uri_and_datetime_builtins(spark):
    """MD5/SHA* (UTF-8 lexical form, lowercase hex), ENCODE_FOR_URI
    (RFC 3986 unreserved set), YEAR..SECONDS/TZ (lexical component
    extraction — immune to the session timezone), SAMPLE aggregate."""
    import hashlib
    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    rows = [("urn:a", "urn:name", "Los Angeles*~x", None, None, None),
            ("urn:a", "urn:ts", "2024-03-01T12:34:56.5Z", xsd_dt, None,
             None),
            ("urn:b", "urn:ts", "2011-01-10T14:45:13.815-05:00", xsd_dt,
             None, None),
            ("urn:c", "urn:ts", "2024-03-01T12:34:56", xsd_dt, None,
             None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    r = eng.query("""SELECT ?m ?s1 ?s256 ?enc WHERE {
        ?s <urn:name> ?n .
        BIND(MD5(?n) AS ?m)   BIND(SHA1(?n) AS ?s1)
        BIND(SHA256(?n) AS ?s256)
        BIND(ENCODE_FOR_URI(?n) AS ?enc) }""").collect()
    raw = "Los Angeles*~x".encode()
    assert r[0]["m"] == hashlib.md5(raw).hexdigest()
    assert r[0]["s1"] == hashlib.sha1(raw).hexdigest()
    assert r[0]["s256"] == hashlib.sha256(raw).hexdigest()
    assert r[0]["enc"] == "Los%20Angeles%2A~x"
    r = eng.query("""SELECT ?y ?mo ?d ?h ?mi ?sec ?tz WHERE {
        <urn:a> <urn:ts> ?t .
        BIND(YEAR(?t) AS ?y)    BIND(MONTH(?t) AS ?mo)
        BIND(DAY(?t) AS ?d)     BIND(HOURS(?t) AS ?h)
        BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?sec)
        BIND(TZ(?t) AS ?tz) }""").collect()
    assert tuple(r[0]) == (2024, 3, 1, 12, 34, 56.5, "Z")
    r = eng.query("""SELECT ?h ?sec ?tz WHERE { <urn:b> <urn:ts> ?t .
        BIND(HOURS(?t) AS ?h) BIND(SECONDS(?t) AS ?sec)
        BIND(TZ(?t) AS ?tz) }""").collect()
    assert tuple(r[0]) == (14, 13.815, "-05:00")
    # no timezone → TZ returns "" (simple literal), per spec
    r = eng.query("""SELECT ?tz WHERE { <urn:c> <urn:ts> ?t .
        BIND(TZ(?t) AS ?tz) }""").collect()
    assert r[0]["tz"] == ""
    # dateTime builtins compose with FILTER (the engine's string model)
    r = eng.query("""SELECT ?s WHERE { ?s <urn:ts> ?t .
        FILTER(YEAR(?t) = 2024) } ORDER BY ?s""").collect()
    assert [x["s"] for x in r] == ["urn:a", "urn:c"]
    # SAMPLE: deterministic (lexical min), grouped and global
    r = eng.query("""SELECT ?s (SAMPLE(?t) AS ?one) WHERE {
        ?s <urn:ts> ?t } GROUP BY ?s ORDER BY ?s""").collect()
    assert [x["one"] for x in r] == ["2024-03-01T12:34:56.5Z",
                                     "2011-01-10T14:45:13.815-05:00",
                                     "2024-03-01T12:34:56"]


def test_construct_where_shorthand(eng):
    """CONSTRUCT WHERE { BGP } (SPARQL 1.1 §10.2.3) equals the longhand
    with the pattern repeated as template; non-BGP bodies raise."""
    short = eng.construct("""CONSTRUCT WHERE {
        ?m <http://vital.ai/ontology/haley-ai-kg#hasKGChatMessageContent>
           ?c . }""").collect()
    long_ = eng.construct("""CONSTRUCT {
        ?m <http://vital.ai/ontology/haley-ai-kg#hasKGChatMessageContent>
           ?c . } WHERE {
        ?m <http://vital.ai/ontology/haley-ai-kg#hasKGChatMessageContent>
           ?c . }""").collect()
    assert sorted(map(tuple, short)) == sorted(map(tuple, long_))
    assert len(short) == 3
    with pytest.raises(ValueError):
        eng.construct("CONSTRUCT WHERE { ?s <urn:p>+ ?o . }")


def test_term_introspection_builtins(spark):
    """LANG / DATATYPE / isIRI / isLITERAL / isBLANK / LANGMATCHES over
    typed, lang-tagged, plain-literal, IRI and blank-node objects —
    metadata sidecars flow through joins, OPTIONAL and UNION.  A typed
    or tagged object is a literal even when its lexical form is
    IRI-shaped."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    xsd_str = "http://www.w3.org/2001/XMLSchema#string"
    xsd_any = "http://www.w3.org/2001/XMLSchema#anyURI"
    rdf_ls = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    rows = [
        ("urn:a", "urn:typed", "http://example.org/x", xsd_any, None, None),
        ("urn:a", "urn:tagged", "mailto:a@b", None, "en", None),
        ("urn:a", "urn:label", "chat", None, "fr", None),
        ("urn:a", "urn:label", "cat hello", None, "en-US", None),
        ("urn:a", "urn:num", "42", xsd_int, None, None),
        ("urn:a", "urn:plain", "just text", None, None, None),
        ("urn:a", "urn:ref", "urn:b", None, None, None),
        ("urn:a", "urn:ref", "_:blank0", None, None, None),
        ("urn:b", "urn:label", "hund", None, "de", None),
    ]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    # LANG + LANGMATCHES: en range matches en-US (basic filtering)
    r = eng.query("""SELECT ?l WHERE { ?s <urn:label> ?l .
        FILTER(LANGMATCHES(LANG(?l), "en")) }""").collect()
    assert [x["l"] for x in r] == ["cat hello"]
    r = eng.query("""SELECT ?l ?lang WHERE { ?s <urn:label> ?l .
        BIND(LANG(?l) AS ?lang) } ORDER BY ?l""").collect()
    assert [(x["l"], x["lang"]) for x in r] == [
        ("cat hello", "en-US"), ("chat", "fr"), ("hund", "de")]
    # DATATYPE: explicit dt, langString for tagged, xsd:string for plain,
    # NULL (error) for IRIs/blanks
    r = eng.query("""SELECT ?o ?dt WHERE { <urn:a> ?p ?o .
        BIND(DATATYPE(?o) AS ?dt) } ORDER BY ?o""").collect()
    got = {x["o"]: x["dt"] for x in r}
    assert got["42"] == xsd_int
    assert got["chat"] == rdf_ls
    assert got["just text"] == xsd_str
    assert got["urn:b"] is None and got["_:blank0"] is None
    assert got["http://example.org/x"] == xsd_any
    assert got["mailto:a@b"] == rdf_ls
    # isIRI / isBLANK / isLITERAL: a datatype-less, tagless urn:b is an
    # IRI, _:blank0 a blank node
    r = eng.query("""SELECT ?o WHERE { <urn:a> <urn:ref> ?o .
        FILTER(isIRI(?o)) }""").collect()
    assert [x["o"] for x in r] == ["urn:b"]
    r = eng.query("""SELECT ?o WHERE { <urn:a> <urn:ref> ?o .
        FILTER(isBLANK(?o)) }""").collect()
    assert [x["o"] for x in r] == ["_:blank0"]
    r = eng.query("""SELECT ?o WHERE { <urn:a> ?p ?o .
        FILTER(isLITERAL(?o)) } ORDER BY ?o""").collect()
    assert [x["o"] for x in r] == ["42", "cat hello", "chat",
                                   "http://example.org/x", "just text",
                                   "mailto:a@b"]
    r = eng.query("""SELECT ?o WHERE { <urn:a> ?p ?o .
        FILTER(isIRI(?o)) }""").collect()
    assert [x["o"] for x in r] == ["urn:b"]
    # the typed and the tagged IRI-shaped objects, through a UNION
    r = eng.query("""SELECT ?o ?iri ?lit ?blank ?dt ?lang ?num ?same WHERE {
        { <urn:a> <urn:typed> ?o } UNION { <urn:a> <urn:tagged> ?o }
        BIND(isIRI(?o) AS ?iri) BIND(isLITERAL(?o) AS ?lit)
        BIND(isBLANK(?o) AS ?blank) BIND(DATATYPE(?o) AS ?dt)
        BIND(LANG(?o) AS ?lang) BIND(isNUMERIC(?o) AS ?num)
        BIND(sameTerm(?o, <http://example.org/x>) AS ?same) }
        ORDER BY ?o""").collect()
    assert [tuple(x) for x in r] == [
        ("http://example.org/x", False, True, False, xsd_any, "", False,
         False),
        ("mailto:a@b", False, True, False, rdf_ls, "en", False, False)]
    # a VALUES binding has no metadata: an IRI has no datatype or tag
    r = eng.query("""SELECT ?iri ?lit ?dt ?lang WHERE {
        VALUES ?x { <urn:b> }
        BIND(isIRI(?x) AS ?iri) BIND(isLITERAL(?x) AS ?lit)
        BIND(DATATYPE(?x) AS ?dt) BIND(LANG(?x) AS ?lang) }""").collect()
    assert [tuple(x) for x in r] == [(True, False, None, None)]
    # subject-position introspection: statically an IRI
    r = eng.query("""SELECT DISTINCT ?s WHERE { ?s <urn:label> ?l .
        FILTER(isIRI(?s)) } ORDER BY ?s""").collect()
    assert [x["s"] for x in r] == ["urn:a", "urn:b"]
    # sidecars survive a join on the shared variable
    r = eng.query("""SELECT ?l WHERE {
        <urn:a> <urn:label> ?l . ?s2 <urn:label> ?l .
        FILTER(LANGMATCHES(LANG(?l), "fr")) }""").collect()
    assert [x["l"] for x in r] == ["chat"]
    # OPTIONAL: LANG of an unmatched optional var is NULL-safe
    r = eng.query("""SELECT ?s ?lang WHERE {
        ?s <urn:ref> ?o . OPTIONAL { ?o <urn:label> ?l }
        BIND(LANG(?l) AS ?lang) } ORDER BY ?o""").collect()
    assert [x["lang"] for x in r] == [None, "de"]
    # UNION: metadata null-fills across arms
    r = eng.query("""SELECT ?v WHERE {
        { <urn:a> <urn:num> ?v } UNION { <urn:a> <urn:label> ?v }
        FILTER(DATATYPE(?v) = <http://www.w3.org/2001/XMLSchema#integer>)
        }""").collect()
    assert [x["v"] for x in r] == ["42"]
    # computed argument raises (documented subset)
    with pytest.raises(ValueError):
        eng.query("""SELECT ?s WHERE { ?s <urn:plain> ?o .
            FILTER(isLITERAL(STR(?o))) }""")


def test_term_constructors(spark):
    """IRI()/STRLANG/STRDT: value is the lexical form; metadata
    materializes through an introspected BIND target."""
    rows = [("urn:a", "urn:name", "page one", None, None, None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    r = eng.query("""SELECT ?u ?isi ?tagged ?lang ?typed ?dt WHERE {
        ?s <urn:name> ?n .
        BIND(IRI(CONCAT("http://ex.org/", ENCODE_FOR_URI(?n))) AS ?u)
        BIND(isIRI(?u) AS ?isi)
        BIND(STRLANG(?n, "en") AS ?tagged) BIND(LANG(?tagged) AS ?lang)
        BIND(STRDT(?n, <http://www.w3.org/2001/XMLSchema#token>) AS
             ?typed)
        BIND(DATATYPE(?typed) AS ?dt) }""").collect()
    row = r[0]
    assert row["u"] == "http://ex.org/page%20one"
    assert row["isi"] is True
    assert (row["tagged"], row["lang"]) == ("page one", "en")
    assert (row["typed"], row["dt"]) == (
        "page one", "http://www.w3.org/2001/XMLSchema#token")
    # BIND-copy of a variable keeps its introspection result
    r = eng.query("""SELECT ?iri WHERE { ?s <urn:name> ?n .
        BIND(?s AS ?c) BIND(isIRI(?c) AS ?iri) }""").collect()
    assert r[0]["iri"] is True


def test_sidecars_only_when_introspected(spark):
    """Plan-identity guarantee: a query with no introspection builtins
    compiles with ZERO metadata sidecar columns in its WHERE relation;
    an introspecting query carries them only for the targeted vars."""
    from kgraphmemory_spark.sparql import _Parser, _introspected_vars
    eng = SparqlEngine(spark.createDataFrame(_rows(), SCHEMA))
    q = _Parser("SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(CONTAINS(?o, "
                '"a")) }').parse()
    eng._meta = _introspected_vars(q)
    df, _ = eng._group(q["where"])
    assert not [c for c in df.columns if c.startswith("__m_")]
    q = _Parser("SELECT ?s WHERE { ?s ?p ?o . FILTER(isIRI(?o)) }"
                ).parse()
    eng._meta = _introspected_vars(q)
    df, _ = eng._group(q["where"])
    assert sorted(c for c in df.columns if c.startswith("__m_")) == [
        "__m_o__dt", "__m_o__lang", "__m_o__uri"]


def test_update_with_introspection_filter(spark):
    """DELETE-WHERE whose pattern filters on isIRI: only ref-valued
    triples vanish; sidecars never leak into the returned table."""
    rows = [("urn:a", "urn:p", "urn:b", None, None, None),
            ("urn:a", "urn:p", "plain text", None, None, None),
            ("urn:a", "urn:q", "urn:c", None, None, None)]
    eng = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    out = eng.update("""DELETE { ?s <urn:p> ?o }
        WHERE { ?s <urn:p> ?o . FILTER(isIRI(?o)) }""")
    assert sorted(out.columns) == sorted(
        ["subject", "predicate", "object", "obj_datatype", "obj_lang",
         "graph"])
    got = sorted((r.subject, r.predicate, r.object) for r in out.collect())
    assert got == [("urn:a", "urn:p", "plain text"),
                   ("urn:a", "urn:q", "urn:c")]


def test_reserved_variable_names_raise(eng):
    with pytest.raises(ValueError):
        eng.query("SELECT ?__x WHERE { ?__x <urn:p> ?o . }")


def test_reserved_name_rejected_everywhere(eng):
    """Round-4 ADVICE: the '__' guard moved to lex time, so BIND targets,
    AS aliases and VALUES headers can no longer clobber hidden columns."""
    for q in ("SELECT ?x WHERE { ?x <urn:p> ?o . BIND(1 AS ?__m_o__dt) }",
              "SELECT (1 AS ?__hav) WHERE { ?x <urn:p> ?o . }",
              "SELECT ?x WHERE { VALUES ?__v { 'a' } ?x <urn:p> ?o . }"):
        with pytest.raises(ValueError, match="reserved"):
            eng.query(q)


# ------------------------- round-4 grammar closures -------------------

def test_base_resolution(eng):
    """BASE resolves relative IRI tokens (PREFIX bodies, terms,
    datatypes) per RFC 3986; absolute IRIs pass through."""
    q = eng.query("""BASE <http://vital.ai/ontology/>
        PREFIX kg: <haley-ai-kg#>
        SELECT (COUNT(?f) AS ?count) WHERE { ?f a kg:KGFrame . }""")
    assert q.collect()[0]["count"] == 2
    # relative term IRI in a pattern
    q = eng.query("""BASE <urn:Edge_WordnetHyponym>
        PREFIX kg: <http://vital.ai/ontology/haley-ai-kg#>
        SELECT (COUNT(?f) AS ?count)
        WHERE { ?f kg:hasKGFrameType <urn:Edge_WordnetHyponym> . }""")
    assert q.collect()[0]["count"] == 1


def test_base_relative_term(spark):
    rows = [("http://ex.org/a/s1", "http://ex.org/a/p", "o1",
             None, None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    q = eng2.query("""BASE <http://ex.org/a/>
        SELECT ?o WHERE { <s1> <p> ?o . }""")
    assert [r.o for r in q.collect()] == ["o1"]


def test_values_undef_single(eng):
    """UNDEF row = unbound → compatible with every binding."""
    rows = eng.query(P + """SELECT ?frame ?frameType WHERE {
        ?frame a kg:KGFrame .
        ?frame kg:hasKGFrameType ?frameType .
        VALUES ?frameType { <urn:Edge_WordnetHyponym> } }""").collect()
    assert len(rows) == 1
    rows = eng.query(P + """SELECT ?frame ?frameType WHERE {
        ?frame a kg:KGFrame .
        ?frame kg:hasKGFrameType ?frameType .
        VALUES ?frameType { UNDEF } }""").collect()
    assert len(rows) == 2          # wildcard row keeps both frames


def test_values_undef_multi_column(eng):
    """Per-row wildcard in the two-column form; merged bindings take the
    bound side."""
    rows = eng.query(P + """SELECT ?frame ?frameType WHERE {
        ?frame a kg:KGFrame .
        ?frame kg:hasKGFrameType ?frameType .
        VALUES (?frame ?frameType) {
            (<urn:frame1> UNDEF)
            (UNDEF <urn:Edge_Other>) } }""").collect()
    got = sorted((r.frame, r.frameType) for r in rows)
    assert got == [("urn:frame1", "urn:Edge_WordnetHyponym"),
                   ("urn:frame2", "urn:Edge_Other")]


def test_values_undef_fresh_var(eng):
    """An UNDEF cell for a variable new to the group stays NULL."""
    rows = eng.query(P + """SELECT ?frame ?tag WHERE {
        ?frame a kg:KGFrame .
        VALUES (?frame ?tag) {
            (<urn:frame1> 'one')
            (<urn:frame2> UNDEF) } }""").collect()
    got = sorted((r.frame, r.tag) for r in rows)
    assert got == [("urn:frame1", "one"), ("urn:frame2", None)]


def test_graph_var_path(eng):
    """Property path under GRAPH ?var: pairs close per named graph and
    the graph variable binds alongside."""
    rows = eng.query(P + """SELECT ?g ?f ?v WHERE {
        GRAPH ?g { ?f kg:hasKGFrameType/^kg:hasKGFrameType ?v . } }"""
                     ).collect()
    # identity pairs via the forward/backward hop, graph-tagged
    assert all(r.g == "g" for r in rows)
    assert {(r.f, r.v) for r in rows} == {
        ("urn:frame1", "urn:frame1"), ("urn:frame2", "urn:frame2")}
    # transitive + under GRAPH ?var, restricted per graph
    rows = eng.query(P + """SELECT ?g (COUNT(*) AS ?n) WHERE {
        GRAPH ?g { ?s <urn:hasSourceEntity>+ ?o . } } GROUP BY ?g"""
                     ).collect()
    assert rows == []  # predicate absent → empty, but compiles and runs


def test_graph_var_path_closure(spark):
    """+ closure under GRAPH ?var must NOT leak across graphs."""
    rows = [("a", "urn:n", "b", None, None, "g1"),
            ("b", "urn:n", "c", None, None, "g2")]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    got = sorted((r.g, r.s, r.o) for r in eng2.query(
        "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <urn:n>+ ?o . } }"
    ).collect())
    # no (a, c) pair: the hop a→b lives in g1, b→c in g2
    assert got == [("g1", "a", "b"), ("g2", "b", "c")]


@pytest.mark.parametrize("path", [
    "<urn:p>|<urn:q>", "<urn:p>?", "<urn:p>*", "!(<urn:q>|^<urn:p>)",
    "^<urn:p>", "<urn:p>/<urn:q>", "<urn:p>+"])
def test_graph_var_path_forms_match_per_graph(spark, path):
    """Every path form under GRAPH ?var equals the union over each named
    graph G of (G, s, o) from GRAPH <G> — one compiled algebra serves
    both, pairs never compose across graphs, and the default graph is
    not a named graph."""
    rows = [("urn:a", "urn:p", "urn:b", None, None, "g1"),
            ("urn:b", "urn:p", "urn:c", None, None, "g1"),
            ("urn:b", "urn:q", "urn:d", None, None, "g1"),
            ("urn:b", "urn:p", "urn:e", None, None, "g2"),
            ("urn:e", "urn:q", "urn:a", None, None, "g2"),
            ("urn:c", "urn:p", "urn:a", None, None, "g2"),
            ("urn:c", "urn:p", "urn:z", None, None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    got = sorted((r.g, r.s, r.o) for r in eng2.query(
        f"SELECT ?g ?s ?o WHERE {{ GRAPH ?g {{ ?s {path} ?o }} }}"
    ).collect())
    want = sorted((g, r.s, r.o) for g in ("g1", "g2")
                  for r in eng2.query(
                      f"SELECT ?s ?o WHERE {{ GRAPH <{g}> "
                      f"{{ ?s {path} ?o }} }}").collect())
    assert want and got == want


def test_union_of_subquery(eng):
    """UNION arms may be subquery blocks (either or both sides)."""
    rows = eng.query(P + """SELECT ?frame WHERE {
        { SELECT ?frame WHERE { ?frame a kg:KGFrame . } }
        UNION
        { ?frame a kg:KGEntitySlot . } }""").collect()
    assert len(rows) == 6          # 2 frames + 4 slots
    rows = eng.query(P + """SELECT ?frame ?n WHERE {
        { SELECT ?frame (COUNT(*) AS ?n) WHERE {
            ?frame a kg:KGFrame . } GROUP BY ?frame }
        UNION
        { SELECT ?frame (COUNT(*) AS ?n) WHERE {
            ?frame a kg:KGEntitySlot . } GROUP BY ?frame } }""").collect()
    assert len(rows) == 6 and all(r.n == 1 for r in rows)


def test_blank_node_subject_introspection(spark):
    """ADVICE r3 (medium): blank-node subjects must introspect as
    isBLANK, not isLITERAL."""
    rows = [("_:b1", "urn:p", "x", None, None, None),
            ("urn:s", "urn:p", "y", None, None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    got = {(r.s, r.blank, r.iri, r.lit) for r in eng2.query(
        """SELECT ?s (isBLANK(?s) AS ?blank) (isIRI(?s) AS ?iri)
                  (isLITERAL(?s) AS ?lit)
           WHERE { ?s <urn:p> ?o . }""").collect()}
    assert got == {("_:b1", True, False, False),
                   ("urn:s", False, True, False)}


def test_sameterm_isnumeric_timezone(spark):
    """Round-4 builtin closure: sameTerm / isNumeric over the metadata
    sidecars, TIMEZONE as canonical xsd:dayTimeDuration, and bare
    FILTER BuiltInCall (no wrapping parens, grammar rule [69])."""
    rows = [("urn:a", "urn:q", "3.5", XSD + "decimal", None, None),
            ("urn:b", "urn:q", "hello", None, None, None),
            ("urn:c", "urn:q", "hello", None, "en", None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    q = 'SELECT ?s WHERE { ?s <urn:q> ?o FILTER sameTerm(?o, %s) }'
    assert {r.s for r in eng2.query(q % '"hello"').collect()} == {"urn:b"}
    assert {r.s for r in eng2.query(q % '"hello"@en').collect()} == {"urn:c"}
    assert {r.s for r in eng2.query(
        q % f'"3.5"^^<{XSD}decimal>').collect()} == {"urn:a"}
    assert {r.s for r in eng2.query(
        "SELECT ?s WHERE { ?s <urn:q> ?o FILTER isNumeric(?o) }"
    ).collect()} == {"urn:a"}
    got = eng2.query(
        f'SELECT (TIMEZONE("2011-01-10T14:45:13.815-05:00"^^<{XSD}dateTime>)'
        ' AS ?m) '
        f'(TIMEZONE("2011-01-10T14:45:13Z"^^<{XSD}dateTime>) AS ?z) '
        f'(TIMEZONE("2011-01-10T14:45:13+05:30"^^<{XSD}dateTime>) AS ?p) '
        f'(TIMEZONE("2011-01-10T14:45:13"^^<{XSD}dateTime>) AS ?none) '
        'WHERE { <urn:a> <urn:q> ?o }').collect()[0]
    assert (got.m, got.z, got.p, got.none) == ("-PT5H", "PT0S", "PT5H30M",
                                               None)


def test_constructor_casts_and_nondeterministic(spark):
    """XPath constructor casts produce normalized lexical forms (and a
    datatype sidecar for introspection); NOW/RAND/UUID/STRUUID/BNODE
    evaluate (NOW fixed per engine call per spec §17.4.5.1)."""
    rows = [("urn:a", "urn:q", "x", None, None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    pre = f"PREFIX xsd: <{XSD}>\n"
    got = eng2.query(pre + '''SELECT (xsd:integer("42") AS ?i)
        (xsd:integer("4.2") AS ?bad) (xsd:boolean("1") AS ?b)
        (xsd:double("2.5") AS ?d) (xsd:string(7) AS ?s)
        WHERE { <urn:a> <urn:q> ?o }''').collect()[0]
    assert (got.i, got.bad, got.b, got.d, got.s) == (
        "42", None, "true", "2.5", "7")
    got = eng2.query(pre + '''SELECT (DATATYPE(?i) AS ?dt)
        WHERE { <urn:a> <urn:q> ?o BIND(xsd:integer("7") AS ?i) }
        ''').collect()[0]
    assert got.dt == XSD + "integer"
    row = eng2.query('''SELECT (NOW() AS ?n) (NOW() AS ?n2)
        (STRUUID() AS ?u) (UUID() AS ?iri) (RAND() AS ?r) (BNODE() AS ?bn)
        WHERE { <urn:a> <urn:q> ?o }''').collect()[0]
    assert row.n == row.n2 and row.n.endswith("Z")      # fixed per query
    assert len(row.u) == 36 and row.iri.startswith("urn:uuid:")
    assert 0.0 <= row.r < 1.0 and row.bn.startswith("_:")
    with pytest.raises(ValueError, match="arity"):
        eng2.query('SELECT (BNODE("x") AS ?b) WHERE { ?s ?p ?o }')


def test_service_federation(spark):
    """SERVICE <iri> { ... } compiles the pattern against the registered
    endpoint's own triple table and equi-joins the outer solutions on the
    shared variables (SPARQL 1.1 Federated Query, in-process)."""
    local = [("urn:e1", "urn:name", "Alpha", None, None, None),
             ("urn:e2", "urn:name", "Beta", None, None, None)]
    remote = [("urn:e1", "urn:score", "9", None, None, None),
              ("urn:e3", "urn:score", "4", None, None, None)]
    eng2 = SparqlEngine(
        spark.createDataFrame(local, SCHEMA),
        services={"urn:svc:scores": spark.createDataFrame(remote, SCHEMA)})
    got = eng2.query('''SELECT ?n ?sc WHERE {
        ?e <urn:name> ?n .
        SERVICE <urn:svc:scores> { ?e <urn:score> ?sc }
    }''').collect()
    assert [(r.n, r.sc) for r in got] == [("Alpha", "9")]
    # OPTIONAL around SERVICE keeps unmatched outer rows
    got = eng2.query('''SELECT ?n ?sc WHERE {
        ?e <urn:name> ?n .
        OPTIONAL { SERVICE <urn:svc:scores> { ?e <urn:score> ?sc } }
    } ORDER BY ?n''').collect()
    assert [(r.n, r.sc) for r in got] == [("Alpha", "9"), ("Beta", None)]


def test_service_silent_and_errors(spark):
    rows = [("urn:a", "urn:p", "x", None, None, None)]
    eng2 = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    # unknown endpoint: SILENT = unit solution (join identity), the
    # surrounding pattern survives untouched
    got = eng2.query('''SELECT ?o WHERE {
        <urn:a> <urn:p> ?o .
        SERVICE SILENT <urn:svc:gone> { ?o <urn:q> ?z }
    }''').collect()
    assert [r.o for r in got] == ["x"]
    with pytest.raises(ValueError, match="unknown SERVICE endpoint"):
        eng2.query('''SELECT ?o WHERE {
            SERVICE <urn:svc:gone> { ?s ?p ?o } }''').collect()
    with pytest.raises(ValueError, match="SERVICE endpoint must be"):
        eng2.query('SELECT ?o WHERE { SERVICE "ep" { ?s ?p ?o } }')
    # variable endpoint with NO registered services: the variable has
    # nothing to range over — empty solution set, never an error
    got = eng2.query(
        'SELECT ?ep ?o WHERE { SERVICE ?ep { ?s ?p ?o } }').collect()
    assert got == []


def test_service_variable_endpoint(spark):
    """SERVICE ?ep { ... } ranges over the registered endpoints — one
    arm per endpoint with ?ep bound to its IRI (implementation-defined
    per Federated Query §2.4; the in-process analog of GRAPH ?var)."""
    local = [("urn:e1", "urn:name", "Alpha", None, None, None),
             ("urn:e2", "urn:name", "Beta", None, None, None)]
    svc_a = [("urn:e1", "urn:score", "9", None, None, None)]
    svc_b = [("urn:e2", "urn:score", "4", None, None, None),
             ("urn:e9", "urn:score", "7", None, None, None)]
    eng2 = SparqlEngine(
        spark.createDataFrame(local, SCHEMA),
        services={"urn:svc:a": spark.createDataFrame(svc_a, SCHEMA),
                  "urn:svc:b": spark.createDataFrame(svc_b, SCHEMA)})
    got = eng2.query('''SELECT ?ep ?n ?sc WHERE {
        ?e <urn:name> ?n .
        SERVICE ?ep { ?e <urn:score> ?sc }
    } ORDER BY ?n''').collect()
    assert [(r.ep, r.n, r.sc) for r in got] == [
        ("urn:svc:a", "Alpha", "9"), ("urn:svc:b", "Beta", "4")]
    # an already-bound ?ep prunes arms through the solution join
    got = eng2.query('''SELECT ?n ?sc WHERE {
        VALUES ?ep { <urn:svc:b> }
        ?e <urn:name> ?n .
        SERVICE ?ep { ?e <urn:score> ?sc }
    }''').collect()
    assert [(r.n, r.sc) for r in got] == [("Beta", "4")]
    # SELECT * projects the endpoint variable like any other binding
    got = eng2.query('''SELECT ?ep ?sc WHERE {
        SERVICE ?ep { <urn:e9> <urn:score> ?sc } }''').collect()
    assert [(r.ep, r.sc) for r in got] == [("urn:svc:b", "7")]


def test_service_variable_endpoint_bound_inside(spark):
    """SERVICE ?ep { ?ep ?p ?o }: the endpoint variable also occurs in
    the pattern, so each arm keeps only the rows whose ?ep equals its
    endpoint IRI — with no registered endpoint the result is empty."""
    svc_a = [("urn:svc:a", "urn:p", "self", None, None, None),
             ("urn:svc:b", "urn:p", "other", None, None, None)]
    svc_b = [("urn:svc:b", "urn:p", "self-b", None, None, None)]
    rows = [("urn:x", "urn:p", "y", None, None, None)]
    eng2 = SparqlEngine(
        spark.createDataFrame(rows, SCHEMA),
        services={"urn:svc:a": spark.createDataFrame(svc_a, SCHEMA),
                  "urn:svc:b": spark.createDataFrame(svc_b, SCHEMA)})
    q = 'SELECT ?ep ?o WHERE { SERVICE ?ep { ?ep ?p ?o } } ORDER BY ?ep'
    got = eng2.query(q).collect()
    assert [(r.ep, r.o) for r in got] == [
        ("urn:svc:a", "self"), ("urn:svc:b", "self-b")]
    bare = SparqlEngine(spark.createDataFrame(rows, SCHEMA))
    assert bare.query(q).collect() == []


def test_service_own_dataset_outside_from_scope(spark):
    """A FROM dataset clause scopes the OUTER pattern only — the SERVICE
    pattern evaluates against the endpoint's own table (§13.2 vs
    Federated Query: the rewrite must not descend into SERVICE)."""
    local = [("urn:a", "urn:p", "urn:b", None, None, "urn:g1"),
             ("urn:a", "urn:p", "urn:c", None, None, "urn:g2")]
    remote = [("urn:b", "urn:q", "hit", None, None, "urn:other")]
    eng2 = SparqlEngine(
        spark.createDataFrame(local, SCHEMA),
        services={"urn:svc": spark.createDataFrame(remote, SCHEMA)})
    got = eng2.query('''SELECT ?v WHERE {
        ?s <urn:p> ?o .
        SERVICE <urn:svc> { ?o <urn:q> ?v }
    }''').collect()
    # without FROM: g1 row joins remote (graph 'urn:other' still visible
    # inside the service — its dataset, not ours)
    assert [r.v for r in got] == ["hit"]
    got = eng2.query('''SELECT ?v FROM <urn:g2> WHERE {
        ?s <urn:p> ?o .
        SERVICE <urn:svc> { ?o <urn:q> ?v }
    }''').collect()
    # FROM <urn:g2> filters the OUTER scan to ?o=urn:c (no remote match)
    # while the service side is untouched by the dataset rewrite
    assert got == []
