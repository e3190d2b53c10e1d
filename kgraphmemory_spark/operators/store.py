"""Object/triple store operators — the reference's CRUD surface (SURVEY.md
§2.1 S1-S8, §1.3 object↔triple pivot) re-expressed set-oriented.

The reference mutates an in-memory quad store one object at a time
(/root/reference/kgraphmemory/kgraph.py:56-181, kgraph_rdf_db.py:33-185);
here every operation is a pure DataFrame transform over the long `triples`
table — the write path on a cluster is `MERGE INTO` / row-level delete on
the snapshot catalog, which these transforms parameterize.

Triple emission order per object (kgraph_rdf_db.py:576-593): rdf:type,
vital-core#vitaltype, then one triple per non-null property; multi-valued
(array) properties emit one triple per element (kgraph_rdf_db.py:768-780).
XSD datatypes follow the fallback mapper (kgraph_rdf_db.py:797-837):
long→xsd:integer, double→xsd:double, boolean→xsd:boolean (lowercased,
:829), timestamp→xsd:dateTime (ISO-8601), date→xsd:date, string→plain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io.terms import IRI, XSD, object_columns, object_kind
from ..semantics import RDF_TYPE, VITAL_TYPE

_XSD_BY_SPARK = {
    T.LongType(): XSD + "integer",
    T.IntegerType(): XSD + "integer",
    T.ShortType(): XSD + "integer",
    T.ByteType(): XSD + "integer",
    T.DoubleType(): XSD + "double",
    T.FloatType(): XSD + "float",
    T.BooleanType(): XSD + "boolean",
    T.TimestampType(): XSD + "dateTime",
    T.DateType(): XSD + "date",
}


def _lexical(col: Column, dtype: T.DataType) -> Column:
    """Deterministic lexical form of a property value (the literal text that
    would appear in the quad store)."""
    if isinstance(dtype, T.BooleanType):
        # str(v).lower() — kgraph_rdf_db.py:829
        return F.lower(col.cast("string"))
    if isinstance(dtype, T.TimestampType):
        # datetime.isoformat() — kgraph_bridge_utilities.py:790-797
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return col.cast("double").cast("string")
    return col.cast("string")


def objects_to_triples(objects: DataFrame, uri_col: str, type_uri: str,
                       graph: str, predicate_ns: str = "urn:prop:",
                       property_cols: list[str] | None = None) -> DataFrame:
    """Wide object rows → long triples (S1/S2 `add_object(s)` emission,
    set-oriented — the reference's per-object loop kgraph.py:99-114
    disappears).

    Output: (subject, predicate, object, obj_datatype, graph); NULL
    properties emit nothing (matching `prop.to_rdf()` skipping unset
    properties), array properties fan out one row per element.
    """
    props = property_cols or [c for c in objects.columns if c != uri_col]
    uri = F.col(uri_col).cast("string")
    g = F.lit(graph)

    branches: list[DataFrame] = [
        objects.select(
            uri.alias("subject"), F.lit(RDF_TYPE).alias("predicate"),
            F.lit(type_uri).alias("object"),
            F.lit(None).cast("string").alias("obj_datatype"), g.alias("graph")),
        objects.select(
            uri.alias("subject"), F.lit(VITAL_TYPE).alias("predicate"),
            F.lit(type_uri).alias("object"),
            F.lit(None).cast("string").alias("obj_datatype"), g.alias("graph")),
    ]
    schema = {f.name: f.dataType for f in objects.schema.fields}
    for p in props:
        dtype = schema[p]
        pred = F.lit(predicate_ns + p)
        if isinstance(dtype, T.ArrayType):
            dt = _XSD_BY_SPARK.get(dtype.elementType)
            branches.append(
                objects.where(F.col(p).isNotNull())
                .select(uri.alias("subject"), F.explode(F.col(p)).alias("_v"))
                .select(
                    "subject", pred.alias("predicate"),
                    _lexical(F.col("_v"), dtype.elementType).alias("object"),
                    F.lit(dt).cast("string").alias("obj_datatype"),
                    g.alias("graph"))
            )
        else:
            dt = _XSD_BY_SPARK.get(dtype)
            branches.append(
                objects.where(F.col(p).isNotNull()).select(
                    uri.alias("subject"), pred.alias("predicate"),
                    _lexical(F.col(p), dtype).alias("object"),
                    F.lit(dt).cast("string").alias("obj_datatype"),
                    g.alias("graph"))
            )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def triples_to_objects(triples: DataFrame, predicate_ns: str = "urn:prop:",
                       property_names: list[str] | None = None,
                       array_properties: list[str] | None = None) -> DataFrame:
    """Long triples → wide object rows (§1.3 reconstruction,
    kgraph_rdf_db.py:603-729 batch variant) via ONE hash aggregation:
    `map_from_entries(collect_list(struct(p,values)))` then typed pulls.
    No per-subject probe loop (the reference's N+1, kgraph_rdf_db.py:678-699).

    Values come back as lexical strings; callers cast using the
    `obj_datatype` they wrote (round-trip tests cast to the source schema).
    Every property aggregates to its sorted value array (the reference
    rebuilds objects from ALL triples, kgraph_rdf_db.py:768-780): a
    ``property_names`` pull returns the full array for names listed in
    ``array_properties`` and the single (sorted-first) lexical value
    otherwise — so multi-valued properties round-trip losslessly instead
    of collapsing to the min element.
    """
    prop = F.substring_index("predicate", predicate_ns, -1)
    array_props = set(array_properties or [])
    # one row per (subject, property) with the sorted value array — keeps
    # map keys unique and multi-valued properties intact
    per_prop = (
        triples
        .groupBy(F.col("subject").alias("uri"),
                 F.when(F.col("predicate").startswith(predicate_ns), prop)
                 .alias("prop"))
        .agg(F.sort_array(F.collect_list("object")).alias("values"),
             F.max(F.when(F.col("predicate") == RDF_TYPE, F.col("object")))
             .alias("_type"))
    )
    agg = (
        per_prop
        .groupBy("uri")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(F.col("prop").isNotNull(),
                           F.struct(F.col("prop").alias("k"),
                                    F.col("values").alias("v")))
                )
            ).alias("props"),
            F.max("_type").alias("rdf_type"),
        )
    )
    if property_names:
        cols = [F.col("uri"), F.col("rdf_type")]
        cols += [
            F.col("props")[p].alias(p) if p in array_props
            else F.element_at(F.col("props")[p], 1).alias(p)
            for p in property_names
        ]
        return agg.select(*cols)
    return agg


def get_triples(triples: DataFrame, s: str | None = None, p: str | None = None,
                o: str | None = None, g: str | None = None) -> DataFrame:
    """S7 pattern scan: None = wildcard (kgraph_rdf_db.py:128-162) — each
    bound term is a pushed-down equality predicate on the scan."""
    out = triples
    for col, val in (("subject", s), ("predicate", p), ("object", o), ("graph", g)):
        if val is not None:
            out = out.where(F.col(col) == val)
    return out


def remove_triples(triples: DataFrame, s: str | None = None,
                   p: str | None = None, o: str | None = None,
                   g: str | None = None) -> DataFrame:
    """S6 pattern delete (kgraph_rdf_db.py:93-126): rows NOT matching the
    pattern survive.  On Iceberg this is `DELETE FROM ... WHERE`."""
    keep = F.lit(False)
    for col, val in (("subject", s), ("predicate", p), ("object", o), ("graph", g)):
        if val is not None:
            # null-safe: a NULL term never *matches* the pattern, so the
            # row survives (plain != would evaluate NULL and drop it)
            keep = keep | ~F.col(col).eqNullSafe(val)
    return triples.where(keep)


def remove_object(triples: DataFrame, uri: str) -> DataFrame:
    """S4 `remove_object` including dangling-edge cleanup: the reference
    deletes quads with subject=URI AND quads whose object is the
    NamedNode(uri) (kgraph.py:147-181) so no edge points at a ghost.

    An object cascades when it equals the URI and io/terms.py's
    ``object_kind`` reads it as an IRI: typed and lang-tagged objects
    are literals and survive, as does a datatype-less object that is
    not IRI-shaped.  A datatype-less, IRI-shaped literal equal to the
    URI is indistinguishable from the IRI in this table and cascades.
    """
    obj, dt, lang = object_columns(triples.columns)
    subj_match = F.col("subject").eqNullSafe(uri)
    obj_match = obj.eqNullSafe(uri) & (object_kind(obj, dt, lang) == IRI)
    return triples.where(~subj_match & ~obj_match)


def clear(triples: DataFrame, graph: str | None = None) -> DataFrame:
    """S18 `clear` (kgraph_rdf_db.py:558-574): drop everything, or one
    named graph only.  On a snapshot catalog: `DELETE FROM triples
    [WHERE graph = ...]` / truncate."""
    if graph is None:
        return triples.limit(0)
    return triples.where(~F.col("graph").eqNullSafe(graph))


def update_object(triples: DataFrame, new_object_triples: DataFrame,
                  uri: str) -> DataFrame:
    """S3 `update_object` = delete subject's triples + re-add
    (kgraph.py:116-145); at scale this is an Iceberg MERGE keyed on subject.
    Null-safe like remove_triples: a NULL-subject row never matches the
    uri, so it survives (plain ``!=`` would silently drop it)."""
    return triples.where(~F.col("subject").eqNullSafe(uri)).unionByName(
        new_object_triples.where(F.col("subject") == uri), allowMissingColumns=True)


def upsert_objects(triples: DataFrame, incoming: DataFrame) -> DataFrame:
    """Set-oriented S1/S2/S3: replace ALL subjects present in `incoming`
    with their incoming triples (anti-join + union — one shuffle, no loop)."""
    subjects = incoming.select("subject").distinct()
    return (
        triples.join(F.broadcast(subjects), "subject", "left_anti")
        .unionByName(incoming, allowMissingColumns=True)
    )


def apply_update(triples: DataFrame,
                 delete: dict | None = None,
                 insert: DataFrame | None = None) -> DataFrame:
    """SPARQL UPDATE analog (kgraph_rdf_db.py:342-357 `sparql_update`,
    which hands a ``DELETE { } INSERT { } WHERE { }`` string to the
    embedded store): the engine's update surface is the same two
    primitives — a pattern delete (``delete`` keyword args for
    remove_triples: s/p/o/g, None = wildcard) followed by an insert of
    ground triples — composed here into one transform.  On Iceberg this
    is a single MERGE; re-expressing the full SPARQL UPDATE grammar is a
    documented non-goal (SURVEY.md §7.4)."""
    out = triples
    if delete is not None:
        out = remove_triples(out, **delete)
    if insert is not None:
        out = out.unionByName(insert, allowMissingColumns=True)
    return out
