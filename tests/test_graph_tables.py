"""Bucket-partitioned graph-table sink: partition pruning on point
lookups, bucket-for-bucket co-location."""

import pytest

from kgraphmemory_spark import datagen
from kgraphmemory_spark.io.graph_tables import (
    GRAPH_TABLE_KEYS,
    read_graph_table,
    write_graph_tables,
)
from kgraphmemory_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def graph_root(spark, tmp_path_factory):
    pages = datagen.generate_pages(spark, 60, seed=11)
    kg = run_pipeline(spark, pages)
    root = str(tmp_path_factory.mktemp("graph"))
    counts = write_graph_tables(kg, root, buckets=16)
    return root, counts, kg


def test_write_and_full_read_roundtrip(spark, graph_root):
    root, counts, kg = graph_root
    for table in GRAPH_TABLE_KEYS:
        df = read_graph_table(spark, root, table)
        assert df.count() == counts[table] > 0
    # values survive (entities modulo the added id_bucket column)
    got = {r.entity_id: r.mention_count for r in
           read_graph_table(spark, root, "entities").collect()}
    want = {r.entity_id: r.mention_count for r in kg.entities.collect()}
    assert got == want


def test_point_lookup_prunes_partitions(spark, graph_root):
    root, _, kg = graph_root
    some = kg.entities.first().entity_id
    hit = read_graph_table(spark, root, "entities", key=some, buckets=16)
    rows = hit.collect()
    assert [r.entity_id for r in rows] == [some]
    # the scan prunes to the key's bucket directory (PartitionFilters on
    # the partition column; inputFiles() reflects the pre-filter index,
    # so assert on the physical plan)
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hit.explain("formatted")
    plan = buf.getvalue()
    # the bucket the write put the key in, as a literal in the filter:
    # the lookup's bucket expression constant-folded on the driver
    b = rows[0].id_bucket
    assert "PartitionFilters" in plan
    assert f"(id_bucket#" in plan and f"= {b})" in plan


def test_colocation_same_bucket_across_tables(spark, graph_root):
    root, _, kg = graph_root
    # entities and relations share the key expression → a key lands in the
    # same bucket in both tables (bucket-wise join needs no shuffle realign)
    ent = {r.entity_id: r.id_bucket for r in
           read_graph_table(spark, root, "entities").collect()}
    rel = read_graph_table(spark, root, "relations").select(
        "subj", "id_bucket").collect()
    assert rel, "relations table is non-empty"
    for r in rel:
        assert ent[r.subj] == r.id_bucket
