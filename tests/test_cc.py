"""Connected components: chains, stars, cycles, multiple components —
validated against a union-find reference on randomized graphs."""

import random

from kgraphmemory_spark.operators.cc import canonical_mapping, connected_components


def _cc_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo
    # normalize: every node → min of component
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # path-compress to true min: find() with lexicographic-min union is
    # already min-rooted since we always attach hi under lo
    return comp


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _cc_oracle(edges)
    # driver union-find path (small-graph cutover)
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want, f"driver path: {got} != {want}"
    # distributed alternating-star path (force it)
    got_d = {r.node: r.component
             for r in connected_components(df, driver_threshold=0).collect()}
    assert got_d == want, f"distributed path: {got_d} != {want}"


def test_chain(spark):
    _run(spark, [("b", "c"), ("c", "d"), ("d", "e"), ("a", "b")])


def test_star(spark):
    _run(spark, [("m", f"x{i}") for i in range(10)])


def test_cycle(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("c", "a")])


def test_two_components_and_self_loop(spark):
    _run(spark, [("a", "b"), ("c", "d"), ("e", "e")])


def test_random_graph(spark):
    rng = random.Random(5)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, edges)


def test_canonical_mapping_isolated_nodes(spark):
    ents = spark.createDataFrame(
        [("ent:a",), ("ent:b",), ("ent:z",)], "entity_id string")
    same = spark.createDataFrame(
        [("ent:a", "ent:b"), ("ent:a", "ent:missing")], "src string, dst string")
    got = {r.entity_id: r.canonical_id
           for r in canonical_mapping(ents, same).collect()}
    # pair with missing endpoint must NOT fire; isolated maps to self
    assert got == {"ent:a": "ent:a", "ent:b": "ent:a", "ent:z": "ent:z"}


def test_canonical_mapping_local_equivalence(spark):
    """The driver fast path (pipeline's tiny-vocabulary branch) must be
    row-identical to the DataFrame path, including missing-endpoint and
    isolated-node semantics, on random graphs."""
    from kgraphmemory_spark.operators.cc import canonical_mapping_local

    rng = random.Random(11)
    for trial in range(3):
        ids = sorted({f"ent:{rng.randrange(40):02d}" for _ in range(30)})
        pairs = [(rng.choice(ids), f"ent:{rng.randrange(50):02d}")
                 for _ in range(25)]          # some endpoints missing
        ents = spark.createDataFrame([(i,) for i in ids], "entity_id string")
        same = spark.createDataFrame(pairs, "src string, dst string")
        df_path = {r.entity_id: r.canonical_id
                   for r in canonical_mapping(ents, same).collect()}
        local = {r.entity_id: r.canonical_id
                 for r in canonical_mapping_local(spark, ids, pairs).collect()}
        assert local == df_path, f"trial {trial}"
    # an empty entity set: no rows, same schema, pairs never fire
    empty = canonical_mapping_local(spark, [], [("ent:a", "ent:b")])
    assert empty.collect() == []
    assert empty.schema.simpleString() == \
        "struct<entity_id:string,canonical_id:string>"


def test_distributed_path_at_representative_shape(spark):
    """The alternating-star loop on the chains+hubs shape (driver_threshold=0
    forces the distributed path): round count stays O(log diameter), the
    closed-form expected mapping holds for every node, and the driver
    union-find path agrees exactly."""
    from pyspark.sql import functions as F

    from kgraphmemory_spark.datagen import synthetic_cc_edges
    from kgraphmemory_spark.operators.cc import connected_components as cc

    chain_rows, chain_len, star_rows, hubs = 16384, 64, 4096, 3
    edges = synthetic_cc_edges(spark, chain_rows, chain_len, star_rows, hubs)
    stats: dict = {}
    comp = cc(edges, driver_threshold=0, stats=stats).cache()

    assert stats["path"] == "distributed"
    # diameter = chain_len; alternating-star halves distances per round
    assert stats["rounds"] <= 2 * 6 + 3, stats  # 2*log2(64) + slack

    assert comp.select("component").distinct().count() == \
        chain_rows // chain_len + hubs

    idx = F.substring("node", 2, 12).cast("long")
    want = (
        F.when(F.col("node").startswith("c"),
               F.format_string("c%012d", (idx - idx % chain_len)))
        .when(F.col("node").startswith("s"),
              F.format_string("h%03d", idx % hubs))
        .otherwise(F.col("node"))  # hubs are their own (min) label
    )
    assert comp.where(F.col("component") != want).count() == 0

    # exact agreement with the driver union-find path on the same graph
    drv = cc(edges).withColumnRenamed("component", "component_drv")
    assert stats["path"] == "distributed"
    joined = comp.join(drv, "node", "full")
    assert joined.where(
        ~F.col("component").eqNullSafe(F.col("component_drv"))).count() == 0
    comp.unpersist()


def test_driver_cutover_is_bytes_aware(spark):
    """A small edge COUNT with huge labels must not collect to the driver:
    the cutover also caps total label bytes."""
    from kgraphmemory_spark.operators.cc import connected_components as cc
    fat = "u" * 4000
    edges = spark.createDataFrame(
        [(fat + "a", fat + "b"), (fat + "b", fat + "c")],
        "src string, dst string")
    stats: dict = {}
    got = {r.node[-1]: r.component[-1]
           for r in cc(edges, driver_max_bytes=1000, stats=stats).collect()}
    assert stats["path"] == "distributed"
    assert stats["label_bytes"] > 1000
    assert got == {"a": "a", "b": "a", "c": "a"}
    stats2: dict = {}
    cc(edges, stats=stats2).collect()
    assert stats2["path"] == "driver"  # default cap keeps small graphs fast


def test_non_convergence_raises_and_conf_restored(spark):
    """Exhausting max_iter must raise (an unconverged star-edge set would
    silently split components) and the pinned shuffle width must be
    restored even then."""
    import pytest
    from kgraphmemory_spark.operators.cc import connected_components as cc
    saved = spark.conf.get("spark.sql.shuffle.partitions", "32")
    # long path graph: diameter forces more than one alternating round
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)],
        "src string, dst string")
    stats: dict = {}
    with pytest.raises(RuntimeError, match="did not converge"):
        cc(edges, max_iter=1, driver_threshold=0, stats=stats)
    assert stats["converged"] is False
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    stats_ok: dict = {}
    got = cc(edges, driver_threshold=0, stats=stats_ok)
    assert stats_ok["converged"] is True
    assert got.select("component").distinct().count() == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
