"""Connected components over an edge DataFrame — the canonicalization core.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14): converges in O(log n) rounds, every
round is plain groupBy/join — shuffle-friendly, no driver-side graph.  The
reference has no CC (closest analog is URI-dedup); the north rule requires
it for entity canonicalization on a GraphFrames-style edge DataFrame.

Scale notes:
- per-round `localCheckpoint` truncates lineage (mandatory — the plan
  otherwise doubles every round);
- convergence detected by an order-insensitive checksum
  (sum of xxhash64(u,v)) + edge count — one cheap agg per round instead of
  an exceptAll diff;
- labels are strings (entity URIs); min = lexicographic, matching
  `semantics.canonical_map`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import driver_frame


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).cast("decimal(38,0)").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find(pairs) -> dict[str, str]:
    """Driver union-find over ``(a, b)`` pairs → {node: root} for every
    node of a pair.  Union-by-min keeps every root the lexicographic min
    of its class (the ``semantics.canonical_map`` label)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _driver_union_find(e: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """Small-graph path: collect the (already symmetric, distinct) edges,
    union-find on the driver, broadcast the mapping back as a DataFrame."""
    roots = _union_find((r["u"], r["v"]) for r in e.collect())
    comp = driver_frame(e.sparkSession, list(roots.items()),
                        "node string, component string")
    return (
        all_nodes.join(F.broadcast(comp), "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    driver_max_bytes: int = 256 << 20,
    stats: dict | None = None,
) -> DataFrame:
    """→ DataFrame(node string, component string) for every node that
    appears in ``edges``; component = lexicographic min node id of the CC.
    Callers union in their isolated nodes (component = self) afterwards.

    Adaptive execution (same spirit as AQE's broadcast cutover): below
    ``driver_threshold`` edges the component graph fits comfortably on the
    driver, where union-find is O(E α(E)) with zero per-round job latency;
    above it, the alternating-star loop runs fully distributed.  Both paths
    produce the identical min-labelled mapping (tests cross-check them).

    The driver cutover is row- AND bytes-aware: labels are arbitrary URI
    strings, so a row cap alone could collect multi-GB onto the driver
    when labels are long — the same count job also sums label bytes and
    the driver path additionally requires ≤ ``driver_max_bytes`` (default
    256 MB of raw label text, well under typical driver headroom after
    Python-object overhead).

    ``stats`` (optional dict) is filled with ``path`` (driver|distributed),
    ``edges`` (symmetric-closure count), ``label_bytes`` and, on the
    distributed path, ``rounds`` — the observability hook the
    O(log n)-round claim is asserted against (tests/test_cc.py, bench.py
    ``cc_distributed`` row).
    """
    # materialize the input once — all_nodes, the symmetric closure and the
    # first checkpoint otherwise each recompute the (possibly expensive)
    # upstream plan that produced the edges
    raw = edges.select(F.col(src).cast("string").alias("u"),
                       F.col(dst).cast("string").alias("v"))
    raw = raw.localCheckpoint(eager=True)
    all_nodes = (
        raw.select(F.explode(F.array("u", "v")).alias("node"))
        .where(F.col("node").isNotNull()).distinct()
    )
    e = raw.where(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
    )
    # symmetric closure once up front; stars keep orientation afterwards
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    e = e.localCheckpoint(eager=True)

    # size the iteration width to the graph, not the session default —
    # a handful of same-as edges must not pay 128-task jobs per round,
    # while a billion-edge graph gets a partition per ~500k edges.
    size_row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("u") + F.length("v")), F.lit(0))
        .alias("b"),
    ).collect()[0]
    n_edges, label_bytes = int(size_row["n"]), int(size_row["b"])
    if stats is not None:
        stats["edges"] = n_edges
        stats["label_bytes"] = label_bytes
    if n_edges == 0:
        if stats is not None:
            stats["path"] = "empty"
        return all_nodes.withColumn("component", F.col("node"))

    if n_edges <= driver_threshold and label_bytes <= driver_max_bytes:
        if stats is not None:
            stats["path"] = "driver"
        return _driver_union_find(e, all_nodes)
    if stats is not None:
        stats["path"] = "distributed"

    width = max(1, min(int(e.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")), (n_edges // 500_000) + 1))
    e = e.repartition(width, "u").localCheckpoint(eager=True)

    # pin the loop's shuffle width (AQE still coalesces below it); restored
    # at the end so callers keep their session setting
    spark = e.sparkSession
    saved_width = spark.conf.get("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))

    import time as _time
    round_secs: list[float] = []
    round_edges: list[int] = []
    prev = (-1, 0)
    rounds = 0
    converged = False
    try:
        for _ in range(max_iter):
            rounds += 1
            _t0 = _time.time()
            # -- large star: for each u, link every neighbor v > u to
            #    m = min(neighborhood ∪ {u}).  Round 1 skips the re-union:
            #    the input is already the symmetric closure, and doubling
            #    it only doubles the heaviest round's shuffle volume.
            if rounds == 1:
                sym = e
            else:
                sym = e.union(
                    e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = (
                sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m"))
            )
            # shuffle-hash hint: mins is one row per node — building a
            # hash map per partition beats sort-merge's full sort of the
            # (much larger) edge side every round
            # NO distinct here: the small star's orientation-normalized
            # dedup right below restores set semantics, so the large
            # star's own Exchange+HashAgg was a redundant 4th shuffle
            # per round (A/B at 20M edges: 147 s idle → 127 s measured
            # under ~10 cores of external load; same 7 rounds, exact
            # component count)
            e = (
                sym.join(mins.hint("shuffle_hash"), "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
            )
            # -- small star: orient edges high→low, link every low
            #    neighbor (and u itself) to the min
            lo = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            ).distinct()
            mins = lo.groupBy("u").agg(F.min("v").alias("m"))
            e = (
                lo.join(mins.hint("shuffle_hash"), "u")
                .select(F.col("v").alias("n"), F.col("m"))
                .union(mins.select(F.col("u").alias("n"), F.col("m")))
                .where(F.col("n") != F.col("m"))
                .select(F.col("n").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            e = e.localCheckpoint(eager=True)
            cur = _checksum(e)
            round_secs.append(round(_time.time() - _t0, 2))
            round_edges.append(cur[0])
            if cur == prev:
                converged = True
                break
            prev = cur
    finally:
        # restore even when a round's job dies — a leaked 1-partition
        # pin would silently serialize the rest of the session
        spark.conf.set("spark.sql.shuffle.partitions", saved_width)
    if stats is not None:
        stats["rounds"] = rounds
        stats["round_secs"] = round_secs
        stats["round_edges"] = round_edges
        stats["converged"] = converged
    if not converged:
        # an unconverged edge set still contains intermediate star edges —
        # returning it would silently split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({round_edges[-1] if round_edges else 0} edges left); "
            "raise max_iter (rounds needed ≈ O(log n))")

    # after convergence every edge is (node → component-min); nodes that
    # only appeared in self-loops / singleton inputs map to themselves
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        all_nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def canonical_mapping_local(spark, entity_ids: list[str],
                            same_as_pairs: list[tuple[str, str]]) -> DataFrame:
    """Driver fast path for ``canonical_mapping`` when the caller ALREADY
    knows the entity universe is tiny (the pipeline counts the ranked
    alias table anyway, so no extra job is spent learning it): one
    driver-side union-find over the live pairs, one Arrow table back
    (``session.driver_frame``).  The DataFrame path spends ~6 small Spark
    jobs (checkpoints, size agg, edge collect, mapping join) whose fixed
    scheduling latency lands in the scaling run's SERIAL floor — at a
    bounded vocabulary all of them compute over a few dozen rows.
    Identical output to ``canonical_mapping`` (lexicographic-min labels,
    only pairs with both endpoints live fire, isolated ids map to
    themselves) — asserted in tests/test_cc.py."""
    live = set(entity_ids)
    roots = _union_find((a, b) for a, b in same_as_pairs
                        if a in live and b in live)
    rows = [(e, roots.get(e, e)) for e in sorted(live)]
    return driver_frame(spark, rows, "entity_id string, canonical_id string")


def canonical_mapping(entities: DataFrame, same_as: DataFrame) -> DataFrame:
    """entity_id → canonical_id for ALL entities (isolated → self).

    ``same_as`` must have columns (src, dst); only pairs where both
    endpoints exist in ``entities`` fire — mirrors
    ``semantics.canonical_map``.
    """
    ids = entities.select("entity_id").distinct().localCheckpoint(eager=True)
    live = (
        same_as.join(ids.withColumnRenamed("entity_id", "src"), "src",
                     "left_semi")
        .join(ids.withColumnRenamed("entity_id", "dst"), "dst", "left_semi")
    )
    comp = connected_components(live, "src", "dst")
    return (
        ids.join(comp, ids["entity_id"] == comp["node"], "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id"))
            .alias("canonical_id"),
        )
    )
