"""Benchmark harness: the construction headline, its core scaling and a
battery of engine rows, with one compact JSON line as the result.

    python bench.py [--no-scaling]

The last stdout line is one compact JSON object, well under the 4 KB
tail that the tools reading it capture: ``metric``/``value`` (the
headline build's wall seconds), ``queries`` (wall seconds per row),
``cpu_s`` (process-tree CPU seconds per row), ``throughput``,
``stage_rows``, ``sizes``, ``scaling`` and, when a row or phase failed
or ran out of budget, ``errors`` and ``skipped``.  The same complete line
is printed after every phase, so a run killed mid-way still ends on a
parsable line with every phase it finished.  Progress goes to stderr.

The harness is built from perfbench's pieces, imported as they are, and
sizes itself to the host from ``host_resources()`` (cores, driver heap):

1. Headline.  ``workload.corpus_rows("closed", PAGES, SEED)`` is written
   as parquet and built by one checkpointed ``run_pipeline`` in a fresh
   JVM at all cores (``perfbench/cold_build.py``): that is
   ``kg_pipeline``.  docs/s and triples/s come from the ``docs_clean``
   and ``triples`` manifest rows that build committed.  The corpus is
   large enough that executor work outweighs the ~30-40 CPU-s of JIT and
   planning every build pays whatever its size.  No oracle is built:
   at this size it costs more than the build, and correctness is
   perfbench's job.
2. Scaling.  The same cold build at N = max(1, cores // 4); with
   M = cores, efficiency = (T_N / T_M) / (M / N).  Each build runs in a
   JVM of its own, since the engine's UDFs stay bound to the first JVM
   of a process.
3. Battery.  Registry queries over $SPARK_GRAFT_SF_DIR and synthetic
   rows whose answers have closed forms (asserted), in one ``Session``
   started after both builds exited.  Each row runs once, recording its
   wall time and the CPU time of the whole process tree: CPU-s is what
   other tenants' load disturbs least (perfbench/BENCHMARK.md).  The
   synthetic rows scale with one host factor (``sizes``), which the line
   records; the salted-linking row keeps its alias table past
   ``BROADCAST_MAX_ALIAS_ROWS`` at every size, so it measures the real
   broadcast-to-salted cutover.

All phases share one wall budget, ``WALL_BUDGET_S``: the scaling build is
killed at it, and battery rows that would start past it are listed as
``skipped``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(ROOT, "perfbench")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF_LABEL = SF_DIR.rstrip("/").split("/")[-1]

PAGES = 100_000
SEED = 1
WALL_BUDGET_S = 1_800

# registry rows of the battery, over the scale-factor tables
REGISTRY_ROWS = ("kg_frame_reconstruct", "a1_tpch_q1", "j3_multiway_topk",
                 "v1_cosine_topk", "v4_lsh_ann", "v5_ivf_ann",
                 "d3_minhash_lsh", "d2_ngram_jaccard",
                 "sparql_frame_construct", "sparql_path_reach")
# materialized once, untimed, before the rows that read them
KG_TABLES = ("docs_clean", "entities", "relations", "frames", "slots",
             "triples", "provenance")
CHAIN_LEN, HUBS, CLOSURE_K, CLOSURE_DEPTH = 64, 4, 10, 3
ZIPF_ROWS_PER_TAIL_DOMAIN, DOMAIN_CAP = 50, 100
# a writer holds ~15k tokens at units=1, so every size packs > 1 shard
PACK_BUDGET_TOKENS = 10_000


def sizes(cores: int, heap_mb: int) -> dict:
    """Core counts of the builds and sizes of the synthetic battery rows
    on a host with ``cores`` and a driver heap of ``heap_mb``.  The rows
    scale with one factor, ``units``: the cores the heap can feed at
    512 MB each."""
    from kgraphmemory_spark.operators.linking import BROADCAST_MAX_ALIAS_ROWS
    units = max(1, min(cores, heap_mb // 512))
    return {
        "scaling_cores": [max(1, cores // 4), cores],
        "units": units,
        "cc_chain_rows": 256_000 * units,
        "cc_star_rows": 62_500 * units,
        "closure_trees": 280 * units,
        "salted_alias_rows": BROADCAST_MAX_ALIAS_ROWS + 100_000,
        "salted_mention_rows": 62_500 * units,
        "zipf_hub_rows": [125_000 * units, 31_250 * units],
        "zipf_tail_domains": 3_125 * units,
    }


def scaling_block(n: int, t_n: float, m: int, t_m: float) -> dict:
    """The same build at ``n`` and ``m`` > ``n`` cores, taking ``t_n`` and
    ``t_m`` seconds: efficiency 1.0 is a linear speedup."""
    speedup = t_n / t_m
    return {"n_cores": n, "n_sec": round(t_n, 3), "m_cores": m,
            "m_sec": round(t_m, 3), "speedup": round(speedup, 3),
            "efficiency": round(speedup / (m / n), 3)}


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:200]


def log(msg: str) -> None:
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def emit(result: dict) -> None:
    print(json.dumps(result, separators=(",", ":")), flush=True)


def cold_build(pages_dir: str, graph_dir: str, work: str, heap_mb: int,
               cores: int, tree, timeout: float) -> tuple[float, float]:
    """One checkpointed build at ``cores`` in a JVM of its own.
    → (build seconds, CPU seconds of the child process tree)"""
    c0 = tree.cpu_s()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "cold_build.py"), pages_dir,
         graph_dir, work, str(heap_mb), str(cores)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=timeout)
    return float(out.stdout.split()[-1]), tree.cpu_s() - c0


def run_battery(rows, deadline: float, tree, result: dict) -> None:
    """Run each ``(name, row)`` once, recording its wall seconds in
    ``queries``, its process-tree CPU seconds in ``cpu_s`` and the facts
    it returns, if a dict, in ``throughput``.  Rows that would start past
    ``deadline`` (``time.monotonic``) are listed in ``skipped``; a row
    that raises is listed in ``errors`` and the next one runs."""
    for name, row in rows:
        if time.monotonic() > deadline:
            result.setdefault("skipped", []).append(name)
            continue
        t0, c0 = time.perf_counter(), tree.cpu_s()
        try:
            facts = row()
        except Exception as exc:
            traceback.print_exc()
            result.setdefault("errors", {})[name] = _error(exc)
            continue
        result["queries"][name] = round(time.perf_counter() - t0, 3)
        result["cpu_s"][name] = round(tree.cpu_s() - c0, 2)
        log(f"{name}: {result['queries'][name]} s, "
            f"{result['cpu_s'][name]} CPU-s")
        if isinstance(facts, dict):
            result["throughput"].update(facts)


def battery(spark, sz: dict) -> list:
    """The battery's ``(name, row)`` pairs in run order."""
    from pyspark.sql import functions as F

    from kgraphmemory_spark import datagen as D
    from kgraphmemory_spark import queries as Q
    from kgraphmemory_spark.io.serialize import serialize_rdf
    from kgraphmemory_spark.operators import dedup
    from kgraphmemory_spark.operators.cc import connected_components
    from kgraphmemory_spark.operators.corpus import cap_per_domain, pack_shards
    from kgraphmemory_spark.operators.linking import (
        link_mentions,
        rank_candidates,
    )
    from kgraphmemory_spark.sparql import SparqlEngine

    docs = Q.load(spark, SF_DIR, "documents")
    hubs, tail = sz["zipf_hub_rows"], sz["zipf_tail_domains"]
    zipf_rows = sum(hubs) + ZIPF_ROWS_PER_TAIL_DOMAIN * tail

    def query(name):
        return lambda: Q.QUERIES[name](spark, SF_DIR).count()

    def cc():
        # disjoint chains plus hub stars: one component per chain and hub
        edges = D.synthetic_cc_edges(spark, sz["cc_chain_rows"], CHAIN_LEN,
                                     sz["cc_star_rows"], HUBS)
        stats: dict = {}
        n = (connected_components(edges, driver_threshold=0, stats=stats)
             .select("component").distinct().count())
        expected = sz["cc_chain_rows"] // CHAIN_LEN + HUBS
        assert n == expected, (n, expected)
        return {"cc_rounds": stats.get("rounds")}

    def closure():
        # closed forms in datagen.synthetic_hierarchy_triples
        k, depth = CLOSURE_K, CLOSURE_DEPTH
        eng = SparqlEngine(D.synthetic_hierarchy_triples(
            spark, trees=sz["closure_trees"], k=k, depth=depth))
        n = eng.query("SELECT ?a ?b WHERE { ?a <urn:child>+ ?b }").count()
        assert eng.closure_stats.get("rounds") == depth, eng.closure_stats
        expected = sz["closure_trees"] * sum(
            level * k ** level for level in range(1, depth + 1))
        assert n == expected, (n, expected)
        return {"path_closure_rounds": depth}

    def salted():
        # every mention surface is in the alias table: the join is 1:1
        alias, mentions = D.synthetic_alias_and_mentions(
            spark, sz["salted_alias_rows"], sz["salted_mention_rows"])
        n = link_mentions(mentions, rank_candidates(alias),
                          salted=True).count()
        assert n == sz["salted_mention_rows"], n

    def zipf():
        return D.synthetic_zipf_corpus(spark, rows=zipf_rows, hub_rows=hubs,
                                       tail_domains=tail)

    def domain_cap():
        # the hubs are capped, every tail domain is under the cap
        stats: dict = {}
        n = cap_per_domain(zipf(), "domain", "doc_id", cap=DOMAIN_CAP,
                           stats=stats).count()
        expected = DOMAIN_CAP * len(hubs) + ZIPF_ROWS_PER_TAIL_DOMAIN * tail
        assert n == expected, (n, expected)
        return {"domain_cap_over_domains": stats["over_cap_domains"]}

    def pack():
        # a doc has (id % 97) + 1 tokens
        tokens, ix, n = pack_shards(
            zipf(), "writer", "doc_id", "text",
            budget_tokens=PACK_BUDGET_TOKENS).agg(
            F.sum("n_tokens"), F.max("shard_ix"), F.count(F.lit(1))
        ).collect()[0]
        cycles, rem = divmod(zipf_rows, 97)
        expected = cycles * (97 * 98 // 2) + rem * (rem + 1) // 2
        assert (tokens, n) == (expected, zipf_rows) and ix >= 1, \
            (tokens, n, ix)
        return {"pack_shards_max_ix": ix}

    return [
        *((name, query(name)) for name in REGISTRY_ROWS),
        ("serialize_turtle_full", lambda: serialize_rdf(
            Q.QUERIES["kg_triples_long"](spark, SF_DIR), "turtle").count()),
        ("simhash_full", lambda: dedup.simhash_signatures(
            docs, "doc_id", "text").count()),
        ("dedup_classes_full", lambda: dedup.minhash_dedup_components(
            docs, "doc_id", "text").count()),
        ("cc_distributed", cc),
        ("sparql_closure", closure),
        ("salted_link_at_cutover", salted),
        ("domain_cap_zipf", domain_cap),
        ("pack_shards", pack),
    ]


def main(argv: list[str]) -> int:
    sys.path[:0] = [ROOT, BENCH]
    import workload as W
    from run import Session, host_resources
    from tracing import STAGES, ProcessTree

    from kgraphmemory_spark import queries as Q
    from kgraphmemory_spark.io.snapshots import SnapshotCatalog

    deadline = time.monotonic() + WALL_BUDGET_S
    cores, heap_mb = host_resources()
    sz = sizes(cores, heap_mb)
    work = os.path.join(ROOT, f".bench_work-{os.getpid()}")
    pages_dir = os.path.join(work, "pages")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    tree = ProcessTree()
    session = Session(work, heap_mb)
    result = {"metric": "kg_construction_wall_clock", "value": None,
              "unit": "sec", "sf": SF_LABEL, "cpus": cores,
              "heap_mb": heap_mb, "pages": PAGES, "queries": {},
              "cpu_s": {}, "throughput": {}, "sizes": sz}
    try:
        W.write_pages(W.corpus_rows("closed", PAGES, SEED), pages_dir)
        log(f"corpus: {PAGES} closed pages; building at local[{cores}], "
            f"heap {heap_mb} MB")
        graph = os.path.join(work, "graph")
        sec, cpu = cold_build(pages_dir, graph, work, heap_mb, cores, tree,
                              WALL_BUDGET_S)
        cat = SnapshotCatalog(graph)
        rows = {stage: cat.manifest(stage)["rows"] for stage in STAGES}
        result["value"] = result["queries"]["kg_pipeline"] = round(sec, 3)
        result["cpu_s"]["kg_pipeline"] = round(cpu, 2)
        result["throughput"].update(
            docs_per_sec=round(rows["docs_clean"] / sec, 1),
            triples_per_sec=round(rows["triples"] / sec, 1))
        result["stage_rows"] = rows
        emit(result)

        if "--no-scaling" not in argv:
            n, m = sz["scaling_cores"]
            log(f"scaling: building at local[{n}]")
            try:
                t_n, _ = cold_build(pages_dir, os.path.join(work, "graph-n"),
                                    work, heap_mb, n, tree,
                                    max(1.0, deadline - time.monotonic()))
                result["scaling"] = scaling_block(n, t_n, m, sec)
            except Exception as exc:
                traceback.print_exc()
                result["scaling"] = {"n_cores": n, "m_cores": m,
                                     "error": _error(exc)}
            emit(result)

        spark = session.start(cores)
        kg = Q.kg_tables(spark, SF_DIR)
        for name in KG_TABLES:
            getattr(kg, name).count()
        log("battery")
        run_battery(battery(spark, sz), deadline, tree, result)
    except Exception as exc:
        traceback.print_exc()
        result.setdefault("errors", {})["run"] = _error(exc)
    finally:
        session.shutdown(tree)
        shutil.rmtree(work, ignore_errors=True)
    emit(result)
    return 1 if "errors" in result else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
