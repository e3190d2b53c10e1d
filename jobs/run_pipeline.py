#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline (north rule:
"runs via spark-submit --py-files on a multi-executor cluster").

Packaging + launch:

    zip -qr /tmp/kgm.zip kgraphmemory_spark     # from the repo root
    spark-submit --master local[16] \\
        --py-files /tmp/kgm.zip \\
        jobs/run_pipeline.py \\
        --input <sf_dir>/documents.parquet \\
        --workdir /tmp/kgm_run

On a real cluster, swap --master (YARN/K8s) and point --input at the
Iceberg/parquet pages table; everything else is identical.  The job prints
one JSON metrics line (docs/sec, triples/sec, per-stage rows) and commits
every stage through the SnapshotCatalog, so a killed run rerun with the
same --workdir resumes from the last committed snapshot.  Every plan
(broadcast or salted linking, doc-aggregate or shuffle rollups) follows
the discovered alias table's size.

The session is obtained via SparkSession.builder.getOrCreate() so
spark-submit's --master/--conf win; sensible AQE/Arrow defaults are applied
only where unset (tests/test_submit.py runs this end to end through real
spark-submit with --py-files).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def build_session(app: str) -> SparkSession:
    b = SparkSession.builder.appName(app)
    session = b.getOrCreate()
    conf = session.conf
    defaults = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in defaults.items():
        try:
            conf.set(k, v)
        except Exception:
            pass  # immutable at runtime under some masters — submit-time conf wins
    return session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet (url,warc_ts,html,text,lang) or a "
                         "documents parquet to be lifted to that schema")
    ap.add_argument("--workdir", required=True,
                    help="snapshot root; rerun with the same dir to resume")
    ap.add_argument("--synthetic-pages", type=int, default=None,
                    help="generate N synthetic pages instead of reading "
                         "--input (bench/scaling runs)")
    ap.add_argument("--graph-tables-out", default=None,
                    help="also materialize the graph tables bucket-"
                         "partitioned by canonical entity id (north rule: "
                         "'partitioned graph tables keyed by canonical "
                         "entity id'; io/graph_tables.py)")
    ap.add_argument("--graph-buckets", type=int, default=64)
    args = ap.parse_args()

    spark = build_session("kgm-pipeline")
    from kgraphmemory_spark.datagen import (
        generate_pages_distributed,
        pages_from_documents,
    )
    from kgraphmemory_spark.io.snapshots import SnapshotCatalog
    from kgraphmemory_spark.pipeline import run_pipeline

    if args.synthetic_pages:
        pages = generate_pages_distributed(spark, args.synthetic_pages, seed=42)
    else:
        raw = spark.read.parquet(args.input)
        if "doc_id" in raw.columns:  # driver testdata documents shape
            pages = pages_from_documents(raw)
        else:
            pages = raw

    t0 = time.time()
    kg = run_pipeline(spark, pages, workdir=args.workdir)
    # row counts as committed: every stage's manifest records its own
    cat = SnapshotCatalog(args.workdir)
    counts = {
        key: cat.manifest(stage)["rows"]
        for key, stage in (("docs", "docs_clean"),
                           ("raw_triples", "raw_triples"),
                           ("entities", "entities"),
                           ("relations", "relations"),
                           ("triples_long", "triples"))
    }
    if args.graph_tables_out:
        from kgraphmemory_spark.io.graph_tables import write_graph_tables
        counts["graph_tables"] = write_graph_tables(
            kg, args.graph_tables_out, buckets=args.graph_buckets)
    wall = time.time() - t0
    print(json.dumps({
        "metric": "kg_construction_wall_clock",
        "value": round(wall, 3),
        "unit": "sec",
        "counts": counts,
        "docs_per_sec": round(counts["docs"] / wall, 1),
        "triples_per_sec": round(counts["raw_triples"] / wall, 1),
        "stages_resumed": kg.stages_resumed,
        "parallelism": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
