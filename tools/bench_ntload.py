#!/usr/bin/env python
"""N-Triples bulk-load throughput (S11/S12 twin of the reference's
`bulk_load_file`, whose published headline is 500K+ triples/sec single
node, /root/reference/docs/performance-guide.md:21).

Generates a synthetic N-Quads corpus (one line per triple, mixed URI /
literal / typed-literal objects), writes it as text, then measures the
distributed parse (spark.read.text → regexp extraction → count).

Usage: python tools/bench_ntload.py [n_triples] [cores]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
CORES = int(sys.argv[2]) if len(sys.argv) > 2 else 16


def main() -> None:
    import json
    import tempfile

    from pyspark.sql import functions as F

    from kgraphmemory_spark.io.rdf import parse_lines, serialize_lines
    from kgraphmemory_spark.session import get_spark

    spark = get_spark(app="nt-load-bench", cores=CORES,
                      shuffle_partitions=2 * CORES)

    # synthesize triples distributed: subjects/preds/objects derived from
    # the row id; every 3rd object a plain literal, every 7th typed
    ids = spark.range(0, N, 1, 64)
    tr = ids.select(
        F.concat(F.lit("urn:s:"), (F.col("id") % 1_000_000).cast("string")).alias("subject"),
        F.concat(F.lit("urn:p:"), (F.col("id") % 50).cast("string")).alias("predicate"),
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("value "), F.col("id").cast("string")))
         .otherwise(F.concat(F.lit("urn:o:"), (F.col("id") % 500_000).cast("string")))
         .alias("object"),
        F.when(F.col("id") % 7 == 0,
               F.lit("http://www.w3.org/2001/XMLSchema#string"))
         .cast("string").alias("obj_datatype"),
        F.lit("urn:g:bench").alias("graph"),
    )

    with tempfile.TemporaryDirectory() as td:
        path = td + "/nt"
        t0 = time.time()
        serialize_lines(tr, fmt="nquads").write.mode("overwrite").text(path)
        t_ser = time.time() - t0

        t0 = time.time()
        n = parse_lines(spark.read.text(path)).count()
        t_parse = time.time() - t0

        t0 = time.time()
        # load INTO the store shape: parse + append-style write back to parquet
        parse_lines(spark.read.text(path)).write.mode("overwrite").parquet(td + "/pq")
        t_load = time.time() - t0

    print(json.dumps({
        "n_triples": n,
        "serialize_sec": round(t_ser, 2),
        "serialize_per_sec": round(N / t_ser, 1),
        "parse_count_sec": round(t_parse, 2),
        "parse_per_sec": round(N / t_parse, 1),
        "parse_to_parquet_sec": round(t_load, 2),
        "load_per_sec": round(N / t_load, 1),
        "cores": CORES,
        "loadavg": open("/proc/loadavg").read().split()[:3],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
