"""Graph-table sink: materialize the typed graph keyed by canonical
entity id (north star: "partitioned Iceberg graph tables keyed by
canonical entity id", BASELINE.json).

Each table is written under `<root>/<table>/` with an explicit
`id_bucket = pmod(xxhash64(key), buckets)` partition directory — the
parquet-path analog of Iceberg's `bucket(N, key)` partition transform
(and of `bucketBy`, which plain path-writes cannot express without a
metastore).  Point lookups and co-located joins then prune to one
directory per key:

- `read_graph_table(..., key="ent:x")` compares `id_bucket` with the same
  bucket expression over the literal key, which constant-folds to
  `id_bucket = b AND key = 'ent:x'` — the scan touches 1/N of the data
  (PartitionFilters prune the directories);
- two tables written with the same (key expr, buckets) co-locate their
  keys bucket-for-bucket: a reader can join them bucket-wise without a
  full shuffle (join on (id_bucket, key)).

At 100 TB: buckets sized so one bucket ≈ a few GB (e.g. 2^14 buckets for
the entity table of a 10^12-doc corpus); the skewed hub entities spread
by hash, and writes repartition by the bucket column so each task writes
one directory (no small-files explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import _observe_count, key_bucket

# key column per graph table (entity-keyed tables use the canonical id;
# frames/slots key by their frame so a frame's slots co-locate)
GRAPH_TABLE_KEYS = {
    "entities": "entity_id",
    "relations": "subj",
    "triples": "subject",
    "frames": "frame_uri",
    "slots": "frame_uri",
}


def write_graph_tables(kg, root: str, buckets: int = 64) -> dict[str, int]:
    """Write every graph table bucket-partitioned by its entity key.
    Returns rows-per-table (the write-side audit metric)."""
    counts: dict[str, int] = {}
    for table, key in GRAPH_TABLE_KEYS.items():
        df: DataFrame = getattr(kg, table)
        # one shuffle keyed by the partition dir → each task owns whole
        # buckets, so files-per-bucket stays bounded.  Rows are observed
        # on the write itself: counting df would re-run its whole upstream
        # plan, and counting the written parquet costs a schema-inference
        # job plus a count job
        out, rows = _observe_count(
            df.withColumn("id_bucket", key_bucket(key, buckets))
            .repartition(min(buckets, 64), "id_bucket"))
        out.write.mode("overwrite").partitionBy("id_bucket") \
            .parquet(f"{root}/{table}")
        counts[table] = rows.get["n"]
    return counts


def read_graph_table(spark: SparkSession, root: str, table: str,
                     key: str | None = None,
                     buckets: int = 64) -> DataFrame:
    """Read a graph table; with `key` set, prune to that key's bucket
    directory (PartitionFilters) before the row-level filter."""
    df = spark.read.parquet(f"{root}/{table}")
    if key is None:
        return df
    key_col = GRAPH_TABLE_KEYS[table]
    return df.where((F.col("id_bucket") == key_bucket(F.lit(key), buckets))
                    & (F.col(key_col) == key))
