"""Snapshot catalog — Iceberg-shaped checkpointing with a parquet+manifest
fallback (the sandbox has no Iceberg jars; the interface is the contract).

Every pipeline stage commits atomically, executing its plan once:
1. write data parquet under   <root>/<stage>/data/ — the only run of the
   stage plan; an ``Observation`` on that write counts its rows, plus any
   extra named aggregates the caller asks for (``observe=``);
2. aggregate lineage over the committed snapshot read back from disk and
   write it under <root>/<stage>/lineage/ (per-partition rows: url-bucket,
   counts, optional link-score histogram json), counted the same way;
3. atomically rename a manifest json into place — the commit point.

Resume: a stage whose manifest exists is read back, not recomputed — a
killed run therefore never reprocesses committed work (north rule:
"resumes from the last committed snapshot").  Manifests carry the row
count, the ``observed`` aggregates and the schema, plus the BACKEND the
stage data actually lives in.  Parquet snapshots are read back by schema
— the written DataFrame's in ``commit``, the manifest's on resume — so
neither read starts Spark's footer-reading schema-inference job, and a
resume-load of a whole graph starts no Spark job at all.

Iceberg adoption (round 4, SURVEY §7.1): when (a) the Iceberg Spark
runtime is on the classpath AND (b) a catalog name is configured
(``spark.kgm.iceberg.catalog`` conf or ``KGM_ICEBERG_CATALOG`` env),
stage data commits as a real Iceberg table snapshot via
``df.writeTo(<catalog>.<ns>.<stage>).createOrReplace()`` — atomic by
Iceberg's own metadata swap — and reads back through ``spark.table``.
The local manifest json stays either way (it is the resume token and the
audit record; its ``backend``/``table`` fields say where the data is).
This sandbox ships no Iceberg jars, so here ``_iceberg_catalog`` returns
None and every test runs the parquet path; on a jarred cluster the SAME
interface commits snapshots with no caller change.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Configured Iceberg catalog name, or None → parquet fallback.
    Both the jars AND an explicit catalog opt-in are required — detecting
    jars alone must not silently redirect stage data."""
    name = os.environ.get("KGM_ICEBERG_CATALOG") or \
        spark.conf.get("spark.kgm.iceberg.catalog", None)
    if not name:
        return None
    return name if iceberg_available(spark) else None


def _observe_count(df: DataFrame,
                   *aggs: Column) -> tuple[DataFrame, Observation]:
    """``df`` counting its rows — and computing the named aggregates
    ``aggs`` — as a side effect of the action that runs it:
    ``obs.get["n"]`` (and ``obs.get[<alias>]``) after that action, with no
    extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs), obs


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        # identifier-safe namespace derived from the workdir (one run's
        # stages share it, so parallel runs never collide on table names)
        self.namespace = "kgm_" + re.sub(r"\W+", "_", root).strip("_")[-48:]
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    # -- API ------------------------------------------------------------
    def committed(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    def _table(self, catalog: str, stage: str) -> str:
        return f"{catalog}.{self.namespace}.{stage}"

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """A stage's data; committed parquet is read with the manifest's
        schema, so the read starts no schema-inference job."""
        path = os.path.join(self._dir(stage), "data")
        if not self.committed(stage):
            return spark.read.parquet(path)
        man = self.manifest(stage)
        if man.get("backend") == "iceberg":
            return spark.table(man["table"])
        schema = StructType.fromJson(json.loads(man["schema"]))
        return spark.read.schema(schema).parquet(path)

    def read_lineage(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(stage), "lineage"))

    def commit(self, stage: str, df: DataFrame,
               lineage_of=None, observe=()) -> DataFrame:
        """Write + manifest-commit a stage; returns the re-read DataFrame
        (reading back pins the stage output — downstream plans scan parquet
        instead of recomputing the whole upstream lineage).  Parquet is
        read back with ``df``'s schema, which skips schema inference.

        ``df``'s plan runs exactly once, in the data write; the manifest's
        ``rows`` is observed on that write, and so is each named aggregate
        in ``observe`` (aliased Columns), recorded under ``observed``.
        ``lineage_of(out)``, when given, aggregates lineage over the
        read-back snapshot — the rows actually on disk — and its row count
        is observed on its write; it may return None for a stage without
        lineage."""
        d = self._dir(stage)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)
        spark = df.sparkSession
        catalog = _iceberg_catalog(spark)
        df, obs = _observe_count(df, *observe)
        if catalog is not None:
            table = self._table(catalog, stage)
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                      f"{catalog}.{self.namespace}")
            df.writeTo(table).createOrReplace()  # Iceberg metadata swap
            out = spark.table(table)
        else:
            df.write.mode("overwrite").parquet(os.path.join(d, "data"))
            out = spark.read.schema(df.schema).parquet(os.path.join(d, "data"))
        lineage = lineage_of(out) if lineage_of is not None else None
        n_lineage = 0
        if lineage is not None:
            lineage, lin_rows = _observe_count(lineage)
            lineage.write.mode("overwrite").parquet(os.path.join(d, "lineage"))
            n_lineage = lin_rows.get["n"]
        observed = obs.get
        man = {
            "stage": stage,
            "rows": observed.pop("n"),
            "observed": observed,
            "lineage_rows": n_lineage,
            "schema": out.schema.json(),
            "committed_at_epoch": int(time.time()),
            "backend": "iceberg" if catalog is not None
            else "parquet+manifest",
        }
        if catalog is not None:
            man["table"] = self._table(catalog, stage)
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest(stage))  # atomic commit point
        return out

    def stage(self, spark: SparkSession, name: str, build,
              lineage_of=None, observe=()) -> DataFrame:
        """Resume-or-build: committed stages load from parquet; otherwise
        `build()` runs and the result is committed, with optional lineage
        derived by `lineage_of` from the committed snapshot and the
        ``observe`` aggregates recorded in the manifest (``commit``)."""
        if self.committed(name):
            return self.read(spark, name)
        return self.commit(name, build(), lineage_of=lineage_of,
                           observe=observe)


def key_bucket(key: str | Column, buckets: int = 64) -> Column:
    """``pmod(xxhash64(key), buckets)`` — the one stable key bucketing:
    lineage url buckets, graph-table ``id_bucket`` partitions, and a
    point lookup's bucket (over ``F.lit(value)``, which constant-folds
    into a partition filter).  ``key`` is a column name or a Column."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(buckets)).cast("int")


def lineage_by_url(df: DataFrame, stage: str,
                   extra_aggs: dict | None = None) -> DataFrame:
    """Per-url-bucket lineage rows: (stage, bucket, out_count [, extras])."""
    aggs = [F.count(F.lit(1)).alias("out_count")]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    return (
        df.withColumn("bucket", key_bucket("url"))
        .groupBy("bucket")
        .agg(*aggs)
        .withColumn("stage", F.lit(stage))
    )
