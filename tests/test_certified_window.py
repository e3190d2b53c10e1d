"""Certified-window integrity: the 50 driver-certified registry entries
must stay (a) oracle-paired, (b) §2-family-complete, and (c) free of
output columns the DRIVER's pandas canonicalizer cannot factorize.

Round-4 red row `m_census_multimodal` happened because the local mirror
stringifies cells while the driver's canonicalizer raises
``unhashable type: 'list'`` on array<double> cells — mirror-green /
driver-red.  tests/driver_mirror.py now rejects array/map/struct output
columns for certified entries (`unhashable_columns`); these tests pin
that gate and the `_FAMILY_COVERAGE` rotation guard so neither can
regress silently.
"""

import pytest
from pyspark.sql import types as T

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from driver_mirror import unhashable_columns  # noqa: E402

from kgraphmemory_spark import queries as Q  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def test_unhashable_columns_flags_array_map_struct():
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("pair", T.StructType(
            [T.StructField("a", T.LongType())])),
        T.StructField("n", T.LongType()),
    ])
    assert unhashable_columns(schema) == ["feature", "meta", "pair"]


def test_unhashable_columns_accepts_scalars():
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("i", T.LongType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dec", T.DecimalType(10, 2)),
    ])
    assert unhashable_columns(schema) == []


def test_mirror_gate_rejects_array_typed_certified_entry(spark):
    """The exact round-4 failure shape as a fixture: a certified entry
    whose plan yields an array<double> column must be flagged BEFORE any
    oracle comparison (the driver would die in canonicalization)."""
    from pyspark.sql import functions as F
    df = spark.range(3).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(F.lit(0.1), F.lit(0.9)).alias("feature"))
    bad = unhashable_columns(df.schema)
    assert bad == ["feature"], (
        "mirror gate must reject the r4 red-row shape")


def test_family_coverage_map_is_window_complete():
    window = set(Q._CERTIFIED_WINDOW)
    for fam, rows in Q._FAMILY_COVERAGE.items():
        assert window.intersection(rows), f"family uncovered: {fam}"
        for n in rows:
            assert n in Q.QUERIES, f"{fam} names unknown entry {n}"


def test_family_guard_trips_on_bad_rotation(monkeypatch):
    """Dropping every certifying row of a family must fail _curate —
    the guard VERDICT r4 item 8 asked for."""
    bad_window = [n for n in Q._CERTIFIED_WINDOW
                  if n not in set(Q._FAMILY_COVERAGE["dedup"])]
    monkeypatch.setattr(Q, "_CERTIFIED_WINDOW", bad_window)
    with pytest.raises(AssertionError):
        Q._curate()
    # restore canonical ordering clobbered by the failed _curate
    monkeypatch.undo()
    Q._curate()


@pytest.mark.slow
def test_certified_window_schemas_are_driver_canonicalizable(spark):
    """Run every certified entry's plan at sf0.001 and assert no output
    column is array/map/struct — the regression net for the r4 class of
    failure.  Schema-only (analysis), but some builders execute side
    effects; sf0.001 keeps it cheap."""
    offenders = {}
    for name in Q._CERTIFIED_WINDOW:
        df = Q.QUERIES[name](spark, SF_SMALL)
        bad = unhashable_columns(df.schema)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"certified entries with driver-unhashable columns: {offenders}")
