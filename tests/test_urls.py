"""URL canonicalization rules (functions/urls.py)."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark.functions import urls as U


def _norm(spark, *url_strings):
    df = spark.createDataFrame([(u,) for u in url_strings], "u string")
    return [r.n for r in
            df.select(U.normalize_url(F.col("u")).alias("n")).collect()]


def test_case_port_fragment_query(spark):
    got = _norm(
        spark,
        "HTTP://WWW.Example.COM:80/A/b?z=1&a=2#frag",
        "http://www.example.com/A/b?a=2&z=1",
    )
    assert got[0] == got[1] == "http://www.example.com/A/b?a=2&z=1"


def test_https_default_port_and_empty_path(spark):
    assert _norm(spark, "https://X.org:443") == ["https://x.org/"]
    # non-default port kept
    assert _norm(spark, "https://x.org:8443/p") == ["https://x.org:8443/p"]


def test_path_case_preserved(spark):
    assert _norm(spark, "http://a.com/CaseSensitive") == \
        ["http://a.com/CaseSensitive"]


def test_userinfo_kept_in_norm_stripped_in_host(spark):
    df = spark.createDataFrame([("http://u@A.com:80/x",)], "u string")
    row = df.select(U.normalize_url(F.col("u")).alias("n"),
                    U.url_host(F.col("u")).alias("h")).collect()[0]
    assert row.n == "http://u@a.com/x"
    assert row.h == "a.com"


def test_schemeless_passthrough(spark):
    assert _norm(spark, "opaque-key-123") == ["opaque-key-123"]


def test_idempotent(spark):
    urls = ["HTTP://A.com:80//x/y?b=2&a=1#f", "https://B.Org:443",
            "https://u@c.net:8443/P?q=1"]
    once = _norm(spark, *urls)
    twice = _norm(spark, *once)
    assert once == twice


def test_host_path_query_domain(spark):
    df = spark.createDataFrame(
        [("https://user@Sub.Host.Example.ORG:8443/a/b?b=1&a=2#z",)],
        "u string")
    row = df.select(
        U.url_scheme(F.col("u")).alias("s"),
        U.url_host(F.col("u")).alias("h"),
        U.url_path(F.col("u")).alias("p"),
        U.url_query_sorted(F.col("u")).alias("q"),
        U.registrable_domain(F.col("u")).alias("d"),
    ).collect()[0]
    assert (row.s, row.h, row.p, row.q, row.d) == (
        "https", "sub.host.example.org", "/a/b", "a=2&b=1", "example.org")


def test_single_label_host_domain(spark):
    df = spark.createDataFrame([("http://localhost:80/x",)], "u string")
    row = df.select(U.registrable_domain(F.col("u")).alias("d")).collect()[0]
    assert row.d == ""  # no dot: approximation yields empty, documented

def test_registrable_domain_psl(spark):
    """Two-level public suffixes take three labels (functions/psl.py
    snapshot); non-suffix tails keep two; a host that IS a bare public
    suffix has no registrable part and passes through."""
    df = spark.createDataFrame(
        [("https://www.shop.co.uk/x",),
         ("https://shop.co.uk/",),
         ("https://news.bbc.co.uk:443/y",),
         ("http://a.b.example.com/",),
         ("https://co.uk/",),
         ("https://edu.example.gov.au/",),
         ("https://x.com.au/",)], "u string")
    got = [r.d for r in df.select(
        U.registrable_domain(F.col("u")).alias("d")).collect()]
    assert got == ["shop.co.uk", "shop.co.uk", "bbc.co.uk",
                   "example.com", "co.uk", "example.gov.au", "x.com.au"]


def test_registrable_domain_psl_override_seam(spark):
    """A provisioned snapshot replaces the built-in one — an empty one
    too, which turns the two-label suffix rule off."""
    df = spark.createDataFrame([("https://a.b.custom.tld/",)], "u string")
    got = df.select(U.registrable_domain(
        F.col("u"), psl=frozenset({"custom.tld"})).alias("d")).collect()
    assert got[0].d == "b.custom.tld"
    uk = spark.createDataFrame([("https://a.b.co.uk/",)], "u string")
    got = uk.select(
        U.registrable_domain(F.col("u")).alias("d"),
        U.registrable_domain(F.col("u"), psl=frozenset()).alias("e"),
    ).collect()
    assert (got[0].d, got[0].e) == ("b.co.uk", "co.uk")
