"""URL canonicalization — JVM-side column builders for the webtext
pipeline's url-keyed stages (dedup by canonical URL, per-domain grouping,
crawl-frontier joins).  The reference stores document source strings
verbatim (`kgraph_document_bridge.py:47-78` hasKGDocumentSource); at
Common-Crawl scale the same page arrives under many spellings
(case-variant hosts, default ports, fragment anchors, shuffled query
params), so canonicalization is what makes url a usable key.

Everything here is pure ``pyspark.sql.functions`` regex/string algebra —
whole-stage codegen, no Python — and every rule is mirrorable in ANSI SQL
(the t9 registry entry's DuckDB twin reimplements the full rule set
independently).

Rules (canonical, intentionally conservative):
- scheme and host lowercased; userinfo left intact (rare, meaningful);
- default ports stripped (``:80`` for http, ``:443`` for https) — other
  explicit ports kept;
- fragment dropped (never sent to the server);
- query parameters sorted bytewise (``?b=2&a=1`` == ``?a=1&b=2``); empty
  query string dropped;
- empty path becomes ``/`` (``http://x.com`` == ``http://x.com/``);
- path case and duplicate slashes preserved (both can be significant).

``registrable_domain`` is PSL-aware (round 5): last two host labels,
or last three when the two-label tail is itself a public suffix per the
compact ICANN-section snapshot in functions/psl.py (``co.uk`` hosts
group correctly); a fuller snapshot plugs in via the ``psl=`` seam.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"


def url_scheme(url: Column) -> Column:
    """Lowercased scheme, '' if the string has no ``scheme://``."""
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _after_scheme(url: Column) -> Column:
    return F.regexp_replace(url, _SCHEME_RE, "")


def url_host(url: Column) -> Column:
    """Lowercased host without port or userinfo."""
    hostport = F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)
    no_user = F.regexp_replace(hostport, r"^[^@]*@", "")
    return F.lower(F.regexp_replace(no_user, r":[0-9]*$", ""))


def url_path(url: Column) -> Column:
    """Path component ('/' when empty)."""
    rest = F.regexp_replace(_after_scheme(url), r"^[^/?#]*", "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def url_query_sorted(url: Column) -> Column:
    """Query string with ``&``-separated params sorted bytewise; '' when
    absent or empty."""
    rest = F.regexp_replace(_after_scheme(url), r"#.*$", "")
    q = F.regexp_extract(rest, r"\?(.*)$", 1)
    return F.when(q == "", F.lit("")).otherwise(
        F.array_join(F.array_sort(F.split(q, "&")), "&"))


def registrable_domain(url: Column,
                       psl: frozenset[str] | None = None) -> Column:
    """The registrable domain of the host: last two labels, EXCEPT when
    those two labels are themselves a public suffix (``co.uk``,
    ``com.au``, …) — then the last three (``shop.co.uk``).

    The suffix test runs against the compact ICANN-section snapshot in
    functions/psl.py (a few hundred entries → Catalyst ``InSet``, pure
    codegen, no join); pass ``psl=`` to provision a fuller snapshot.
    Hosts that ARE a bare public suffix, and single-label hosts, pass
    through as the longest suffix available (no registrable part
    exists to recover)."""
    from .psl import PSL2_SNAPSHOT
    host = url_host(url)
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 0)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 0)
    suffixes = PSL2_SNAPSHOT if psl is None else psl
    return F.when(
        last2.isin(*sorted(suffixes)) & (last3 != ""),
        last3).otherwise(last2)


def normalize_url(url: Column) -> Column:
    """Canonical URL per the module rule set.  Strings without a scheme
    are returned lowercased-host-less, i.e. unchanged except fragment/query
    handling does not apply (treated as opaque keys)."""
    scheme = url_scheme(url)
    hostport = F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)
    host_l = F.lower(hostport)
    host = (
        F.when(scheme == "http", F.regexp_replace(host_l, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host_l, ":443$", ""))
        .otherwise(host_l)
    )
    q = url_query_sorted(url)
    canon = F.concat(
        scheme, F.lit("://"), host, url_path(url),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(scheme == "", url).otherwise(canon)
