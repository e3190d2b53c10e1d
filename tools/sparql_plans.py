#!/usr/bin/env python
"""Optimized logical plans of SPARQL queries that use no term
introspection builtin, one block per query, with expression ids
(``#123``) stripped so two runs compare as text.

The queries are the ``sparql_*`` rows of queries.py (all but the
introspection census), the perfbench ``sparql_name`` / ``sparql_2hop``
template shapes and a few pattern shapes (typed and tagged literals,
OPTIONAL, UNION, FILTER, a property path) over the built KG's triples.
Run it from two checkouts and diff the outputs to show that a change
leaves these plans alone:

    python tools/sparql_plans.py <sf_dir> <parent checkout> > before.txt
    python tools/sparql_plans.py <sf_dir> > after.txt
    diff before.txt after.txt && echo identical

The package is imported from the checkout given (default: the one this
script lives in).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

XSD = "http://www.w3.org/2001/XMLSchema#"


def _shapes(S) -> dict[str, str]:
    return {
        "perfbench_sparql_name":
            f'SELECT ?s WHERE {{ ?s <{S.HAS_NAME}> "alpha" }}',
        "perfbench_sparql_2hop":
            f"SELECT ?m ?o WHERE {{ ?f1 <{S.EDGE_SOURCE}> <urn:x> . "
            f"?f1 <{S.EDGE_DESTINATION}> ?m . ?f2 <{S.EDGE_SOURCE}> ?m . "
            f"?f2 <{S.EDGE_DESTINATION}> ?o }}",
        "typed_literal":
            f'SELECT ?s ?p WHERE {{ ?s ?p "3"^^<{XSD}integer> }}',
        "tagged_literal": 'SELECT ?s ?p WHERE { ?s ?p "x"@en }',
        "optional_union_filter":
            f"SELECT ?s ?n ?o WHERE {{ {{ ?s <{S.HAS_NAME}> ?n }} UNION "
            f"{{ ?s <{S.EDGE_SOURCE}> ?n }} OPTIONAL {{ ?s ?p ?o }} "
            f'FILTER(CONTAINS(STR(?n), "a")) }}',
        "path": f"SELECT ?o WHERE {{ <urn:x> <{S.EDGE_SOURCE}>+ ?o }}",
    }


def main(sf_dir: str) -> None:
    import kgraphmemory_spark
    from kgraphmemory_spark import semantics as S
    from kgraphmemory_spark.queries import QUERIES, kg_tables
    from kgraphmemory_spark.session import get_spark
    from kgraphmemory_spark.sparql import SparqlEngine

    print(f"package: {os.path.dirname(kgraphmemory_spark.__file__)}",
          file=sys.stderr)
    spark = get_spark(cores=2)
    plans = {name: fn(spark, sf_dir) for name, fn in QUERIES.items()
             if name.startswith("sparql_") and "introspect" not in name}
    eng = SparqlEngine(kg_tables(spark, sf_dir).triples)
    plans.update({name: eng.query(q) for name, q in _shapes(S).items()})
    for name, df in plans.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        print(f"== {name}")
        print(re.sub(r"#\d+L?", "", plan))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.path.insert(0, os.path.abspath(sys.argv[2]) if len(sys.argv) == 3
                    else ROOT)
    main(sys.argv[1])
