#!/usr/bin/env python
"""Physical-plan audit → PLANS.md.

For each headline query, capture `explain("formatted")` and grep the
scale-relevant evidence the plan must show:
- parquet scans carry PushedFilters / pruned ReadSchema (no full-width scans)
- small dims broadcast (BroadcastHashJoin), big joins SortMerge/shuffled-hash
- aggregates are partial+final hash aggregates (map-side combine)
- expression work sits inside WholeStageCodegen spans
- AQE nodes present (AdaptiveSparkPlan)

Run: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

AUDITED = [
    ("kg_relations", "pipeline agg: partial+final hash agg, broadcast canon map"),
    ("kg_frame_reconstruct", "flagship J3 multiway join"),
    ("kg_cooccurrence", "self-join + agg"),
    ("j1_linked_objects", "fact⋈dim: dim must broadcast"),
    ("j3_multiway_topk", "3-way join + agg + TakeOrdered"),
    ("a1_tpch_q1", "scan filter pushdown + hash agg"),
    ("w2_rank_per_group", "window ranker"),
    ("v1_cosine_topk", "vector scan: JVM fold + TakeOrdered"),
    ("d2_ngram_jaccard", "shingle inverted-index join"),
    ("s9_nt_roundtrip", "regexp parse/serialize stays in codegen"),
    ("m1_media_decode", "mapInPandas (Arrow) plumbing"),
    ("s1_object_roundtrip", "object<->triple pivot: union + two-level hash agg"),
    ("frames_typed_roundtrip", "typed frames: explode fan-out + left-join rebuild"),
    ("kg_hybrid_search", "hybrid: semi-join below top-k"),
    ("d3_minhash_lsh", "minhash: explode + ONE hash-agg pass + band join"),
    ("d4_simhash", "simhash: explode + 64-arm hash agg (no array re-scans)"),
    ("c2_recent_interactions", "recent-N: agg + rank (small post-agg window)"),
    ("c3_merged_search_rerank", "per-type top-k + global re-rank union"),
    ("x1_multigraph_stats", "cross-graph union + per-graph rollup"),
    ("d6_lsh_dedup_classes", "LSH star edges + CC (cluster-safe dedup)"),
    ("v4_lsh_ann", "ANN: bucket-pruned scan + exact re-rank"),
    ("kg_vector_texts", "multi-type mapping explode, one Arrow embed pass"),
    ("sparql_frame_construct",
     "raw SPARQL → one plan: 3-pattern BGP as self-joined scans"),
    ("w5_asof_join",
     "as-of join: union + ONE keyed window (no range-join explosion)"),
    ("g2_pagerank",
     "iterative join-agg loop: localCheckpoint truncates lineage"),
    ("ja_census_linked",
     "join/agg census: distinct-before-join, dim broadcast, 2-pass distinct agg"),
    ("s_census_store",
     "update + bound-predicate scans: predicate pushdown per arm"),
    ("m_census_multimodal",
     "3 Arrow branches joined per doc_id (decode/sample/features)"),
    ("t6_domain_cap",
     "domain cap: under-cap rows skip the sort; salted 2-phase top-k"),
    ("t7_stratified_sample",
     "stratified sample: shuffle-free scan, md5 threshold in codegen"),
    ("t8_shard_packing",
     "shard packing: ONE window shuffle per writer partition"),
    ("t_census_curation",
     "curation census: stratified filter AT the scan, ONE window "
     "exchange, PSL domain as codegen InSet"),
]

# non-registry plans worth auditing: name → (builder(spark), why)
EXTRA = {
    "serialize_turtle(kg_triples_long)": (
        lambda spark, Q: __import__(
            "kgraphmemory_spark.io.serialize", fromlist=["serialize_rdf"]
        ).serialize_rdf(Q.QUERIES["kg_triples_long"](spark, SF), "turtle"),
        "whole-document emit: two hash aggs + string algebra, no Python"),
}

CHECKS = [
    ("PushedFilters: [^]]", "pushed filter on a scan"),
    ("BroadcastHashJoin", "broadcast join"),
    ("HashAggregate", "hash aggregate"),
    ("WholeStageCodegen", "codegen span"),
    ("AdaptiveSparkPlan", "AQE"),
    ("TakeOrderedAndProject", "top-k short-circuit"),
    ("SortMergeJoin", "sort-merge join"),
    ("ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", "Arrow-batched python"),
    ("BatchEvalPython", "ROW-AT-A-TIME PYTHON (red flag)"),
    ("CartesianProduct", "CARTESIAN (red flag unless broadcast-1-row)"),
]


def main() -> None:
    from kgraphmemory_spark import queries as Q
    from kgraphmemory_spark.session import get_spark

    spark = get_spark(app="plan-audit", cores=8, shuffle_partitions=8)
    out = ["# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
           "", f"Scale factor dir: `{SF}`; AQE on; "
           "autoBroadcastJoinThreshold 64 MB.", ""]
    audited = [(n, w, lambda s, n=n: Q.QUERIES[n](s, SF)) for n, w in AUDITED]
    audited += [(n, w, lambda s, b=b: b(s, Q)) for n, (b, w) in EXTRA.items()]
    for name, why, build in audited:
        df = build(spark)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        hits = []
        for pat, label in CHECKS:
            n = len(re.findall(pat, plan))
            if n:
                hits.append(f"{label} ×{n}")
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        out.append(f"## {name}\n")
        out.append(f"*{why}*\n")
        out.append(f"- evidence: {'; '.join(hits) if hits else '(none matched)'}")
        for s in scans[:4]:
            cols = [c.split(":")[0] for c in s.split(",") if c]
            out.append(f"- scan reads only: `{', '.join(cols)}`")
        pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
        for p in [p for p in pushed if p.strip()][:4]:
            out.append(f"- pushed: `{p.strip()[:120]}`")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
