"""Physical-plan audit: prints one row per headline registry query with
the markers that matter at 100 TB — shuffle count, top-k operator,
pushed/partition filters, join strategies, Python boundaries — and writes
the table to PLANS.md.

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from javascript_vector_database_spark import get_spark, registry  # noqa: E402

#: rows with no single static plan to audit: the side-effecting
#: roundtrips and reactive-IVM scripts (their value is DML/loop
#: semantics) and the stream_* live rows (micro-batch pipelines).
#: Everything else in the registry is audited AUTOMATICALLY — the list
#: is derived, so a newly registered row can no longer be silently
#: missing from PLANS.md (the r8 staleness class).
EXCLUDED = {
    "dml_roundtrip",
    "cache_collection_roundtrip",
    "pipeline_roundtrip",
    "json_dump_roundtrip",
    "reactive_count_ivm",
    "reactive_query_ivm",
    "reactive_topk_ivm",
}

#: rows whose result comes from a DRIVER-COORDINATED LOOP of Spark jobs
#: with eager localCheckpoints between rounds: the audited plan is the
#: FINAL post-checkpoint DF, so xchg/wscg show the last scan, NOT the
#: loop's real shuffle work (r9 verdict "What's wrong" #1).  The value
#: names the per-round cost actually paid; rows not listed here run as
#: one static plan and their columns are the whole story.
LOOP_BACKED = {
    "dedup_duplicate_clusters": (
        "min-label CC: per round = edge join + per-node min agg "
        "(1 shuffle), O(component diameter) rounds w/ fixpoint exit"
    ),
    "dedup_duplicate_clusters_star": (
        "identical-hash star collapse first, then the same min-label CC "
        "per-round join + min agg over the residual pairs"
    ),
    "dedup_jaccard_clusters": (
        "min-label CC over the prefix-filtered pair set: per round = "
        "edge join + per-node min agg"
    ),
    "multimodal_phash_clusters": (
        "min-label CC over the phash near-dup pairs: per round = edge "
        "join + per-node min agg"
    ),
    "graph_pagerank_copurchase": (
        "pagerank with w = 1: pins (edges x strength) once, then 3 "
        "Pregel rounds of contribution equi-join + map-side-combined sum"
    ),
    "graph_pagerank_weighted": (
        "pagerank: pins (edges x strength) once, then 3 Pregel rounds "
        "of weighted contribution equi-join + map-side-combined sum"
    ),
    "graph_personalized_pagerank": (
        "pagerank with seeds: the same pinned table and 3 join+sum "
        "rounds, plus a full join folding in the seed restart mass"
    ),
    "graph_hits_authorities": (
        "2 rounds x 2 half-steps: edge join + groupBy sum + max-renorm "
        "projection each half-step"
    ),
    "graph_kcore_peel": (
        "per peel round: degree agg + semi-join cut of sub-k nodes"
    ),
    "graph_ktruss_strong_ties": (
        "per peel round: wedge support join + sub-support edge cut over "
        "the full surviving graph"
    ),
    "graph_ktruss_capped": (
        "bounded peel: per round wedge join + cut over <= 20k edges "
        "(constant at any corpus size); only the up-front weight agg "
        "scales with the corpus"
    ),
    "graph_label_propagation": (
        "2 LPA rounds: label equi-join + per-node mode window per round"
    ),
    "graph_lpa_modularity": (
        "consumes the LPA loop's labels (same per-round join+mode cost) "
        "before its own two label equi-joins"
    ),
    "graph_bfs_reach": (
        "per hop: frontier equi-join + min-union distance fold"
    ),
    "ann_ivf_lloyd_search": (
        "3 Lloyd rounds: scan-local argmin + k-group integer-mean agg "
        "(one 16-row collect) per round before the audited probe"
    ),
    "curation_leakage_safe_split": (
        "broadcasts the min-label CC roots (same per-round join + min "
        "agg loop as dedup_duplicate_clusters) before the audited "
        "scan-local md5(root) assignment"
    ),
    "knn_ann_range_indexed": (
        "not a loop but the same audit caveat: the row WRITES the five "
        "sorted per-pivot index tables + base before the audited probe "
        "(5 band scans with PushedFilters + union-dedup + broadcast "
        "semi-join re-rank); build cost is the pivot_idx_build_sec "
        "bench extra, row-group skipping the pivot_idx_prunable_frac "
        "extra"
    ),
    "ann_ivf_radius_search_partitioned": (
        "same caveat: writes the partitionBy(ivf_cell) layout before "
        "the audited probe (PartitionFilters pinned by "
        "tests/test_plans.py::test_ivf_radius_partitioned_probe_prunes)"
    ),
    "layout_zorder_box_query": (
        "not a loop but the same audit caveat: the row writes the "
        "z-clustered layout then freezes the probe result, so the "
        "audited plan is the frozen frame — the REAL probe plan (both "
        "box ranges as PushedFilters over the z layout) is pinned by "
        "tests/test_plans.py::test_zorder_scan_pushes_both_ranges and "
        "the footer-skipping evidence by the bench zorder_* extras"
    ),
}


def audited_names() -> list[str]:
    return [
        n
        for n in registry.queries()
        if n not in EXCLUDED and not n.startswith("stream_")
    ]


AUDITED = audited_names()

def audit_one(df) -> dict[str, object]:
    df.collect()  # drive to completion so AQE's FINAL plan is audited
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = bool(
        re.search(r"PushedFilters: \[[^\]]+\]", plan)
        and re.search(r"PushedFilters: \[\s*[^\]\s]", plan)
    )
    part = ""
    # a plan can hold several scans; report yes if ANY carries a filter
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            part = "yes"
            break
    joins = sorted(
        {
            j
            for j in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if j in plan
        }
    )
    return {
        "exchanges": plan.count("Exchange "),
        "topk": "TakeOrderedAndProject" in plan,
        "pushed": pushed,
        "partition_filters": part or "-",
        "joins": "+".join(j.replace("Join", "").replace("Broadcast", "B")
                          for j in joins) or "-",
        "python": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        # final plans render codegen spans as `*(n)` node prefixes
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan)))
        or len(re.findall(r"WholeStageCodegen \(\d+\)", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit", cpus=8, shuffle_partitions=8)
    qs = registry.queries()
    rows = []
    for name in AUDITED:
        try:
            info = audit_one(qs[name](spark, sf_dir))
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append((name, f"ERROR: {exc}"))
            continue
        rows.append((name, info))

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` over the",
        "EXECUTED plan of each registry query.  Columns: `xchg` = number of",
        "Exchange (shuffle/broadcast) operators; `topk` = compiles to",
        "TakeOrderedAndProject (partial per-partition top-k, no global",
        "sort); `pushed` = non-empty PushedFilters reached the parquet",
        "scan; `part` = PartitionFilters prune the read; `joins` = join",
        "strategies in the plan (B=Broadcast); `py` = Python/Arrow",
        "boundaries (0 = whole plan JVM-side); `wscg` = WholeStageCodegen",
        "spans.",
        "",
        "Coverage is DERIVED from the registry: every registered query is",
        "audited except the side-effecting roundtrips/reactive-IVM scripts",
        f"({len(EXCLUDED)} rows) and the stream_* live rows — their value",
        "is loop/micro-batch semantics, not one static plan.  Audited:",
        f"{len(rows)} of {len(registry.queries())} registered queries.",
        "",
        "`loop` marks rows whose audited plan hides earlier work — a",
        "driver-coordinated loop with eager localCheckpoints between",
        "rounds, or a side-effecting layout write before a frozen",
        "probe: their xchg/wscg columns describe the FINAL",
        "post-checkpoint/post-materialization plan only; the hidden",
        "cost is named per row in the footnotes below the table.",
        "",
        "| query | xchg | topk | pushed | part | joins | py | wscg | loop |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, info in rows:
        if isinstance(info, str):
            lines.append(f"| {name} | {info} |" + " - |" * 7)
            continue
        lines.append(
            f"| {name} | {info['exchanges']} | "
            f"{'yes' if info['topk'] else '-'} | "
            f"{'yes' if info['pushed'] else '-'} | "
            f"{info['partition_filters']} | {info['joins']} | "
            f"{info['python']} | {info['codegen_spans']} | "
            f"{'yes*' if name in LOOP_BACKED else '-'} |"
        )
    lines += [
        "",
        "## loop-backed / post-materialization rows: the cost the"
        " columns can't show",
        "",
    ]
    for name in sorted(n for n, _ in rows if n in LOOP_BACKED):
        lines.append(f"- **{name}** — {LOOP_BACKED[name]}")
    out = "\n".join(lines) + "\n"
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
