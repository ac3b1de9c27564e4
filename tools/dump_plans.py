"""Dump executed physical plans for the headline queries → PLANS.md.

Run after any plan-shape change: the file documents what actually
executes (pushdown, broadcast choices, codegen spans, AQE decisions) at
sf0.01 so plan quality is reviewable without re-running Spark.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from bench import HEADLINE
from euclid_spark import registry
from euclid_spark.session import get_session

SF = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    df.collect()  # execute THIS QueryExecution so AQE finalizes it
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    spark = get_session("dump_plans")
    out = [
        "# PLANS — executed physical plans (sf0.01, local[32], AQE final)\n",
        "Generated by tools/dump_plans.py. `*(n)` = whole-stage codegen "
        "span; look for PushedFilters on scans, BroadcastHashJoin for "
        "dims, TakeOrderedAndProject for top-N.\n",
        "Known-justified exceptions (each bounded-payload by "
        "construction): `Exchange SinglePartition` appears only under "
        "one-row scalar-total aggregates (corpus feature totals in "
        "text_importance_resample / curation_training_mix; the BM25 "
        "corpus-stats row in text_bm25_topk; the Bloom "
        "bitmap fold in rel_bloom_join_prune; the one-row branch "
        "folds in rel_table_profile (row stats / exact count-distincts "
        "/ ONE single-distinct sketch-bit fold PER sketched column (r14) "
        "/ string extrema — a handful of agg buffers per source "
        "partition each) — the shuffled payload "
        "is the bitmap words / partial sums, never the corpus; and the "
        "SINGLE-OWNER response groups in euclid_verifiable_response / "
        "euclid_erc20_verifiable_response — one owner's token/entry set "
        "is one Merkle group by definition, bounded by per-owner "
        "cardinality, never the corpus; and the merged-tile + "
        "one-row-audit folds of the range-serving faces "
        "rel_hdr_range_quantiles / rel_lc_range_distinct — what reaches "
        "them is the tiles of the day range, never its events); "
        "euclid_range_tree_agg has no fold in its plan at all: its "
        "≤ 2·log(range) cover tiles and two sub-tile edge windows are "
        "read and folded on the driver (artifacts.read_rows), so its "
        "plan is one LocalTableScan of the answer row; "
        "`BroadcastNestedLoopJoin` appears only as the broadcast "
        "crossJoin of a ONE-ROW frame (scalar totals, epoch offsets) or "
        "the fixed query set (sim_*); since r7 there is NO "
        "`ArrowEvalPython` in any served plan — the documented u256 "
        "exact-bigint leaf (A13, measured 360 s → 1.3 s vs column "
        "folds) runs once per corpus version at entry-leaf ARTIFACT "
        "build, and every query folds the served leaves with column "
        "expressions (plan-asserted in tests/test_plans.py).\n",
    ]
    for name in HEADLINE:
        plan = registry.run_face(spark, name, SF, _executed_plan)["result"]
        plan = plan.split("+- == Initial Plan ==")[0].rstrip()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
