"""Dump the physical plans of registry faces (sf0.01).

Usage:
  python tools/dump_plans.py
      the headline faces' executed plans → PLANS.md. Run after any
      plan-shape change: the file documents what actually executes
      (pushdown, broadcast choices, codegen spans, AQE decisions) so
      plan quality is reviewable without re-running Spark.
  python tools/dump_plans.py --keys <out_dir> <suffix> <key ...>
      `explain("formatted")` of each key → <out_dir>/<key>_<suffix>.txt,
      a change's before/after plan evidence (plans/r15/). That is the
      pre-execution physical plan (AdaptiveSparkPlan
      isFinalPlan=false): the shape the optimizer chose, the one code
      changes move; nothing is executed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from euclid_spark import registry
from euclid_spark.session import get_session

SF = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    df.collect()  # execute THIS QueryExecution so AQE finalizes it
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_keys(spark, out_dir: str, suffix: str, keys: "list[str]") -> None:
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        txt = registry.run_face(spark, key, SF, _formatted_plan)["result"]
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


def dump_headline(spark) -> None:
    from bench import HEADLINE

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
        "merged-tile + one-row-audit folds of the range-serving faces "
        "rel_hdr_range_quantiles / rel_lc_range_distinct — what reaches "
        "them is the tiles of the day range, never its events); "
        "euclid_range_tree_agg, euclid_verifiable_response and "
        "euclid_erc20_verifiable_response have no fold in their plans "
        "at all: their bounded reads (the ≤ 2·log(range) cover tiles "
        "and two sub-tile edge windows; one owner's entry-store rows in "
        "the pinned window) are folded on the driver "
        "(artifacts.read_rows), so each plan is one LocalTableScan of "
        "the answer; "
        "`BroadcastNestedLoopJoin` appears only as the broadcast "
        "crossJoin of a ONE-ROW frame (scalar totals, epoch offsets) or "
        "the fixed query set (sim_*); since r7 there is NO "
        "`ArrowEvalPython` in any served plan — the documented u256 "
        "exact-bigint leaf (A13, measured 360 s → 1.3 s vs column "
        "folds) runs once per corpus version, at the build of the "
        "ERC-20 tree's entry store, and every query folds the stored "
        "limbs with column expressions (plan-asserted in "
        "tests/test_plans.py).\n",
    ]
    for name in HEADLINE:
        plan = registry.run_face(spark, name, SF, _executed_plan)["result"]
        plan = plan.split("+- == Initial Plan ==")[0].rstrip()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--keys":
        if len(args) < 4:
            raise SystemExit(__doc__)
        spark = get_session("dump_plans")
        dump_keys(spark, args[1], args[2], args[3:])
    else:
        dump_headline(get_session("dump_plans"))


if __name__ == "__main__":
    main()
