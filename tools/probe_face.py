"""Warm-rep timing probe for one registry face (A/B evidence).

Usage: python tools/probe_face.py <key> [sf_dir] [reps]

One process = one session: a warmup rep, then `reps` timed reps through
`registry.run_face` (construct + noop exec, then release). Prints each
rep's record (wall split into construct / plan / exec, jobs, stages,
input, shuffle and spill counts) as one JSON line, then
`RESULT <key> min= median=` over the walls. Interleave processes of
old/new code (git stash) to cancel host drift — the SURVEY §6 r12
protocol for per-query claims.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from euclid_spark import registry
from euclid_spark.session import get_session


def main() -> None:
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    spark = get_session("probe_face")
    qs = registry.queries()
    qs["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001").count()
    qs["euclid_erc20_weighted_sum_u256"](spark, "/root/testdata/sf0.001").count()

    registry.run_face(spark, key, sf_dir)  # warmup
    walls = []
    for _ in range(reps):
        rec = registry.run_face(spark, key, sf_dir)
        walls.append(rec["wall_s"])
        print(json.dumps(rec), flush=True)
    print(
        f"RESULT {key} min={min(walls):.3f} "
        f"median={statistics.median(walls):.3f}"
    )


if __name__ == "__main__":
    main()
