"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The last test runs the traced benchmark once per workload (a few
minutes; the first run in a checkout also builds the corpus and store).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from corpus import write_corpus  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
# one purchase every 7 blocks, by owners cycling through 500 ids
BOUGHT = workloads.Purchases(
    list(range(0, workloads.N_BLOCKS, 7)),
    [(b * 31) % 500 for b in range(0, workloads.N_BLOCKS, 7)],
)


def test_same_seed_same_requests():
    assert workloads.serve_requests(7, 3, BOUGHT) == workloads.serve_requests(7, 3, BOUGHT)
    assert workloads.serve_requests(7, 3, BOUGHT) != workloads.serve_requests(8, 3, BOUGHT)
    assert workloads.face_passes(7, workloads.INGEST_FACES, 4) == workloads.face_passes(
        7, workloads.INGEST_FACES, 4
    )
    assert workloads.face_passes(7, workloads.INGEST_FACES, 4) != workloads.face_passes(
        8, workloads.INGEST_FACES, 4
    )


def test_every_round_has_the_same_mix():
    reqs = workloads.serve_requests(3, 2, BOUGHT)
    n = len(workloads.SERVE_FAMILIES) * len(workloads.SERVE_WIDTHS)
    assert len(reqs) == 2 * n
    for i in range(2):
        rnd = reqs[i * n:(i + 1) * n]
        mix = sorted((r.family, r.b_max - r.b_min) for r in rnd)
        assert mix == sorted(
            (f, w) for f in workloads.SERVE_FAMILIES for w in workloads.SERVE_WIDTHS
        )
    for r in reqs:
        assert 0 <= r.b_min < r.b_max <= workloads.N_BLOCKS
        # the owner bought in the range, so an owner-keyed answer has rows
        assert r.owner in BOUGHT.buyers(r.b_min, r.b_max)


def test_build_id_covers_the_program(tmp_path):
    for rel in ("perfbench/corpus.py", "euclid_spark/__init__.py", "euclid_spark/ops/a.py"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("x = 1\n")
    before = run._build_id(str(tmp_path))
    assert run._build_id(str(tmp_path)) == before
    (tmp_path / "euclid_spark/ops/a.py").write_text("x = 2\n")
    assert run._build_id(str(tmp_path)) != before


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer]:
        assert NAME.fullmatch(name), name


def test_corpus_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    write_corpus(0.001, str(tmp_path / "a"))
    write_corpus(0.001, str(tmp_path / "b"))
    for t in checks.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert a.num_rows > 0 and a.equals(b), t


def test_request_checks_reject_wrong_answers(tmp_path):
    write_corpus(0.001, str(tmp_path / "sf"))
    oracle = checks.Oracle(str(tmp_path / "sf"))
    # the sf0.001 corpus has 1 000 blocks and 15 owners
    busy = oracle.query(
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "GROUP BY 1 ORDER BY count(*) DESC LIMIT 1"
    ).iloc[0, 0]
    owner, b_min, b_max = int(busy), 0, 1000
    for fam in workloads.SERVE_FAMILIES:
        want = oracle.query(oracle.request_sql(fam, owner, b_min, b_max))
        assert len(want) > 0, fam
        got = want.copy()
        if fam.endswith("_response"):
            got["owner"], got["b_min"], got["b_max"] = owner, b_min, b_max
        assert oracle.check_request(fam, owner, b_min, b_max, got) is None, fam
        assert oracle.check_request(fam, owner, b_min, b_max, got.iloc[1:]) is not None
        bad = got.copy()
        col = [c for c in want.columns if c not in ("owner", "b_min", "b_max")][0]
        bad[col] = bad[col].astype(str) + "0" if bad[col].dtype == object else bad[col] + 1
        assert oracle.check_request(fam, owner, b_min, b_max, bad) is not None, fam
    # an owner without a purchase in range has an empty answer: refused
    idle = int(oracle.query("SELECT max(user_id) + 1 FROM events").iloc[0, 0])
    got = oracle.query(oracle.request_sql("q2_range_tree_topl", idle, b_min, b_max))
    assert oracle.check_request("q2_range_tree_topl", idle, b_min, b_max, got) is not None
    buyers = workloads.purchases(oracle).buyers(b_min, b_max)
    assert owner in buyers and idle not in buyers
    oracle.close()


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_reports_every_layer_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "serve":  # serving reads the pre-built store only
        assert m["artifacts.builds"] == 0 and m["artifacts.bytes_written"] == 0
    else:
        assert m["artifacts.builds"] > 0 and m["streaming.queries"] >= 1
    assert m["spark.jobs"] > 0 and m["operators.construct_s"] > 0
    detail = json.loads(lines[-2])["detail"]
    assert os.path.exists(os.path.join(ROOT, detail["spans"]))
