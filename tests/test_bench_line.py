"""bench.py's stdout line: the one JSON line a run prints keeps fast
faces nonzero and stays inside its byte budget."""

from __future__ import annotations

import json

import bench


def test_fast_face_keeps_its_milliseconds():
    line = json.loads(
        bench.stdout_line(
            {"metric": "m", "queries": {"fast": 0.0041},
             "queries_warm": {"fast": 0.0036}, "warm_total": 0.0036}
        )
    )
    # round(v, 2) made both 0.0: a divide-by-zero in any scaling ratio
    assert line["queries"] == {"fast": 0.004}
    assert line["queries_warm"] == {"fast": 0.004}
    assert line["warm_total"] == 0.0036
    assert "maps_omitted" not in line


def test_over_budget_maps_are_dropped_and_flagged():
    faces = {f"face_{i:04d}_{'x' * 40}": 1.23456 for i in range(400)}
    out = {"metric": "m", "value": 9.5, "queries": faces,
           "queries_warm": dict(faces), "detail": "BENCH_DETAIL.json"}
    text = bench.stdout_line(out)
    assert len(text.encode()) <= bench.LINE_BUDGET
    line = json.loads(text)
    assert line["maps_omitted"] is True
    assert "queries" not in line and "queries_warm" not in line
    assert line["value"] == 9.5 and line["detail"] == "BENCH_DETAIL.json"
    # the same maps fit a larger budget, rounded and unflagged
    roomy = json.loads(bench.stdout_line(out, budget=10**6))
    assert "maps_omitted" not in roomy
    assert set(roomy["queries"].values()) == {1.235}
