"""Fast-tier streaming BUILD check. Every other default-tier test of a
`stream_*` key serves the face from the repo's artifact store, so without
this file the default gate never runs the builder in
euclid_spark/streaming/faces.py. One MAINTAINED-table face is built into
an empty artifact root at the smoke SF — feed files, a real availableNow
stream through the IVM sink, the read transform, the artifact write —
and compared with DuckDB running the face's oracle SQL on the same
corpus."""

from __future__ import annotations

import os

import duckdb

from euclid_spark.streaming import faces
from tests.conftest import SF_SMOKE

KEY = "stream_hdr_quantile_tiles"


def _rows(records):
    return sorted(tuple(str(v) for v in r) for r in records)


def test_table_face_builds_and_matches_oracle(spark, tmp_path, monkeypatch):
    root = tmp_path / "arts"
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(root))
    built = faces.QUERIES[KEY](spark, SF_SMOKE)
    # the build really ran: the artifact landed in the empty root
    assert [p for p in os.listdir(root) if p.startswith(f"{KEY}_")]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    oracle = con.execute(faces.ORACLES[KEY])
    cols = [d[0] for d in oracle.description]
    want = _rows(oracle.fetchall())
    assert want, "oracle empty at the smoke SF"
    assert _rows(built.select(*cols).collect()) == want
