"""The driver-side read layer: one footer reader and one row reader
(euclid_spark/artifacts.py), one way to key an artifact, one face
runner, the loud local-frame fallback every owner-scoped answer goes
through, and the deploy knobs get_session checks before the JVM
starts."""

from __future__ import annotations

import ast
import logging
from collections.abc import Iterator

import pytest

from tests.conftest import REPO, SF_SMOKE


def test_pyarrow_parquet_readers_live_in_artifacts():
    """AST guard: no module under euclid_spark/ other than artifacts.py
    imports pyarrow.parquet or pyarrow.dataset — footers and bounded
    row fetches go through artifacts.footer_stats / read_rows."""
    banned = {"pyarrow.parquet", "pyarrow.dataset"}
    offenders = []
    for path in sorted((REPO / "euclid_spark").rglob("*.py")):
        if path.name == "artifacts.py" and path.parent.name == "euclid_spark":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
            else:
                continue
            if banned & set(names):
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, offenders


def _names(path) -> "Iterator[tuple[str, int]]":
    """(name, line) for every name, attribute, import alias and string
    constant in a module."""
    for node in ast.walk(ast.parse(path.read_text())):
        name = (
            getattr(node, "id", None)  # ast.Name
            or getattr(node, "attr", None)  # ast.Attribute
            or (node.name if isinstance(node, ast.alias) else None)
            or (node.value if isinstance(node, ast.Constant) else None)
        )
        if isinstance(name, str):
            yield name, getattr(node, "lineno", 0)


# the keying and writing internals only artifacts.py may name: every
# other module takes an artifact's path from its `artifacts.Artifact`
# declaration and writes it through `artifacts.ensure`
KEYING_NAMES = {
    "corpus_fingerprint",
    "artifact_dir",
    "_path",
    "save_frame",
    "load_frame",
    "EUCLID_SPARK_ARTIFACTS",
}


def test_artifact_paths_come_from_declarations():
    """No module but artifacts.py names a fingerprint, the artifact
    root, a path builder, the raw writer/reader or the root's env var —
    as a name, an attribute, an import or a string."""
    root = REPO / "euclid_spark"
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "artifacts.py":
            continue
        found |= {(rel, n) for n, _ in _names(path) if n in KEYING_NAMES}
    assert found == set(), "declare an artifacts.Artifact; write via ensure"


def test_faces_run_through_run_face():
    """No tool and no line of bench.py releases a face's pins or writes
    the noop sink itself: building a face, acting on it, timing it and
    releasing it is `registry.run_face`'s job."""
    paths = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
    found = [
        f"{path.relative_to(REPO)}:{line} {n}"
        for path in paths
        for n, line in _names(path)
        if n in ("release_all", "noop")
    ]
    assert not found, found


def test_footer_stats_and_read_rows_agree_with_the_data():
    import duckdb

    from euclid_spark import artifacts

    ev = f"{SF_SMOKE}/events.parquet"
    st = artifacts.footer_stats(ev)
    n, lo, hi = duckdb.sql(
        f"SELECT count(*), min(event_id), max(event_id) FROM read_parquet('{ev}')"
    ).fetchone()
    assert st.num_rows == n
    assert st.span("event_id") == (lo, hi)
    assert "value" in st.schema.names
    rows = artifacts.read_rows(
        ev,
        [[("event_id", ">=", 10), ("event_id", "<", 13)],
         [("event_id", "=", 40)]],
        ["event_id", "user_id"],
    )
    assert sorted(r["event_id"] for r in rows) == [10, 11, 12, 40]
    assert set(rows[0]) == {"event_id", "user_id"}


def test_local_frame_fallback_warns(spark, caplog, monkeypatch):
    """The Arrow → row-path fallback is logged at WARNING with the DDL
    and the reason, and still returns the same rows."""
    import pandas as pd

    from euclid_spark.catalog import local_frame

    def broken(*_a, **_k):
        raise ValueError("forced arrow failure")

    monkeypatch.setattr(pd.DataFrame, "from_records", broken)
    with caplog.at_level(logging.WARNING, logger="euclid_spark.catalog"):
        df = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    msgs = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert any("k long, v string" in m and "forced arrow failure" in m for m in msgs)


@pytest.mark.parametrize(
    "knob, value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "-2"),
        ("EUCLID_SPARK_DRIVER_MEM", "4 gigs"),
        ("EUCLID_SPARK_DRIVER_MEM", "g4"),
        ("EUCLID_SPARK_DRIVER_MEM", "0g"),
    ],
)
def test_session_knobs_reject_bad_values(monkeypatch, knob, value):
    from euclid_spark.session import get_session

    monkeypatch.setenv(knob, value)
    with pytest.raises(ValueError, match=knob):
        get_session("bad_knob")


def test_session_knobs_accept_deploy_values(monkeypatch):
    """The values the benchmark runs with (the host's core count and
    4g) pass validation and reach the builder unchanged."""
    import os

    from pyspark.sql import SparkSession

    from euclid_spark.session import get_session

    seen = {}

    class _Fake:
        class sparkContext:  # noqa: N801 — mirrors the session attribute
            @staticmethod
            def setLogLevel(_level):
                pass

    def fake_get_or_create(builder):
        seen.update(builder._options)
        return _Fake()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    ncpu = str(os.cpu_count())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", ncpu)
    for mem in ("4g", "512m", "16G"):
        monkeypatch.setenv("EUCLID_SPARK_DRIVER_MEM", mem)
        get_session("good_knob")
        assert seen["spark.master"] == f"local[{ncpu}]"
        assert seen["spark.driver.memory"] == mem
