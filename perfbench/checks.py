"""Correctness checks against DuckDB, run outside every timed region.

Registry faces are hash-checked against the repo's own oracle SQL
(`registry.oracles`), both sides normalized by the repo's cross-check
tool (`tools/crosscheck.normalize`: column-name-sorted, rows sorted,
floats rounded to 6 places). Query-phase requests carry parameters the
pinned oracles do not take, so they are checked against DuckDB SQL with
the request's own (owner, b_min, b_max): the range-tree oracles with
their pinned ⅕..⅘ range replaced by the request's range, and the
response payloads (revealed keys, entry rewards) re-derived from the
raw events.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pandas as pd

from euclid_spark.catalog import TABLES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))
from crosscheck import normalize  # noqa: E402 — the repo's comparison rule

_PINNED_RANGE = re.compile(
    r"SELECT CAST\(FLOOR\(MAX\(event_id\) / 5\) AS BIGINT\) AS b_min,\s*"
    r"CAST\(FLOOR\(MAX\(event_id\) \* 4 / 5\) AS BIGINT\) AS b_max\s*"
    r"FROM events"
)
_TOKEN = "CAST(json_extract_string(props, '$.k') AS BIGINT)"


def same(got: pd.DataFrame, want: pd.DataFrame) -> "str | None":
    """None if equal after normalization, else a one-line reason."""
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())} rows differ"
    return None


class Oracle:
    """A DuckDB connection with the corpus tables as views."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self._face_sql: "dict[str, str] | None" = None
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    # -- registry faces ------------------------------------------------
    def check_face(self, key: str, got: pd.DataFrame) -> "str | None":
        from euclid_spark import registry

        if self._face_sql is None:
            self._face_sql = registry.oracles(self.sf_dir)
        sql = self._face_sql.get(key)
        if sql is None:
            return "no oracle"
        return same(got, self.query(sql))

    # -- query-phase requests -----------------------------------------
    def _ranged(self, key: str, b_min: int, b_max: int) -> str:
        from euclid_spark.operators import range_tree

        sql, n = _PINNED_RANGE.subn(
            f"SELECT CAST({b_min} AS BIGINT) AS b_min, "
            f"CAST({b_max} AS BIGINT) AS b_max",
            range_tree.ORACLES[key],
        )
        if n != 1:
            raise RuntimeError(f"oracle {key}: pinned range not found")
        return sql

    def request_sql(self, family: str, owner: int, b_min: int, b_max: int) -> str:
        from euclid_spark.operators.euclid import REWARDS_RATE, TOP_L

        if family == "range_tree_agg":
            return self._ranged("euclid_range_tree_agg", b_min, b_max)
        if family == "q2_range_tree_topl":
            inner = self._ranged("euclid_q2_range_tree_topL", b_min, b_max)
            return f"SELECT * FROM ({inner}) WHERE owner = {owner}"
        if family == "erc20_range_tree_reward":
            inner = self._ranged("euclid_erc20_range_tree_reward", b_min, b_max)
            return f"SELECT * FROM ({inner}) WHERE owner = {owner}"
        where = (
            f"event_type = 'purchase' AND user_id = {owner}"
            f" AND event_id >= {b_min} AND event_id < {b_max}"
        )
        if family == "q2_range_response":
            return f"""
                SELECT DISTINCT {_TOKEN} AS token_id FROM events
                WHERE {where} AND {_TOKEN} IS NOT NULL
                ORDER BY token_id LIMIT {TOP_L}"""
        if family == "erc20_range_response":
            return f"""
                SELECT event_id, lpad(lower(to_hex(
                    CASE WHEN tok IS NULL OR tok = 0 THEN CAST(0 AS HUGEINT)
                         ELSE (CAST(FLOOR(value * 10000) AS HUGEINT)
                               * CAST('18446744073709551616' AS HUGEINT)
                               + event_id) * {REWARDS_RATE} // tok
                    END)), 64, '0') AS entry_reward_hex
                FROM (SELECT event_id, value, {_TOKEN} AS tok FROM events
                      WHERE {where} AND value IS NOT NULL)
                ORDER BY event_id LIMIT {TOP_L}"""
        raise ValueError(family)

    def check_request(
        self, family: str, owner: int, b_min: int, b_max: int, got: pd.DataFrame
    ) -> "str | None":
        want = self.query(self.request_sql(family, owner, b_min, b_max))
        if want.empty:
            # empty against empty would pass whatever the engine returned
            return "the expected answer is empty, so the check proves nothing"
        if family in ("q2_range_response", "erc20_range_response"):
            # a response also carries opening paths and the root; the
            # payload it reveals is what a client reads as the answer
            bound = got[["owner", "b_min", "b_max"]].drop_duplicates()
            if len(got) and bound.values.tolist() != [[owner, b_min, b_max]]:
                return f"public inputs {bound.values.tolist()}"
            got = got[list(want.columns)]
        return same(got, want)
