"""JSONL ingestion with corrupt-record quarantine (SURVEY.md §2.D31) —
the crawl-dump reality check: at 100 TB some fraction of the line-
delimited JSON feed is truncated uploads, mid-write crashes, or encoder
bugs, and the ingest MUST NOT drop the batch (FAILFAST) or silently
NULL the rows without accounting (DROPMALFORMED). The production shape
is PERMISSIVE parse + an explicit quarantine column: damaged lines are
counted, attributable, and replayable, while clean rows flow on.

The face round-trips the documents table through a REAL JSONL artifact
with deterministic damage — every doc_id ≡ 0 (mod CORRUPT_MOD) line is
truncated 5 bytes short (a prefix of minimal JSON is never valid JSON,
so the damage is detected by construction, never by luck) — then reads
it back with an explicit schema + columnNameOfCorruptRecord and reports
the per-source ingest summary with the quarantine bucket beside it.
The ORACLE never sees the JSONL: it derives the same summary from the
parquet ground truth, so the hash gate binds serialize → damage →
parse → quarantine end to end. A real deployment points the reader at
its crawl dump; nothing downstream changes.

Scale shape: JSONL is line-splittable, so the read parallelizes by
byte ranges like any text source; the parse is per-partition JVM code
(Jackson), no Python; the summary is one groupBy on (bool, source) —
bounded keys. The fixture build is a one-time fingerprint-keyed
artifact, written through `artifacts.ensure` like every other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from euclid_spark import artifacts

CORRUPT_MOD = 37  # every 37th doc_id's line is truncated mid-record

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)


# .jsonl suffix: the payload is text lines, not parquet
JSONL_DOCS = artifacts.Artifact(
    "jsonl_docs",
    "documents",
    dict(corrupt_mod=CORRUPT_MOD, v=1),
    suffix=".jsonl",
)


def jsonl_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    """Serve the damaged-JSONL fixture for this corpus (build once per
    corpus version, the artifact discipline). Lines are to_json of the
    document struct — newlines in text are escaped by JSON, so the
    file stays one record per line."""

    def build() -> DataFrame:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
            "line",
            F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars")),
        )
        # truncation only when doc_id is present and divisible — a NULL
        # doc_id row is never damaged (and its damaged line could have
        # been empty: to_json of an all-NULL struct is '{}')
        bad = F.col("doc_id").isNotNull() & (F.col("doc_id") % CORRUPT_MOD == 0)
        return docs.select(
            F.when(
                bad, F.col("line").substr(F.lit(1), F.length("line") - F.lit(5))
            )
            .otherwise(F.col("line"))
            .alias("value")
        )

    return artifacts.ensure(JSONL_DOCS.path(sf_dir), build)


def src_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D31 — PERMISSIVE JSONL ingest summary: per (quarantined, source),
    row count and clean-character mass. Quarantined lines parse to all-
    NULL fields + the raw line in `_corrupt`, so they group under
    (true, NULL) — counted and attributable, never dropped."""
    path = jsonl_fixture_path(spark, sf_dir)
    parsed = (
        spark.read.schema(_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return parsed.groupBy(
        F.col("_corrupt").isNotNull().alias("quarantined"), "source"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


QUERIES = {
    "src_jsonl_quarantine": src_jsonl_quarantine,
}

ORACLES = {
    # the oracle derives the expected summary from the parquet ground
    # truth — it never reads the JSONL, so a parse/quarantine bug on the
    # Spark side cannot cancel out
    "src_jsonl_quarantine": f"""
        WITH t AS (
            SELECT COALESCE(doc_id % {CORRUPT_MOD} = 0, FALSE) AS quarantined,
                   CASE WHEN COALESCE(doc_id % {CORRUPT_MOD} = 0, FALSE)
                        THEN NULL ELSE source END AS source,
                   CASE WHEN COALESCE(doc_id % {CORRUPT_MOD} = 0, FALSE)
                        THEN NULL ELSE n_chars END AS n_chars
            FROM documents
        )
        SELECT quarantined, source,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM t GROUP BY 1, 2
    """,
}
