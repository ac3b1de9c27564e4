"""Full-registry null-injected oracle crosscheck (VERDICT r8 #7).

Production tables carry NULLs the synthetic testdata never does; NULL
handling is exactly where SQL engines diverge (three-valued predicates,
NULL group keys, aggregate skip-vs-poison, NULL ordering). The pytest
net (tests/test_null_tolerance.py) pins ~37 representatives; this tool
runs the ENTIRE registry — every query that has an oracle — through the
driver's row/schema/value comparison on a corpus where 10 % of every
nullable attribute is NULL (same deterministic xxhash mask as the test
net), so a Spark-vs-DuckDB null-semantics drift anywhere in the 150+
hash-green surface is caught, not just in the sampled families.

Usage:
    python tools/null_crosscheck.py [sf_dir] [--json OUT] [key ...]

sf_dir defaults to /root/testdata/sf0.001 (null injection re-writes the
corpus once into a scratch dir; artifacts are rebuilt there under a
redirected EUCLID_SPARK_ARTIFACTS so served caches never mix with the
clean-corpus ones). Exit code = number of value-diverging keys.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# deterministic 10% null mask per (table, column) — MUST match
# tests/test_null_tolerance.py so the pinned semantics stay one corpus
NULLABLE = {
    "documents": ["text", "lang", "source"],
    "events": ["event_type", "value", "props"],
    "lineitem": ["l_returnflag", "l_discount"],
}


def canon(pdf):
    import pandas as pd  # noqa: F401

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        if k == "M":
            s = pdf[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
            pdf[c] = s.str.replace(" 00:00:00.000000", "", regex=False)
        elif k in "iub":
            pdf[c] = pdf[c].astype("float64")  # int cols may go NULL→float
        elif k == "f":
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].where(pdf[c].notna(), None).astype(str)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    src = args[0] if args and not args[0].startswith("-") else "/root/testdata/sf0.001"
    only = set(args[1:]) if args else set()

    # the null-injected corpus and its artifact store live here; removed
    # on any exit, an exception included
    scratch = tempfile.mkdtemp(prefix="nullx_")
    try:
        return _sweep(src, only, json_out, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _sweep(src: str, only: "set[str]", json_out: "str | None", scratch: str) -> int:
    """Null-inject `src` into `scratch`, then run every registry face
    (or those in `only`) against its DuckDB oracle on that corpus."""
    import duckdb
    from pyspark.sql import functions as F

    os.environ["EUCLID_SPARK_ARTIFACTS"] = os.path.join(scratch, "_arts")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from euclid_spark import registry
    from euclid_spark.cache import release_all
    from euclid_spark.session import get_session

    spark = get_session("null-crosscheck")
    nully = os.path.join(scratch, "corpus")
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        for c in NULLABLE.get(t, []):
            key = df.columns[0]
            mask = F.pmod(F.xxhash64(F.col(key), F.lit(c)), F.lit(10)) == 0
            df = df.withColumn(c, F.when(mask, F.lit(None)).otherwise(F.col(c)))
        df.coalesce(1).write.mode("overwrite").parquet(f"{nully}/{t}.parquet")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{nully}/{t}.parquet/*.parquet')"
        )

    qs = registry.queries()
    os_, degraded = registry.oracle_lookup(nully)
    results: dict[str, dict] = {}
    n_fail = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        sql = os_.get(name)
        if name in degraded:  # a dynamic generator raised
            results[name] = {"status": "degraded", "reason": degraded[name]}
            print(f"DEGRADED {name}: {degraded[name]}", flush=True)
            continue
        if sql is None:
            results[name] = {"status": "no_oracle"}
            print(f"--  {name}: no oracle (rows-only by design)", flush=True)
            continue
        # Spark wrote the nully corpus as parquet DIRECTORIES; dynamic
        # oracles embed read_parquet('<dir>/<t>.parquet') literals that
        # need the glob form
        for t in TABLES:
            sql = sql.replace(
                f"{nully}/{t}.parquet'", f"{nully}/{t}.parquet/*.parquet'"
            )
        try:
            got = canon(qs[name](spark, nully).toPandas())
            want = canon(con.execute(sql).fetchdf())
            if list(got.columns) != list(want.columns):
                status = f"schema: {list(got.columns)} vs {list(want.columns)}"
            elif len(got) != len(want):
                status = f"rows: {len(got)} vs {len(want)}"
            elif not got.equals(want):
                neq = (got.fillna("~N") != want.fillna("~N")).any(axis=1)
                status = (
                    f"values: {int(neq.sum())}/{len(got)} rows differ; "
                    f"got={got[neq].head(1).to_dict('records')} "
                    f"want={want[neq].head(1).to_dict('records')}"
                )
            else:
                status = "ok"
        except Exception as ex:  # noqa: BLE001
            status = f"error: {type(ex).__name__}: {ex}"[:400]
        finally:
            release_all()
        ok = status == "ok"
        n_fail += 0 if ok else 1
        results[name] = {"status": status}
        print(("OK  " if ok else "FAIL") + f" {name}"
              + ("" if ok else f": {status[:200]}"), flush=True)

    n_ok = sum(1 for r in results.values() if r["status"] == "ok")
    print(f"== null-crosscheck: {n_ok} ok, {n_fail} diverging, "
          f"{sum(1 for r in results.values() if r['status'] == 'no_oracle')} "
          f"no-oracle, "
          f"{sum(1 for r in results.values() if r['status'] == 'degraded')} "
          f"degraded of {len(results)}", flush=True)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    return min(n_fail, 125)


if __name__ == "__main__":
    raise SystemExit(main())
