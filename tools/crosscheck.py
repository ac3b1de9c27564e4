"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given SF, compare
row-count + order-insensitive values (column-name-sorted, rounded).

With --nulls the same sweep runs on a copy of the corpus where 10 % of
every nullable attribute is NULL (a deterministic xxhash mask; the
pytest net tests/test_null_tolerance.py uses the same one). Production
tables carry NULLs the synthetic testdata never does, and NULL handling
is where SQL engines diverge (three-valued predicates, NULL group keys,
aggregate skip-vs-poison, NULL ordering). The copy and its artifacts
live in a temporary directory (artifacts under a redirected
EUCLID_SPARK_ARTIFACTS, so served caches never mix with the clean
corpus's), removed on exit; values compare in a float canonical form,
since an int column may come back as float once it holds a NULL.

Usage: python tools/crosscheck.py [sf_dir] [--nulls] [--json OUT] [key ...]

sf_dir defaults to the sf0.01 test corpus, or the sf0.001 one with
--nulls. Every face runs through `registry.run_face`. Output lines:
OK / OK? (rows-only by design) / DEGRADED (a dynamic oracle generator
raised) / FAIL. Exit code 1 when any face fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# the columns --nulls nulls out, 10 % of each (see `inject_nulls`)
NULLABLE = {
    "documents": ["text", "lang", "source"],
    "events": ["event_type", "value", "props"],
    "lineitem": ["l_returnflag", "l_discount"],
}


def inject_nulls(df, table: str):
    """`df` (corpus table `table`) with 10 % of each NULLABLE column set
    to NULL: the rows whose xxhash of (first column, column name) is 0
    mod 10."""
    from pyspark.sql import functions as F

    key = df.columns[0]
    for c in NULLABLE.get(table, []):
        mask = F.pmod(F.xxhash64(F.col(key), F.lit(c)), F.lit(10)) == 0
        df = df.withColumn(c, F.when(mask, F.lit(None)).otherwise(F.col(c)))
    return df


def normalize(df: pd.DataFrame, nulls: bool = False) -> pd.DataFrame:
    """Columns sorted by name, values canonical, rows sorted. `nulls`:
    integers and booleans as float64 and every missing object value as
    None (Spark surfaces None where DuckDB may give NaN)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "M":  # datetime64 → date-or-ts string
            s = df[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
            df[c] = s.str.replace(" 00:00:00.000000", "", regex=False)
        elif k in "iub":
            df[c] = df[c].astype("float64" if nulls else "int64")
        elif k == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            if nulls:
                df[c] = df[c].where(df[c].notna(), None)
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> "str | None":
    """Why two normalized frames differ, or None when they are equal."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if got.equals(want):
        return None
    neq = (got.fillna("~N") != want.fillna("~N")).any(axis=1)
    return (
        f"{int(neq.sum())}/{len(got)} rows differ; "
        f"first got={got[neq].head(1).to_dict('records')} "
        f"want={want[neq].head(1).to_dict('records')}"
    )


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    nulls = "--nulls" in args
    args = [a for a in args if a != "--nulls"]
    src = args[0] if args else (
        "/root/testdata/sf0.001" if nulls else "/root/testdata/sf0.01"
    )
    only = set(args[1:])
    if not nulls:
        return _sweep(src, src, only, json_out, nulls)
    scratch = tempfile.mkdtemp(prefix="nullx_")
    try:
        os.environ["EUCLID_SPARK_ARTIFACTS"] = os.path.join(scratch, "_arts")
        return _sweep(src, os.path.join(scratch, "corpus"), only, json_out, nulls)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _sweep(
    src: str, corpus: str, only: "set[str]", json_out: "str | None", nulls: bool
) -> int:
    """Run every registry face (or those in `only`) over `corpus` against
    its DuckDB oracle; with `nulls`, first write `src` null-injected to
    `corpus` as Spark parquet directories."""
    sys.path.insert(0, REPO)
    from euclid_spark import registry
    from euclid_spark.session import get_session

    spark = get_session("crosscheck")
    glob = ""
    if nulls:
        glob = "/*.parquet"
        for t in TABLES:
            df = inject_nulls(spark.read.parquet(f"{src}/{t}.parquet"), t)
            df.coalesce(1).write.mode("overwrite").parquet(f"{corpus}/{t}.parquet")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{corpus}/{t}.parquet{glob}')"
        )

    # oracle_sql()'s map, plus the keys whose dynamic oracle raised
    oracles, degraded = registry.oracle_lookup(corpus)
    results: "dict[str, dict]" = {}
    for name in registry.queries():
        if only and name not in only:
            continue
        try:
            rec = registry.run_face(spark, name, corpus, registry.to_pandas)
        except Exception as ex:  # noqa: BLE001
            results[name] = {"status": "fail", "err": f"spark: {ex}"[:300]}
            print(f"FAIL  {name}: spark error: {ex}"[:400], flush=True)
            continue
        got = rec.pop("result")
        r = results[name] = {"rows": len(got), "wall_s": rec["wall_s"]}
        sql = oracles.get(name)
        if name in degraded:
            r.update(status="degraded", reason=degraded[name])
            print(f"DEGRADED {name}: {degraded[name]}", flush=True)
            continue
        if sql is None:
            r.update(status="rows_only")
            print(f"OK?   {name}: rows-only check, {len(got)} rows", flush=True)
            continue
        # dynamic oracles embed read_parquet('<corpus>/<t>.parquet')
        # literals, which a Spark-written corpus needs in the glob form
        for t in TABLES:
            sql = sql.replace(f"{corpus}/{t}.parquet'", f"{corpus}/{t}.parquet{glob}'")
        try:
            want = con.execute(sql).fetchdf()
        except Exception as ex:  # noqa: BLE001
            r.update(status="fail", err=f"duckdb: {ex}"[:300])
            print(f"FAIL  {name}: duckdb error: {ex}"[:400], flush=True)
            continue
        err = compare(normalize(got, nulls), normalize(want, nulls))
        if err is None:
            r.update(status="ok")
            print(f"OK    {name}: {len(got)} rows match", flush=True)
        else:
            r.update(status="fail", err=err[:300])
            print(f"FAIL  {name}: {err}"[:400], flush=True)

    count = {
        s: sum(r["status"] == s for r in results.values())
        for s in ("ok", "rows_only", "degraded", "fail")
    }
    failures = [k for k, r in results.items() if r["status"] == "fail"]
    print(
        f"\n== crosscheck{' --nulls' if nulls else ''} {src}: "
        f"{len(results)} checked, {count['ok']} ok, "
        f"{count['rows_only']} rows-only, {count['degraded']} degraded, "
        f"{count['fail']} fail {failures}"
    )
    if json_out:
        summary = {
            "sf_dir": src,
            "nulls": nulls,
            "n_checked": len(results),
            **{f"n_{s}": n for s, n in count.items()},
            "results": results,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
