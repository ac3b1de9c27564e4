"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given SF, compare
row-count + order-insensitive values (column-name-sorted, rounded).

Usage: python tools/crosscheck.py [sf_dir] [key ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "M":  # datetime64 → date-or-ts string
            s = df[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
            df[c] = s.str.replace(" 00:00:00.000000", "", regex=False)
        elif k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "b":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, ".")
    import __spark_entry__ as e
    from euclid_spark import registry
    from euclid_spark.cache import release_all
    from euclid_spark.session import get_session

    spark = get_session("crosscheck")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # e.oracle_sql's map, plus the keys whose dynamic oracle raised
    qs, (os_, degraded) = e.queries(), registry.oracle_lookup(sf_dir)
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark: {ex}"[:300]}
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        finally:
            release_all()  # 63 queries in one session: don't accumulate
        if name in degraded:
            results[name] = {"status": "degraded", "reason": degraded[name],
                             "rows": len(sdf)}
            print(f"DEGRADED {name}: {degraded[name]}")
            continue
        if name not in os_:
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            print(f"OK?   {name}: rows-only check, {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(os_[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {ex}"[:300]}
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            results[name] = {"status": "fail", "err": "column mismatch"}
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) != len(b):
            failures.append(name)
            results[name] = {"status": "fail", "err": f"rows {len(a)} vs {len(b)}"}
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
        elif not a.reset_index(drop=True).equals(b.reset_index(drop=True)):
            neq = (a != b).any(axis=1)
            failures.append(name)
            results[name] = {"status": "fail", "err": f"{int(neq.sum())} rows differ"}
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(pd.concat([a[neq].head(3), b[neq].head(3)]))
        else:
            results[name] = {"status": "ok", "rows": len(a)}
            print(f"OK    {name}: {len(a)} rows match")
    print(f"\n{len(failures)} failures: {failures}")
    if json_out:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_checked": len(results),
            "n_ok": sum(r["status"] == "ok" for r in results.values()),
            "n_rows_only": sum(r["status"] == "rows_only" for r in results.values()),
            "n_degraded": sum(r["status"] == "degraded" for r in results.values()),
            "n_fail": len(failures),
            "results": results,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
