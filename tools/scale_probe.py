"""10× worst-case scale probe (SURVEY.md §6): replicate the sf0.1
documents table 10× with offset doc_ids — 10 exact copies of EVERY
document, the heaviest duplicate load the bucketed joins can see — and
time a set of linear-design operators at 1× and 10×.

What "passes": wall time growing ≈ linearly (≤ ~10×, typically much
less on 32 cores absorbing parallel slack) and no skew-cap blowup. A
quadratic shape announces itself unmistakably (100× pair volume).

Usage: python tools/scale_probe.py [op ...]   (default: the linear set)
  --events        also replicate events (offset event_ids; block axis)
  --accounts      replicate events with offset USER ids too — the
                  account axis: |accounts| grows ×replicas while
                  per-account storage stays constant. This is the
                  dimension the eth_getProof capture's state trie
                  folds over (events-only scaling leaves it constant).
  --replicas N    replication factor (default 10)
  --mutate        make document replicas DISTINCT texts (append a
                  per-replica tag) instead of exact copies: exact
                  copies keep per-word caches hot (BPE) and dedup
                  indexes degenerate, so --mutate is the axis for
                  tokenizer/linguistic per-doc cost, plain replication
                  for worst-case duplicate load.
Writes one JSON line; temp corpus lives under /tmp and is removed.
Per op and scale it also records, from the warm run, the Spark stages'
input records and each artifact the face served (every path
`artifacts.ensure` returned) with its bytes on disk, its files, its
parquet row-group count, the rows of its largest row group, its row
count, its codec and the compressed bytes of each of its columns — the
bytes a bounded read can decode grow with these, not with the rows it
returns, and the column split says which column a store cut would
shrink. An owner-keyed store also records the most row groups one
owner's read touches (`owner_reads`), which the row cap keeps flat
while the store grows.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from euclid_spark import artifacts, registry
from euclid_spark.session import get_session

SF = "/root/testdata/sf0.1"
REPLICAS = 10  # override with --replicas N (e.g. 100 for two-decade probes)
DEFAULT_OPS = [
    "text_bm25_topk",
    "text_rag_chunks",
    "text_data_card",
    "dedup_substring_spans",
    "dedup_minhash_lsh",
    "graph_doc_pagerank",
]
# --accounts default set: the faces whose cost scales with |accounts|.
# Cold = capture (trie build → artifact) + verify; warm = verify only.
ACCOUNT_OPS = [
    "euclid_eth_proof_verify",
    "stream_eth_account_state",
]


def build_10x(
    spark,
    out_dir: str,
    scale_events: bool = False,
    scale_accounts: bool = False,
    replicas: int = REPLICAS,
    mutate_docs: bool = False,
) -> None:
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    text_col = (
        F.concat(F.col("text"), F.lit(" zrep"), F.col("rep").cast("string"))
        if mutate_docs
        else F.col("text")
    )
    big = docs.join(reps).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        *[
            text_col.alias("text") if c == "text" else F.col(c)
            for c in docs.columns
            if c != "doc_id"
        ],
    )
    big.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    shared = (
        "region nation customer supplier part orders lineitem embeddings"
    ).split()
    if scale_events or scale_accounts:
        # --events: replicate the block dimension (offset event_ids) —
        # the probe for block-range structures: the range-tree query
        # must stay FLAT (cost ∝ log(range)) while the corpus grows 10×.
        # --accounts: ALSO offset user_ids, so the replicas are new
        # accounts instead of extra history on the same accounts — the
        # axis the eth_getProof capture's state-trie fold scales with.
        ev = spark.read.parquet(f"{SF}/events.parquet")
        m = ev.agg(F.max("event_id")).collect()[0][0] + 1
        cols = [(F.col("event_id") + F.col("rep") * m).alias("event_id")]
        rest = [c for c in ev.columns if c != "event_id"]
        if scale_accounts:
            u = ev.agg(F.max("user_id")).collect()[0][0] + 1
            cols.append(
                (F.col("user_id") + F.col("rep") * u).alias("user_id")
            )
            rest = [c for c in rest if c != "user_id"]
        bige = ev.join(reps).select(*cols, *rest)
        bige.write.mode("overwrite").parquet(
            os.path.join(out_dir, "events.parquet")
        )
    else:
        shared.append("events")
    for t in shared:
        os.symlink(f"{SF}/{t}.parquet", os.path.join(out_dir, f"{t}.parquet"))


def parquet_files(path: str) -> "list[str]":
    """The data files of a parquet artifact: one file or a directory of
    part files."""
    return sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    ) if os.path.isdir(path) else [path]


def artifact_stats(path: str) -> dict:
    """{"bytes", "files", "row_groups", "max_row_group_rows", "rows",
    "codec", "column_bytes"[, "owner_reads"]} of a parquet artifact:
    its bytes on disk, files, row groups, the rows of its largest row
    group, its rows, the compression codecs of its column chunks and,
    per column (its dotted schema path), the compressed bytes of its
    chunks over every row group — what a store cut would save, read
    from the footers. An owner-keyed store also gets `owner_reads`."""
    import pyarrow.parquet as pq

    files = parquet_files(path)
    mds = [pq.ParquetFile(f).metadata for f in files]
    cols: "dict[str, int]" = {}
    codecs: "set[str]" = set()
    rg_rows = [0]
    for md in mds:
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            rg_rows.append(rg.num_rows)
            for j in range(rg.num_columns):
                c = rg.column(j)
                codecs.add(c.compression)
                cols[c.path_in_schema] = (
                    cols.get(c.path_in_schema, 0) + c.total_compressed_size
                )
    out = {
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "row_groups": sum(md.num_row_groups for md in mds),
        "max_row_group_rows": max(rg_rows),
        "rows": sum(md.num_rows for md in mds),
        "codec": sorted(codecs),
        "column_bytes": cols,
    }
    if "owner" in cols:  # the tile trees and the entry stores
        out["owner_reads"] = owner_reads(path)
    return out


def row_groups_touched(dataset, filter) -> "list[int]":
    """The rows of each row group a read of `dataset` (a
    `pyarrow.dataset`) filtered by `filter` (a pyarrow expression)
    decodes: those whose footer statistics `split_by_row_group` cannot
    rule out."""
    return [
        rg.num_rows
        for frag in dataset.get_fragments()
        for part in frag.split_by_row_group(filter)
        for rg in part.row_groups
    ]


def owner_reads(path: str) -> dict:
    """For an owner-keyed store, over its owners (`owner` reads):
    `max_row_groups` and `max_rows_decoded`, the most row groups and
    rows one owner's read decodes; `max_owner_rows`, the most rows one
    owner holds; and `over_bound`, the owners whose read touches more
    than ⌈owner rows / artifacts.ROW_GROUP_ROWS⌉ + 1 row groups."""
    from collections import Counter

    import pyarrow.dataset as pds

    ds = pds.dataset(path, format="parquet")
    rows = Counter(ds.to_table(columns=["owner"]).column("owner").to_pylist())
    touched = {o: row_groups_touched(ds, pds.field("owner") == o) for o in rows}
    cap = artifacts.ROW_GROUP_ROWS
    return {
        "owners": len(rows),
        "max_row_groups": max(map(len, touched.values()), default=0),
        "max_rows_decoded": max(map(sum, touched.values()), default=0),
        "max_owner_rows": max(rows.values(), default=0),
        "over_bound": sum(
            len(touched[o]) > -(-n // cap) + 1 for o, n in rows.items()
        ),
    }


def _served(run):
    """(run(), {artifact name: `artifact_stats`}) for every artifact
    path `artifacts.ensure` returns while `run` runs."""
    paths: "list[str]" = []
    orig = artifacts.ensure

    def spy(*a, **kw):
        paths.append(orig(*a, **kw))
        return paths[-1]

    artifacts.ensure = spy
    try:
        out = run()
    finally:
        artifacts.ensure = orig
    return out, {
        os.path.basename(path).rsplit("_", 1)[0]: artifact_stats(path)
        for path in dict.fromkeys(paths)
    }


def main() -> None:
    args = sys.argv[1:]
    scale_events = "--events" in args
    scale_accounts = "--accounts" in args
    mutate_docs = "--mutate" in args
    args = [a for a in args if a not in ("--events", "--accounts", "--mutate")]
    replicas = REPLICAS
    if "--replicas" in args:
        i = args.index("--replicas")
        replicas = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    ops = args or (ACCOUNT_OPS if scale_accounts else DEFAULT_OPS)
    spark = get_session("scale_probe")

    def wall(name: str, sf_dir: str) -> float:
        return round(registry.run_face(spark, name, sf_dir)["wall_s"], 2)

    def warm(name: str, sf_dir: str) -> "tuple[float, int, dict]":
        """(wall, Spark stage input records, served artifacts): the rows
        a face decodes grow with the corpus when a read stops pruning."""
        rec, arts = _served(lambda: registry.run_face(spark, name, sf_dir))
        return round(rec["wall_s"], 2), rec["input_records"], arts

    tmp = tempfile.mkdtemp(prefix="euclid_10x_")
    # keep 10× artifacts out of the repo store: they key on the temp
    # corpus and would be one-shot garbage there
    os.environ["EUCLID_SPARK_ARTIFACTS"] = os.path.join(tmp, "_arts")
    try:
        build_10x(
            spark,
            tmp,
            scale_events=scale_events,
            scale_accounts=scale_accounts,
            replicas=replicas,
            mutate_docs=mutate_docs,
        )
        axis = "accounts" if scale_accounts else (
            "events" if scale_events else "documents"
        )
        out = {"sf": "0.1", "replicas": replicas, "axis": axis,
               "mutate": mutate_docs, "ops": {}}
        for name in ops:
            one_cold = wall(name, SF)
            one_warm, one_rec, one_arts = warm(name, SF)
            ten_cold = wall(name, tmp)
            ten_warm, ten_rec, ten_arts = warm(name, tmp)
            out["ops"][name] = {
                "x1_cold": one_cold,
                "x1_warm": one_warm,
                f"x{replicas}_cold": ten_cold,
                f"x{replicas}_warm": ten_warm,
                "cold_ratio": round(ten_cold / max(one_cold, 1e-9), 1),
                "x1_warm_input_records": one_rec,
                f"x{replicas}_warm_input_records": ten_rec,
                "x1_artifacts": one_arts,
                f"x{replicas}_artifacts": ten_arts,
            }
            print(f"# {name}: 1x {one_cold}/{one_warm}s "
                  f"{replicas}x {ten_cold}/{ten_warm}s", file=sys.stderr)
        # peak DRIVER memory across the whole probe — the number that
        # catches an |accounts|-sized driver fold the wall-clock ratios
        # might forgive. Python side via ru_maxrss (KiB on linux); the
        # JVM driver is a child process, so read its VmHWM from /proc.
        import resource

        out["driver_py_peak_rss_mb"] = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        )
        try:
            jvm_pid = spark.sparkContext._gateway.proc.pid
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out["driver_jvm_peak_rss_mb"] = round(
                            int(line.split()[1]) / 1024, 1
                        )
                        break
        except Exception:
            pass
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
