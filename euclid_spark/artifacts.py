"""Fingerprint-keyed on-disk artifact store — the index/model registry.

Several operators build an expensive corpus-level INDEX whose lifetime is
the corpus, not the query: the IVF centroids + inverted lists
(operators/similarity.py), the MinHash signature table (operators/
dedup.py), the near-dup component labeling (operators/components.py).
The reference has the same shape: its preprocessing stage commits a
reusable block DB / MPT digest artifact once and every later query reads
it (mr-plonky2-circuits/src/api.rs staging; block/mod.rs append-only DB)
— you never re-prove the corpus per query.

Pattern here (generalizing the r4 IVF centroid store):

- an artifact is a parquet directory under `artifact_dir()` named
  `<name>_<fingerprint>`, where the FINGERPRINT hashes the input files'
  (path, size, mtime) — a cheap stat, no data read — plus every
  algorithm parameter. A corpus or parameter change changes the key;
  nothing is ever overwritten in place.
- writes go to a `.tmp.<pid>` directory then `os.rename` — atomic on a
  local filesystem, and the loser of a concurrent race just deletes its
  temp and reads the winner's (identical, deterministic) artifact.
- `serve_frame` is the one call sites use: load if present, else build →
  persist → RELOAD (the returned frame is always a plain parquet scan,
  so downstream plans reference a short lineage, not the whole build
  pipeline).

At 100 TB the same code points at shared storage (set
EUCLID_SPARK_ARTIFACTS to an object-store path a real deployment mounts)
and the build side runs once per corpus version, cluster-wide.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def artifact_dir() -> str:
    """Artifact root — repo-local `.artifacts/` by default (this
    environment must not write outside the repo); EUCLID_SPARK_ARTIFACTS
    overrides for a real deployment's registry path. Read per-call so a
    test can re-point it without re-importing."""
    return os.environ.get(
        "EUCLID_SPARK_ARTIFACTS",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), ".artifacts"),
    )


def corpus_fingerprint(paths: "list[str]", **params: object) -> str:
    """md5 over (path, size, mtime_ns) of every data file under `paths`
    plus the sorted algorithm params. stat-only: fingerprinting a 100 TB
    corpus costs one listing, not a read."""
    parts = [f"{k}={params[k]}" for k in sorted(params)]
    for path in paths:
        entries = (
            sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            )
            if os.path.isdir(path)
            else [path]
        )
        for p in entries:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _path(name: str, fp: str, suffix: str = ".parquet") -> str:
    """Artifact directory path. `suffix` labels the payload format —
    parquet for frames (the default), `.jsonl` for text-line fixtures
    (ADVICE r13: a plain-text directory under a .parquet name breaks
    any tooling that globs the artifact root and reads *.parquet
    entries as parquet)."""
    return os.path.join(artifact_dir(), f"{name}_{fp}{suffix}")


def load_frame(spark: SparkSession, name: str, fp: str) -> "DataFrame | None":
    """The artifact as a plain parquet scan, or None if absent. The
    reader is memoized per (session, path, mtime) — artifact paths are
    fingerprint-keyed and written atomically, so a given path's content
    never changes and the lazy scan node can be shared by every
    consumer (catalog.cached_parquet; no data is cached)."""
    from euclid_spark.catalog import cached_parquet

    path = _path(name, fp)
    if os.path.exists(path):
        return cached_parquet(spark, path)
    return None


# Write option for artifacts whose queries read a PREDICATE-PRUNED
# sliver (a tile cover, an edge window): small parquet row groups give
# the min/max stats enough resolution that the scan reads O(selected)
# row groups instead of whole 128 MB defaults — measured 0.69→0.25 s on
# a 12 M-row tile cover and 4.4→0.28 s on an edge window at 100× events.
FINE_ROW_GROUPS = {"parquet.block.size": 4 * 1024 * 1024}


def data_files(path: str) -> "list[str]":
    """The data files of a parquet path — one file, or a Spark-written
    directory's sorted part files (underscore/dot entries skipped).
    The ONE local listing used by every driver-side footer read
    (row counts, column statistics, schema); callers wrap in
    try/except and fall back to a Spark fold on remote filesystems."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def footer_num_rows(path: str) -> int:
    """Total row count from parquet FOOTER metadata — a stat read,
    never a data scan. Raises on remote/unreadable paths; callers
    fall back to a pinned default or a Spark fold."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in data_files(path))


def save_frame(
    df: DataFrame,
    name: str,
    fp: str,
    options: "dict | None" = None,
    partition_by: "str | None" = None,
    suffix: str = ".parquet",
) -> str:
    """Write `df` as the artifact (atomic temp+rename; a lost race keeps
    the winner's identical output). `partition_by` writes a Hive-style
    partitioned layout (the D18/D26/C55b shard precedent) under the
    same atomicity contract. Returns the artifact path."""
    path = _path(name, fp, suffix)
    os.makedirs(artifact_dir(), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    w = df.write.mode("overwrite")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # concurrent builder won — deterministic, same bytes
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def stat_min_max(name: str, fp: str, column: str) -> "tuple":
    """(MIN, MAX) of a column across a served artifact's parquet FOOTER
    statistics — O(row groups) metadata reads, never a data scan. The
    served-metadata fetch every tile-tree and day-tile query needs (its
    max level / max block / tile span): an `agg(min, max)` on the
    artifact frame scans every tile row, which GROWS WITH THE CORPUS and
    quietly breaks the O(log range) query-cost claim; the footer
    already holds the answer. Returns (None, None) when the artifact is
    empty or carries no stats."""
    import pyarrow.parquet as pq

    lo = hi = None
    for p in glob.glob(os.path.join(_path(name, fp), "*.parquet")):
        md = pq.ParquetFile(p).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema == column:
                    st = col.statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def served_span(frame: "DataFrame", name: str, fp: str, column: str):
    """(MIN, MAX) of `column` on a served artifact — footer statistics
    when the artifact root is locally statable (no Spark job), else one
    bounded frame aggregate (remote stores). The parameter fetch every
    day-tile range face starts with."""
    try:
        return stat_min_max(name, fp, column)
    except Exception:  # remote artifact store — resolve through Spark
        from pyspark.sql import functions as F

        row = frame.agg(
            F.min(column).alias("lo"), F.max(column).alias("hi")
        ).collect()[0]
        return row["lo"], row["hi"]


def serve_frame(
    spark: SparkSession,
    name: str,
    fp: str,
    build: Callable[[], DataFrame],
    options: "dict | None" = None,
) -> DataFrame:
    """Load the artifact, else build → save → reload. The reload is the
    point: every consumer gets a short-lineage parquet scan whether or
    not this process paid for the build."""
    cached = load_frame(spark, name, fp)
    if cached is not None:
        return cached
    save_frame(build(), name, fp, options)
    out = load_frame(spark, name, fp)
    assert out is not None
    return out


def publish_manifest(
    name: str,
    fp: str,
    family: str,
    sources: "list[str]",
    params: "dict[str, object] | None" = None,
) -> str:
    """Publish a MANIFEST next to an artifact: a small JSON record
    (family, params, fingerprint, relative path, source-file identity)
    that consumers DISCOVER published artifacts through. This is the
    single source of truth for "which responses exist for this corpus"
    — the standalone verifier (tools/verify_response.py) reads
    manifests instead of re-deriving the prover's fingerprint scheme,
    so a prover-side keying change can never silently un-verify a
    published response (the r10 failure class: the tool recomputed
    fingerprints with stale params and skipped the ERC-20 response).
    `sources` records each input file's (size, mtime_ns) so a consumer
    can tell whether a manifest belongs to the CURRENT corpus version
    by a plain stat comparison — no fingerprint algorithm needed."""
    meta = {
        "family": family,
        "name": name,
        "fingerprint": fp,
        "path": f"{name}_{fp}.parquet",
        # keyed by realpath so a consumer invoked with a relative path,
        # trailing slash, or symlinked mount still matches (discovery
        # normalizes its side the same way)
        "sources": {
            os.path.realpath(p): {
                "size": os.stat(p).st_size,
                "mtime_ns": os.stat(p).st_mtime_ns,
            }
            for p in sources
        },
        "params": {k: v for k, v in (params or {}).items()},
    }
    os.makedirs(artifact_dir(), exist_ok=True)
    path = os.path.join(artifact_dir(), f"{name}_{fp}.manifest.json")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)
    return path


def read_manifests(root: "str | None" = None) -> "list[dict]":
    """Every published manifest under the artifact root (unreadable or
    truncated files are skipped — a consumer should never crash on a
    foreign deployment's half-written metadata)."""
    out: "list[dict]" = []
    for p in sorted(
        glob.glob(os.path.join(root or artifact_dir(), "*.manifest.json"))
    ):
        try:
            with open(p) as f:
                out.append(json.load(f))
        except (OSError, json.JSONDecodeError):
            continue
    return out


def gc(keep: "dict[str, str | set[str] | list[str]]") -> "list[str]":
    """Garbage-collect the artifact root: for every name in `keep`
    (name → current fingerprint, or a set/list of them when an
    artifact family is parameter-keyed — e.g. q2_response and
    owner_token_tree carry one live fingerprint PER CONTRACT under one
    name prefix), delete that name's OTHER fingerprints — superseded
    corpus versions with no readers — plus any orphaned `.tmp.*` build
    directories (a builder that died mid-write). Names not in `keep`
    are untouched (another deployment may own them). Returns the
    removed paths. Safe to run anytime: the kept fingerprints and
    foreign names are never deleted, and losing a just-superseded
    artifact only costs its one-time rebuild."""
    root = artifact_dir()
    if not os.path.isdir(root):
        return []
    keep_sets = {
        name: {fps} if isinstance(fps, str) else set(fps)
        for name, fps in keep.items()
    }
    removed: "list[str]" = []
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if ".tmp." in entry:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
            continue
        for name, fps in keep_sets.items():
            live = (
                {f"{name}_{fp}.parquet" for fp in fps}
                | {f"{name}_{fp}.jsonl" for fp in fps}
                | {f"{name}_{fp}.manifest.json" for fp in fps}
            )
            if entry.startswith(f"{name}_") and entry not in live:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:  # a superseded artifact's manifest
                    try:
                        os.remove(path)
                    except OSError:
                        pass
                removed.append(path)
                break
    return removed
