"""Connected components over near-duplicate candidate pairs
(SURVEY.md §2.C14): clusters of mutually-similar documents, keeping the
lowest doc_id as the canonical representative — the final step of a
production dedup pipeline (pairs alone over-remove: A~B, B~C ⇒ one
cluster {A,B,C}, keep A).

Iterative min-label propagation with **pointer doubling**: each round
(1) every node adopts the minimum label in its edge neighborhood, then
(2) every node adopts its label's label (component := component of
component). Step (2) halves chain depth per round, so convergence is
O(log(diameter)) rounds — 20 rounds covers diameter ~10⁶ — matching the
small-star/large-star family (CC-MR / Kiveris et al., public
literature) rather than the O(diameter) one-hop variant.

Scale rules enforced here:
- the symmetrized edge set is persisted AND materialized once before the
  loop — per-round joins read the cache, never the upstream pipeline
  (the r1 bug: each round re-ran shingle→md5→join→Jaccard from parquet);
- per-round label frames are **checkpointed, not merely persisted** —
  each round's plan references the previous labels 4× (edge-hop join +
  pointer self-join), so an un-truncated logical plan grows 4^rounds
  (persist caches partitions but keeps full lineage; round ~15 produced
  a 2 GiB plan string). `localCheckpoint(eager=True)` cuts lineage to
  the materialized RDD each round; on a real cluster prefer a reliable
  `checkpoint()` via `sparkContext.setCheckpointDir` (localCheckpoint
  dies with an executor), which this code uses when a checkpoint dir is
  configured;
- the driver-side loop is orchestration only (per-round work is three
  hash joins + an aggregation, all shuffle-partitioned on the node id);
- exhausting max_rounds without a fixed point WARNS loudly — an
  unconverged labeling silently corrupts the keep-list downstream.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from euclid_spark import artifacts
from euclid_spark.catalog import cached_parquet

from euclid_spark.cache import local_checkpoint_tracked, persist_tracked
from euclid_spark.operators import dedup as _d

MAX_ROUNDS = 20


def connected_components(
    edges: DataFrame,
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """edges: (doc_a, doc_b) undirected. Returns (doc_id, component) with
    component = min doc_id reachable. The edge pin and the per-round
    local checkpoints register under the caller's cache scope (cache.py),
    so a streaming sink's batch scope owns them and no concurrent
    thread's release can unpersist this loop's truncated-lineage RDDs."""
    sym = persist_tracked(
        edges.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
            edges.selectExpr("doc_b AS src", "doc_a AS dst")
        )
    )
    # Materialize the edge set NOW: every upstream stage (at scale: the
    # whole candidate-pair pipeline) runs exactly once, and the loop below
    # only ever touches the cached partitions.
    sym.count()

    # reliable checkpoint on a cluster (survives executor loss); local
    # checkpoint otherwise — either way the LINEAGE is truncated, which is
    # the point (see module docstring: plans grow 4^rounds without it)
    if sym.sparkSession.sparkContext.getCheckpointDir():
        # reliable checkpoints write files on a separate recomputation
        # when lazy — keep both call sites eager on a cluster
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
        _ckpt_lazy = _ckpt
    else:
        _ckpt = local_checkpoint_tracked
        _ckpt_lazy = lambda df: local_checkpoint_tracked(df, eager=False)  # noqa: E731

    nodes = sym.select(F.col("src").alias("doc_id")).distinct()
    labels = _ckpt(nodes.withColumn("component", F.col("doc_id")))

    converged = False
    for _ in range(max_rounds):
        # (1) edge-hop: min label over the neighborhood
        neigh_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("neigh_component"))
        )
        one_hop = _ckpt(
            labels.join(neigh_min, labels.doc_id == neigh_min.src, "left")
            .select(
                "doc_id",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # (2) pointer doubling: component := label(component). Labels are
        # always node ids present in the frame, so a self-join resolves
        # the pointer; chains collapse at 2× depth per round. one_hop is
        # read twice below — it is already materialized by its checkpoint.
        ptr = one_hop.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        # the pre-round label is carried through the round as a column,
        # so convergence is a filter-count on the checkpoint. The
        # checkpoint is LAZY and the count is its materializing action:
        # checkpoint + convergence test ride ONE Spark job per round
        # (walk_tries' fused-round pattern; one_hop above stays eager
        # because the self-join reads it twice inside this very job).
        new_labels = _ckpt_lazy(
            one_hop.join(ptr, one_hop.component == ptr.p_id, "left").select(
                "doc_id",
                "old_component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_comp"), F.col("component")),
                ).alias("component"),
            )
        )
        changed = new_labels.filter(
            F.col("component") != F.col("old_component")
        ).count()
        labels = new_labels.select("doc_id", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: no fixed point after {max_rounds} rounds"
            " — labels may span unmerged components; raise max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


DEDUP_COMPONENTS = artifacts.Artifact(
    "dedup_components",
    "documents",
    dict(
        op="dedup_components",
        shingle_k=3,
        max_df=_d.MAX_SHINGLE_DF,
        jaccard=_d.JACCARD_THRESHOLD,
        rounds=MAX_ROUNDS,
    ),
)


def component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's near-dup component labeling (doc_id, component) as a
    fingerprint-keyed DISK ARTIFACT (euclid_spark/artifacts.py) — the
    dedup analog of the IVF centroid store, and of the reference's
    committed block-DB digest (block/mod.rs: the expensive commitment is
    built once per corpus version, then every query reads it). The
    labeling is fully deterministic (md5-shingle pairs → min-label fixed
    point), so build-then-serve and always-rebuild agree bit-for-bit;
    the fingerprint covers the documents files AND every parameter of
    the pair pipeline, so a corpus or threshold change rebuilds under a
    new key. First-ever run on a corpus pays the iterative build; every
    later process — keep-list, curation pipeline, a fresh driver — reads
    one small parquet."""
    from euclid_spark.operators.dedup import dedup_ngram_jaccard

    return artifacts.serve_frame(
        spark,
        DEDUP_COMPONENTS.path(sf_dir),
        lambda: connected_components(
            dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 — cluster the verified near-dup pairs (trigram Jaccard ≥ 0.5)
    and emit (doc_id, component): docs absent from any pair are unique by
    definition and omitted. Iterative ⇒ rows-only for the oracle gate
    (per-round joins are SQL, the fixed-point loop is not). Served from
    the component-labeling artifact (`component_labels`)."""
    return component_labels(spark, sf_dir).orderBy("doc_id")


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 — the production deliverable of the dedup pipeline: the list of
    documents to KEEP — every doc that is not in a near-dup cluster, plus
    the canonical (minimum doc_id) member of each cluster. Anti-join of
    the corpus against non-canonical cluster members (read from the
    labeling artifact — the anti-join side is index-sized, not a rerun
    of the pair pipeline)."""
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    comp = component_labels(spark, sf_dir)
    drop = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti")


# --------------------------------------------- C39: graph centrality
PR_ITERS = 5
PR_TOTAL = 1_000_000_000_000  # total rank mass in integer micro-units
PR_NUM, PR_DEN = 85, 100      # damping 0.85 as an exact ratio


PAGERANK_DOCS = artifacts.Artifact(
    "pagerank_docs",
    "documents",
    dict(
        op="pagerank_docs",
        iters=PR_ITERS,
        total=PR_TOTAL,
        damp=PR_NUM,
        n_hashes=_d.N_HASHES,
        band=_d.BAND_SIZE,
        cap=_d.MAX_BUCKET,
    ),
)


def graph_doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39 — FIXED-POINT PAGERANK over the near-dup candidate graph
    (PageRank as a duplicate-cluster centrality signal — the hub of a
    template family has high rank; the same loop is the generic
    power-iteration engine for any edge table).

    Deterministic by construction: rank mass is INTEGER micro-units
    (PR_TOTAL total), each step is
        share(u) = rank(u) div deg(u)
        rank'(v) = (15·(PR_TOTAL div N) + 85·Σ_{u~v} share(u)) div 100
    — integer division and integer sums only, so the result is
    bit-identical in any engine and under any aggregation order (the
    float version would drift at the 10⁻¹⁶ level per merge order and
    could flip a rounded digit; exact integers make the oracle a hash
    check, the same reason the u256 path stays integral). PR_ITERS
    fixed rounds ⇒ the oracle is a chained-CTE unrolling, no recursion.

    Scale shape: per round ONE join on the edge key + ONE dst
    aggregation — the standard distributed power iteration; the edge
    table is the LSH candidate set (bucket-capped, linear in corpus).
    Loop hygiene as in connected_components: the edge and degree
    tables are persisted once, and each round's ranks are checkpointed
    so planning cost stays constant per round instead of nesting.
    The rank table is a fingerprint-keyed DISK ARTIFACT (the
    component-labels precedent — centrality over a corpus version is
    an index, not query-time work)."""
    return artifacts.serve_frame(
        spark, PAGERANK_DOCS.path(sf_dir), lambda: _pagerank_build(spark, sf_dir)
    )


def _pagerank_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from euclid_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    sym = persist_tracked(
        pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
            pairs.selectExpr("doc_b AS src", "doc_a AS dst")
        )
    )
    deg = persist_tracked(sym.groupBy("src").agg(F.count("*").alias("d")))
    n = deg.agg(F.count("*").alias("n"))
    base = F.expr(f"div({PR_TOTAL}, n)")
    ranks = local_checkpoint_tracked(
        deg.join(F.broadcast(n)).select(
            F.col("src").alias("doc_id"), "d", "n", base.alias("rank")
        )
    )
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(sym, ranks.doc_id == sym.src)
            .select("dst", F.expr("div(rank, d)").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
        )
        ranks = local_checkpoint_tracked(
            deg.join(contrib, deg.src == contrib.dst)
            .join(F.broadcast(n))
            .select(
                F.col("src").alias("doc_id"),
                "d",
                "n",
                F.expr(
                    f"div({PR_DEN - PR_NUM} * div({PR_TOTAL}, n) "
                    f"+ {PR_NUM} * s, {PR_DEN})"
                ).alias("rank"),
            )
        )
    return ranks.select(
        "doc_id", F.col("d").alias("degree"), F.col("rank").alias("rank_micro")
    )


# ------------------------------------------ C47: triangle counting
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C47 — TRIANGLE COUNTING + local clustering coefficient over the
    near-dup candidate graph: a template family (boilerplate cluster)
    is dense — its members close triangles — while chance LSH
    collisions are sparse wedges; the coefficient 2T/(d(d−1)) separates
    the two, the graph-side quality signal next to C39's centrality.

    Scale shape — DEGREE-ORDERED ORIENTATION (the MapReduce triangle
    algorithm of Suri & Vassilvitskii 2011 / Cohen 2009, public):
    every edge is directed from its (degree, id)-smaller endpoint to
    the larger, making the orientation acyclic with out-degree
    O(√m) — wedge volume Σ d_out² is bounded even when a hub's raw
    degree is not (the id-oriented join would square the hub degree).
    Each triangle is then counted exactly once: two out-edges at its
    order-minimal vertex plus the oriented closing edge. Three joins,
    all on edge keys; the edge list is the SERVED LSH pair ledger
    (bucket-capped, linear in corpus)."""
    from euclid_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    sym = pairs.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
        pairs.selectExpr("doc_b AS u", "doc_a AS v")
    )
    deg = persist_tracked(sym.groupBy("u").agg(F.count("*").alias("d")))
    # total order: (degree, doc_id); orient each edge small → large
    keyed = (
        pairs.join(deg.selectExpr("u AS doc_a", "d AS da"), "doc_a")
        .join(deg.selectExpr("u AS doc_b", "d AS db"), "doc_b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = persist_tracked(
        keyed.select(
            F.when(a_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("src"),
            F.when(a_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    # wedge at the order-minimal vertex: two out-edges (src→v, src→w)
    # with v before w in the order; the closing edge is oriented v→w
    v_first = (F.col("e1.dst_d") < F.col("e2.dst_d")) | (
        (F.col("e1.dst_d") == F.col("e2.dst_d"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & v_first)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    per_doc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
        .groupBy("u")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(per_doc, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("d") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


QUERIES = {
    "dedup_components": dedup_components,
    "dedup_keep_list": dedup_keep_list,
    "graph_doc_pagerank": graph_doc_pagerank,
    "graph_triangle_count": graph_triangle_count,
}

# The keep-list IS oracle-checkable even though components is iterative:
# DuckDB computes the same connected components as a recursive CTE
# (transitive closure over the verified near-dup pairs, then min label).
# _SH_CAPPED mirrors the document-frequency cap applied on the Spark side
# (dedup.MAX_SHINGLE_DF) — the pair sets must agree exactly.
from euclid_spark.operators.dedup import (  # noqa: E402
    JACCARD_THRESHOLD as _JT,
    _SH_CAPPED,
)

# Shared CTE chain: jaccard-verified pairs → symmetrized edges →
# transitive closure → min-label per node (the labeling itself).
_COMP_CTES = f"""
        {_SH_CAPPED},
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) * 1.0 /
                   ((SELECT n_sh FROM sz WHERE doc_id = a.doc_id)
                    + (SELECT n_sh FROM sz WHERE doc_id = b.doc_id)
                    - COUNT(*)) >= {_JT}
        ),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        comp AS (
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
"""

ORACLES: dict[str, str] = {
    # C14 upgraded from rows-only: the fixed-point LOOP is not SQL, but
    # its result is — the recursive-CTE transitive closure computes the
    # identical min-label per paired doc.
    "dedup_components": f"""
        WITH RECURSIVE
        {_COMP_CTES}
        SELECT doc_id, component FROM comp
    """,
    "dedup_keep_list": f"""
        WITH RECURSIVE
        {_COMP_CTES}
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
            SELECT doc_id FROM comp WHERE doc_id <> component
        )
    """,
}

# C39 oracle: PR_ITERS chained-CTE power iterations in exact integer
# arithmetic (// is floor division in DuckDB; operands are positive, so
# it matches Spark's `div`). Edge CTEs are C2's LSH pair SQL.
from euclid_spark.operators.dedup import (  # noqa: E402
    MAX_BUCKET as _MB,
    _BAND_SELECTS,
    _SH,
    _SIG_COLS,
)
def _pagerank_sql() -> str:
    ctes = [
        _SH,
        f"sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id)",
        f"bands AS ({_BAND_SELECTS})",
        "guarded AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx,"
        " band_val) AS bucket_n FROM bands)",
        f"""lsh_pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM guarded a JOIN guarded b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
            WHERE a.bucket_n <= {_MB} AND b.bucket_n <= {_MB})""",
        "sym AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs"
        " UNION ALL SELECT doc_b, doc_a FROM lsh_pairs)",
        "deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"r0 AS (SELECT deg.src AS doc_id, deg.d,"
        f" {PR_TOTAL} // nn.n AS rank FROM deg, nn)",
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS doc_id, SUM(r.rank // r.d) AS s"
            f" FROM sym e JOIN r{i - 1} r ON r.doc_id = e.src"
            f" GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT deg.src AS doc_id, deg.d,"
            f" ({PR_DEN - PR_NUM} * ({PR_TOTAL} // nn.n)"
            f" + {PR_NUM} * c{i}.s) // {PR_DEN} AS rank"
            f" FROM deg JOIN c{i} ON c{i}.doc_id = deg.src, nn)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, d AS degree, "
        f"CAST(rank AS BIGINT) AS rank_micro FROM r{PR_ITERS}"
    )


ORACLES["graph_doc_pagerank"] = _pagerank_sql()


def _triangle_sql() -> str:
    """C47 oracle: the identical degree-ordered orientation over C2's
    LSH pair SQL — each triangle counted once at its order-minimal
    vertex."""
    ord_a = "(k.da < k.db OR (k.da = k.db AND k.doc_a < k.doc_b))"
    return f"""
        WITH {_SH},
        sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
        bands AS ({_BAND_SELECTS}),
        guarded AS (SELECT *, COUNT(*) OVER (PARTITION BY band_idx,
                    band_val) AS bucket_n FROM bands),
        lsh_pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM guarded a JOIN guarded b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
            WHERE a.bucket_n <= {_MB} AND b.bucket_n <= {_MB}),
        sym AS (SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
                UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
        deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
        keyed AS (
            SELECT p.doc_a, p.doc_b, da.d AS da, db.d AS db
            FROM lsh_pairs p
            JOIN deg da ON da.u = p.doc_a
            JOIN deg db ON db.u = p.doc_b),
        oriented AS (
            SELECT CASE WHEN {ord_a} THEN k.doc_a ELSE k.doc_b END AS src,
                   CASE WHEN {ord_a} THEN k.doc_b ELSE k.doc_a END AS dst,
                   CASE WHEN {ord_a} THEN k.db ELSE k.da END AS dst_d
            FROM keyed k),
        tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM oriented e1
            JOIN oriented e2 ON e1.src = e2.src
             AND (e1.dst_d < e2.dst_d
                  OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))
            JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        mem AS (
            SELECT u, COUNT(*) AS n_triangles FROM (
                SELECT a AS u FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri) GROUP BY u)
        SELECT deg.u AS doc_id, CAST(deg.d AS BIGINT) AS degree,
               CAST(COALESCE(mem.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN deg.d >= 2
                    THEN ROUND(2.0 * COALESCE(mem.n_triangles, 0)
                               / (deg.d * (deg.d - 1)), 6)
                    ELSE 0.0 END AS clustering
        FROM deg LEFT JOIN mem ON mem.u = deg.u
    """


ORACLES["graph_triangle_count"] = _triangle_sql()
