"""ANN recall gates (VERDICT r1 #9): an approximate index is only "done"
when its recall against the exact baseline is measured. recall@k =
|ANN-top-k ∩ exact-top-k| / k, averaged over the query set, at the
oracle SF (500 corpus vectors — small enough to be cheap, large enough
that buckets/lists actually partition the space)."""

from __future__ import annotations

from pyspark.sql import functions as F

from euclid_spark.operators.similarity import (
    TOP_K,
    sim_ann_lsh,
    sim_ivf_topk,
    sim_quantized_topk,
    sim_topk_cosine,
)
from tests.conftest import SF_ORACLE


def _topk_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall_at_k(approx: dict, exact: dict) -> float:
    per_q = [
        len(approx.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in exact.items()
    ]
    return sum(per_q) / len(per_q)


def test_lsh_recall_floor(spark):
    exact = _topk_sets(sim_topk_cosine(spark, SF_ORACLE))
    lsh = _topk_sets(sim_ann_lsh(spark, SF_ORACLE))
    r = _recall_at_k(lsh, exact)
    print(f"\nLSH recall@{TOP_K}: {r:.3f}")
    # 8-bit hyperplane buckets score ~1/256 of the corpus per probe; on
    # near-random synthetic embeddings a recall floor of 0.2 guards
    # against structural regressions (e.g. bucketing both sides
    # differently) without overfitting to this dataset.
    assert r >= 0.2, f"LSH recall@{TOP_K} collapsed: {r:.3f}"


def test_ivf_recall_floor(spark):
    exact = _topk_sets(sim_topk_cosine(spark, SF_ORACLE))
    ivf = _topk_sets(sim_ivf_topk(spark, SF_ORACLE))
    r = _recall_at_k(ivf, exact)
    print(f"\nIVF recall@{TOP_K}: {r:.3f}")
    # probing 2 of 8 k-means lists must keep a majority of true
    # neighbors — if centroid training or list assignment breaks,
    # recall drops toward n_probe/n_centroids = 0.25.
    assert r >= 0.5, f"IVF recall@{TOP_K} collapsed: {r:.3f}"


def test_exact_fit_ivf_recall_and_fit_properties(spark):
    """C12b: the hash-checked Lloyd fit must behave like a fit —
    recall above the trivial seed floor, iterated centroids that moved
    off their init vectors, and every corpus vector in exactly one
    list."""
    from euclid_spark.operators.similarity import (
        IVF_FIT_ITERS,
        ivf_exact_fit_centroids,
        sim_ivf_exact_fit_topk,
        sim_topk_cosine,
    )

    exact = _topk_sets(sim_topk_cosine(spark, SF_ORACLE))
    fit = _topk_sets(sim_ivf_exact_fit_topk(spark, SF_ORACLE))
    r = _recall_at_k(fit, exact)
    print(f"\nexact-fit IVF recall@{TOP_K}: {r:.3f}")
    assert r >= 0.2, f"exact-fit IVF recall@{TOP_K} collapsed: {r:.3f}"
    cent = {
        r2["cid"]: list(r2["cemb"])
        for r2 in ivf_exact_fit_centroids(spark, SF_ORACLE).collect()
    }
    assert len(cent) == 8
    # the Lloyd loop actually iterated: centroids are means, no longer
    # any single corpus vector (probability of a fixed point on this
    # data is nil; a regression to 0 iterations trips this)
    from euclid_spark.operators.similarity import _emb, N_QUERIES

    init = {
        tuple(r2["embedding"])
        for r2 in _emb(spark, SF_ORACLE)
        .filter(F.col("vec_id") >= N_QUERIES)
        .orderBy("vec_id")
        .limit(8)
        .collect()
    }
    moved = [c for c in cent.values() if tuple(c) not in init]
    assert moved, f"no centroid moved in {IVF_FIT_ITERS} iterations"


def test_quantized_recall_floor(spark):
    exact = _topk_sets(sim_topk_cosine(spark, SF_ORACLE))
    quant = _topk_sets(sim_quantized_topk(spark, SF_ORACLE))
    r = _recall_at_k(quant, exact)
    print(f"\nint8-quantized recall@{TOP_K}: {r:.3f}")
    # int8 keeps ~7 bits of per-component precision — cosine error is
    # O(1/127) relative, so only genuine near-ties may reorder. Well
    # below 0.8 means the quantization or the integer dot is broken.
    assert r >= 0.8, f"quantized recall@{TOP_K} collapsed: {r:.3f}"


def test_ivf_probes_fraction_of_corpus(spark):
    """The point of IVF is scoring a FRACTION of the corpus. Count scored
    candidate pairs vs brute force."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.similarity import (
        N_CENTROIDS,
        N_PROBE,
        N_QUERIES,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    cent = kmeans_centroids(corpus)
    assert cent.count() == N_CENTROIDS
    n_corpus = corpus.count()
    brute_pairs = N_QUERIES * n_corpus
    # scored pairs = sum over probed lists of their sizes; bounded well
    # below brute force unless lists are degenerate
    from euclid_spark.functions.vectors import cosine
    from pyspark.sql import Window

    assigned = (
        corpus.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cid", cosine(F.col("embedding"), F.col("cemb")).alias("s")
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vec_id").orderBy(F.desc("s"))),
        )
        .filter("rn = 1")
    )
    sizes = {r["cid"]: r["n"] for r in assigned.groupBy("cid").count().withColumnRenamed("count", "n").collect()}
    # worst case: every query probes the N_PROBE largest lists
    biggest = sorted(sizes.values(), reverse=True)[:N_PROBE]
    worst_scored = N_QUERIES * sum(biggest)
    frac = worst_scored / brute_pairs
    print(f"\nIVF worst-case scored fraction: {frac:.3f}")
    assert frac < 0.8, "inverted lists are degenerate — IVF scores ~everything"


def test_quantize_int8_zero_vector_guard(spark):
    """ADVICE r4: an all-zero embedding must quantize to an all-zero int
    vector (deterministic), not NaN→null components."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [3.0, -4.0, 0.5])],
        "vec_id long, embedding array<double>",
    ).select("vec_id", quantize_int8(F.col("embedding")).alias("q"))
    got = {r["vec_id"]: r["q"] for r in df.collect()}
    assert got[0] == [0, 0, 0]
    assert got[1] == [95, -127, 16]
    assert all(v is not None for q in got.values() for v in q)


def test_ivf_centroid_artifact_survives_process_restart(spark, tmp_path, monkeypatch):
    """VERDICT r4 #8: after the first-ever fit, the centroid artifact on
    disk serves a FRESH process (simulated by clearing the in-memory
    tier) without refitting — kmeans must not run again."""
    from euclid_spark.operators import similarity as sim

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    sim._CENTROIDS.clear()
    first = sim.ivf_centroids(spark, SF_ORACLE).collect()
    assert len(first) == sim.N_CENTROIDS

    sim._CENTROIDS.clear()  # "new process": memory tier gone, disk remains

    def _no_fit(*a, **k):
        raise AssertionError("refit despite on-disk artifact")

    monkeypatch.setattr(sim, "kmeans_centroids", _no_fit)
    again = sim.ivf_centroids(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))


def test_recall_report_matches_independent_computation(spark):
    """C59's micro-average must equal the recall computed by this
    file's own independent set arithmetic (the floors' machinery)."""
    from euclid_spark.operators.similarity import (
        sim_ann_lsh,
        sim_ann_recall_report,
    )

    rep = {
        r["method"]: r.asDict()
        for r in sim_ann_recall_report(spark, SF_ORACLE).collect()
    }
    assert set(rep) == {
        "lsh", "ivf", "ivf_pinned", "ivf_exact_fit", "int8", "prefix_rerank"
    }
    exact = _topk_sets(sim_topk_cosine(spark, SF_ORACLE))
    lsh = _topk_sets(sim_ann_lsh(spark, SF_ORACLE))
    micro = sum(
        len(lsh.get(q, set()) & nbrs) for q, nbrs in exact.items()
    ) / sum(len(nbrs) for nbrs in exact.values())
    assert abs(rep["lsh"]["mean_recall"] - micro) < 1e-6
    for r in rep.values():
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0


def test_matryoshka_fixture_flips_prefix_recall(spark):
    """C38b (r15): on the raw near-iid embeddings prefix-rerank recall
    is poor (the honest C59 number); on the Matryoshka-reweighted
    fixture the SAME pipeline clears a high floor — the property the
    C38 docstring promises, demonstrated rather than asserted."""
    from euclid_spark.operators.similarity import (
        _mrl_emb,
        sim_matryoshka_recall_report,
    )

    rep = {
        r["embedding_set"]: r.asDict()
        for r in sim_matryoshka_recall_report(spark, SF_ORACLE).collect()
    }
    assert set(rep) == {"raw", "mrl"}
    assert rep["raw"]["mean_recall"] <= 0.5
    assert rep["mrl"]["mean_recall"] >= 0.85
    assert rep["mrl"]["mean_recall"] > rep["raw"]["mean_recall"] + 0.3

    # the reweighting is a pure per-dim exact-power-of-two scaling:
    # same dim count, dim 0 unchanged, dim 2k & 2k+1 scaled by 2^-k
    raw = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .limit(3)
        .collect()
    }
    mrl = {
        r["vec_id"]: r["embedding"]
        for r in _mrl_emb(spark, SF_ORACLE)
        .filter(F.col("vec_id").isin(*raw.keys()))
        .collect()
    }
    for vid, e in raw.items():
        m = mrl[vid]
        assert len(m) == len(e)
        for i in range(len(e)):
            assert m[i] == float(e[i]) / (1 << (i // 2)), (vid, i)
