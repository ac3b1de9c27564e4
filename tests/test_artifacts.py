"""The fingerprint-keyed artifact store (euclid_spark/artifacts.py) and
its two dedup consumers: build-then-serve must equal always-rebuild, a
corpus/parameter change must re-key, and concurrent/lost-race saves must
leave a readable winner."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from euclid_spark import artifacts
from tests.conftest import SF_SMOKE

def _at(root, stem: str) -> str:
    """A hand-named artifact path under the test's artifact root."""
    return os.path.join(str(root), f"{stem}.parquet")


def test_serve_frame_builds_once_then_loads(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "store"))
    (tmp_path / "data.parquet").write_bytes(b"x" * 16)
    decl = artifacts.Artifact("t", "data", dict(op="t"))
    path = decl.path(str(tmp_path))
    assert path == os.path.join(
        str(tmp_path / "store"),
        "t_%s.parquet" % artifacts.corpus_fingerprint(
            [str(tmp_path / "data.parquet")], op="t"
        ),
    )
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))

    a = artifacts.serve_frame(spark, path, build)
    b = artifacts.serve_frame(spark, decl.path(str(tmp_path)), build)
    assert len(calls) == 1  # second call served from disk
    assert sorted(r["v"] for r in a.collect()) == sorted(r["v"] for r in b.collect())
    assert os.path.exists(path)


def test_fingerprint_rekeys_on_params_and_files(tmp_path):
    f = tmp_path / "data.parquet"
    f.write_bytes(b"x" * 16)
    fp1 = artifacts.corpus_fingerprint([str(f)], k=3)
    assert fp1 == artifacts.corpus_fingerprint([str(f)], k=3)  # stable
    assert fp1 != artifacts.corpus_fingerprint([str(f)], k=4)  # param change
    os.utime(f, ns=(1, 1))  # mtime change = new corpus version
    assert fp1 != artifacts.corpus_fingerprint([str(f)], k=3)


def test_save_frame_lost_race_keeps_winner(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    df = spark.range(3)
    artifacts.save_frame(df, _at(tmp_path, "w_fp"))
    # rename onto existing dir → lost race
    artifacts.save_frame(df, _at(tmp_path, "w_fp"))
    assert spark.read.parquet(_at(tmp_path, "w_fp")).count() == 3
    assert not [p for p in os.listdir(tmp_path) if ".tmp." in p]  # temp cleaned


@pytest.mark.parametrize("served_twice", [False, True])
def test_component_labels_artifact_equals_rebuild(
    spark, tmp_path, monkeypatch, served_twice
):
    """keep-list through the artifact path == direct recompute, whether
    the artifact is being built (cold) or served (warm)."""
    from euclid_spark.operators import components
    from euclid_spark.operators.dedup import dedup_ngram_jaccard

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    direct = components.connected_components(
        dedup_ngram_jaccard(spark, SF_SMOKE).select("doc_a", "doc_b")
    ).collect()
    served = components.component_labels(spark, SF_SMOKE)
    if served_twice:  # warm path: read back from the artifact just written
        served = components.component_labels(spark, SF_SMOKE)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct))
    stored = [p for p in os.listdir(tmp_path) if p.startswith("dedup_components_")]
    assert len(stored) == 1


def test_signature_index_artifact_equals_direct(spark, tmp_path, monkeypatch):
    from euclid_spark.operators import dedup

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    direct = dedup.minhash_signatures(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ).collect()
    served = dedup.signature_index(spark, SF_SMOKE)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct))


def test_gc_removes_superseded_and_tmp_only(spark, tmp_path, monkeypatch):
    import os

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    df = spark.range(2)
    artifacts.save_frame(df, _at(tmp_path, "idx_old"))
    artifacts.save_frame(df, _at(tmp_path, "idx_new"))
    artifacts.save_frame(df, _at(tmp_path, "other_fp"))  # foreign name: untouched
    os.makedirs(tmp_path / "idx_x.parquet.tmp.123")  # orphaned build

    removed = artifacts.gc({"idx": "new"})
    names = sorted(os.listdir(tmp_path))
    assert names == ["idx_new.parquet", "other_fp.parquet"]
    assert len(removed) == 2
    assert spark.read.parquet(_at(tmp_path, "idx_new")).count() == 2


def test_simhash_index_artifact_equals_direct(spark, tmp_path, monkeypatch):
    from euclid_spark.operators import dedup

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    direct = dedup.simhash_signatures(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ).collect()
    served = dedup.simhash_index(spark, SF_SMOKE)  # builds
    served2 = dedup.simhash_index(spark, SF_SMOKE)  # serves from disk
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct))
    assert sorted(map(tuple, served2.collect())) == sorted(map(tuple, direct))


def test_partsupp_artifact_equals_direct(spark, tmp_path, monkeypatch):
    from euclid_spark.operators import relational

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    direct = relational._partsupp_build(spark, SF_SMOKE).collect()
    served = relational._partsupp(spark, SF_SMOKE)
    served = relational._partsupp(spark, SF_SMOKE)  # warm path
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct))


def test_mpt_block_db_artifact_roundtrip(spark, tmp_path, monkeypatch):
    """Build-then-serve node DB drives the walk to the same entry set as
    the all-inline pipeline; root flags survive the artifact."""
    from euclid_spark.cache import persist_tracked
    from euclid_spark.operators import mpt_ingest as M

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    nodes = persist_tracked(M.synthesize_owner_tries(spark, SF_SMOKE))
    dec = M.decode_mpt_nodes(nodes)
    roots = nodes.filter("is_root").select("owner", "node_hash")
    direct = sorted(
        map(tuple, M.mpt_reassemble(dec, roots).collect())
    )
    served = sorted(
        map(tuple, M.mpt_reassemble_query(spark, SF_SMOKE)
            .select("owner", "token_id").collect())
    )
    direct_keys = sorted({(o, int("".join("0123456789abcdef"[n] for n in k), 16))
                          for o, k, _ in direct})
    assert direct_keys == served


def test_merkle_tree_artifact_equals_inline(spark, tmp_path, monkeypatch):
    """Proof paths from the served tree == paths from an inline build."""
    from euclid_spark.operators import merkle as Mk

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    served = sorted(
        map(tuple, Mk.merkle_membership_proof(spark, SF_SMOKE).collect())
    )
    # inline: same leaves, no artifact path
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    leaves = cust.select(
        FF.col("c_nationkey").alias("group_key"),
        FF.col("c_custkey"),
        (FF.row_number().over(w) - 1).alias("pos"),
        FF.sha2(
            FF.concat_ws(":", FF.col("c_custkey").cast("string"), "c_name"), 256
        ).alias("node_hash"),
    )
    inline = sorted(
        map(tuple, Mk.merkle_opening_paths(leaves, ["c_custkey"]).collect())
    )
    assert served == inline


def test_dynamic_oracles_reference_served_model_artifacts():
    """C12/C31 oracles take the FITTED model as an input table: the
    generated SQL must read_parquet the fingerprint-keyed centroid
    artifacts (and regenerate per corpus), so the serving path is
    hash-checked with only the fit engine-side."""
    from euclid_spark import registry

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        o = registry.oracles(sf)
        assert "ivf_centroids_" in o["sim_ivf_topk"]
        assert "semdedup_centroids_" in o["dedup_semantic"]
    # different corpora -> different artifact keys in the SQL
    a = registry.oracles("/root/testdata/sf0.001")["sim_ivf_topk"]
    b = registry.oracles("/root/testdata/sf0.01")["sim_ivf_topk"]
    assert a != b


def test_publish_and_read_manifests(spark, tmp_path, monkeypatch):
    """Manifests carry (family, params, fingerprint, path, source
    identity) and read back; unreadable files are skipped."""
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    src = os.path.join(SF_SMOKE, "events.parquet")
    artifacts.publish_manifest(
        _at(tmp_path, "resp_abc123"), "q2", [src], {"contract": "purchase"}
    )
    (tmp_path / "junk_x.manifest.json").write_text("{not json")
    ms = artifacts.read_manifests()
    assert len(ms) == 1
    m = ms[0]
    assert m["family"] == "q2"
    assert m["path"] == "resp_abc123.parquet"
    assert m["params"] == {"contract": "purchase"}
    st = os.stat(src)
    assert m["sources"][src] == {
        "size": st.st_size, "mtime_ns": st.st_mtime_ns,
    }


def test_gc_keeps_current_manifest_drops_superseded(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    src = os.path.join(SF_SMOKE, "events.parquet")
    df = spark.range(2)
    for fp in ("old", "new"):
        artifacts.save_frame(df, _at(tmp_path, f"resp_{fp}"))
        artifacts.publish_manifest(_at(tmp_path, f"resp_{fp}"), "q2", [src], {})

    artifacts.gc({"resp": "new"})
    names = sorted(os.listdir(tmp_path))
    assert names == ["resp_new.manifest.json", "resp_new.parquet"]


def test_gc_keeps_every_fingerprint_of_a_parameterized_name(
    spark, tmp_path, monkeypatch
):
    """Contract-keyed artifact families (q2_response, q2_entry_store)
    hold MULTIPLE live fingerprints under one name prefix — gc with a
    set keeps them all; the r11 trap was gc(default-contract fp)
    deleting the alt contract's current artifact."""
    import os

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path))
    df = spark.range(2)
    for fp in ("contract_a", "contract_b", "superseded"):
        artifacts.save_frame(df, _at(tmp_path, f"resp_{fp}"))

    removed = artifacts.gc({"resp": {"contract_a", "contract_b"}})
    names = sorted(os.listdir(tmp_path))
    assert names == ["resp_contract_a.parquet", "resp_contract_b.parquet"]
    assert [os.path.basename(p) for p in removed] == [
        "resp_superseded.parquet"
    ]
