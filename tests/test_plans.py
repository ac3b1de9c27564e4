"""Physical-plan assertions (SURVEY.md §5 level 4): pushdown reaches the
scan, small dims broadcast, and no row-at-a-time Python evaluation sneaks
into hot-path operators. These guard the 100 TB properties the small-SF
row counts can't see."""

from __future__ import annotations

import pytest

from euclid_spark import registry
from euclid_spark.operators import (
    cms_range,
    dedup,
    euclid,
    relational,
    similarity,
    textops,
)
from tests.conftest import SF_SMOKE
from tests.plan_tree import (
    assert_no_nodes,
    assert_no_python_eval,
    assert_no_single_partition,
    exchange_partitionings,
    hash_exchange_keys,
    join_types,
    physical_node_counts,
    physical_nodes,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_push_to_parquet(spark):
    plan = _plan(relational.q6_forecast_revenue(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    # the range predicate must appear among the pushed filters
    pushed = plan.split("PushedFilters:")[1]
    assert "l_shipdate" in pushed[:400] or "l_discount" in pushed[:400]


def test_block_range_scan_pushes_ts_range(spark):
    plan = _plan(euclid.block_range_scan(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters:")[1]
    assert "ts" in pushed[:300], "timestamp range filter must push down"


def test_q5_broadcasts_dimensions(spark):
    df = relational.q5_local_supplier(spark, SF_SMOKE)
    assert "BroadcastHashJoinExec" in physical_node_counts(df)


def test_membership_proof_broadcasts_digests(spark):
    df = euclid.membership_proof(spark, SF_SMOKE)
    assert "BroadcastHashJoinExec" in physical_node_counts(df)


def test_no_python_udf_in_hot_paths(spark):
    hot = [
        euclid.q2_distinct_keys,
        euclid.erc20_weighted_sum,
        euclid.storage_digest,
        relational.q1_pricing_summary,
        dedup.dedup_minhash_lsh,
        similarity.sim_topk_cosine,
        textops.text_fingerprint,
    ]
    for fn in hot:
        assert_no_python_eval(fn(spark, SF_SMOKE), fn.__name__)


def test_codegen_in_q1(spark):
    df = relational.q1_pricing_summary(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan (isFinalPlan=true) on execution
    plan = _plan(df)
    # whole-stage codegen stages print as "*(n)" in the executed plan
    assert "*(1)" in plan and "partial_sum" in plan


@pytest.mark.parametrize(
    "fn", [euclid.q2_revelation_topl, relational.q3_shipping_priority]
)
def test_topn_uses_take_ordered(spark, fn):
    df = fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProjectExec" in physical_node_counts(df), (
        "LIMIT+ORDER BY must not global-sort"
    )


def test_q19_disjunction_keeps_hash_join(spark):
    """The OR of three conjunct arms shares the p_partkey equi-key; the
    planner must extract it and keep a hash join (the residual OR is a
    post-join filter). A nested-loop/cartesian fallback here would scan
    part × lineitem — instant death at 100 TB."""
    df = relational.q19_disjunctive_join(spark, SF_SMOKE)
    assert "BroadcastHashJoinExec" in physical_node_counts(df)
    assert_no_nodes(df, "CartesianProductExec", "BroadcastNestedLoopJoinExec")


def test_q21_quantifiers_fold_into_one_fact_pass(spark):
    """r15: the EXISTS / NOT EXISTS pair is answered by a two-level
    per-order aggregate — the plan must scan lineitem exactly ONCE
    (the quantifier shape scanned it three times) and keep partial
    aggregation ahead of every exchange; no cartesian fallback."""
    df = relational.q21_waiting_supplier(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1, "fact must be scanned once"
    assert not {"LeftSemi", "LeftAnti"} & set(join_types(df))
    assert "partial_" in plan
    assert_no_nodes(df, "CartesianProductExec")


def test_q4_exists_is_left_semi(spark):
    df = relational.q4_order_priority(spark, SF_SMOKE)
    assert "LeftSemi" in join_types(df)
    assert_no_nodes(df, "CartesianProductExec")


def test_merkle_roots_join_has_no_static_broadcast_hint(spark):
    """VERDICT r4 #2: merkle_opening_paths is a generic operator — roots
    has one row per group, so a *forced* broadcast would OOM with a
    high-cardinality group key. The logical plan must carry no broadcast
    hint on the roots join; AQE may still pick a broadcast join at
    runtime when roots is genuinely small (that is the desired
    behavior, and not what this test forbids)."""
    from euclid_spark.operators import merkle

    df = merkle.merkle_membership_proof(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_merkle_levels_is_one_grouped_pass(spark):
    """merkle_levels folds every level of every group in one grouped
    pass: at depth 9 its executed plan holds exactly one shuffle
    exchange (no shuffle per level), and building it leaves no cache
    pin registered and no RDD persisted (no checkpoint chain)."""
    from pyspark.sql import functions as F

    from euclid_spark import cache
    from euclid_spark.operators.merkle import merkle_levels

    def pins() -> "tuple[int, int]":
        return (
            len(cache._REGISTRY.get(cache._OWNER.get(), [])),
            spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
        )

    before = pins()
    leaves = spark.range(900).select(
        (F.col("id") % 3).alias("group_key"),
        F.expr("id div 3").alias("pos"),
        F.sha2(F.col("id").cast("string"), 256).alias("node_hash"),
    )
    nodes, depth = merkle_levels(leaves)
    assert depth == 9
    # AQE's initial and current plans share their nodes until the plan
    # runs: count each exchange once
    exchanges = {
        n.id() for n in physical_nodes(nodes)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    }
    assert len(exchanges) == 1, len(exchanges)
    assert pins() == before


def test_preprocessing_pipeline_plan_shape(spark):
    """A19 composes five stages: the whole chain must stay JVM-side,
    push the range filter to the scan, and never collapse the history
    into a single partition (the chain prefix-sum is two-level)."""
    from euclid_spark.operators import preprocessing

    df = preprocessing.preprocessing_pipeline(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert_no_single_partition(df)
    assert_no_python_eval(df)


def test_q20_exists_chain_is_semi_joins(spark):
    """Q20's nested quantifiers must plan as LeftSemi hash joins on
    equi-keys — never a correlated per-row execution or cartesian."""
    df = relational.q20_potential_promotion(spark, SF_SMOKE)
    assert "LeftSemi" in join_types(df)
    assert_no_nodes(df, "CartesianProductExec")


def test_q16_not_in_is_anti_join(spark):
    df = relational.q16_parts_supplier_relationship(spark, SF_SMOKE)
    assert "LeftAnti" in join_types(df)
    assert_no_nodes(df, "CartesianProductExec")


def test_new_tpch_stay_on_jvm(spark):
    for fn in [
        relational.q4_order_priority,
        relational.q12_ship_priority,
        relational.q15_top_supplier,
        relational.q17_small_quantity_revenue,
        relational.q19_disjunctive_join,
        relational.q21_waiting_supplier,
        relational.q22_global_sales_opportunity,
        relational.q2_min_cost_supplier,
        relational.q9_product_type_profit,
        relational.q11_important_stock,
        relational.q16_parts_supplier_relationship,
        relational.q20_potential_promotion,
    ]:
        assert_no_python_eval(fn(spark, SF_SMOKE), fn.__name__)


def test_benchmark_overlap_single_exchange_and_broadcast(spark):
    """C23's r5 one-pass shape: the train side must reach the doc_id
    aggregation through a BROADCAST join against the (fixed-size)
    benchmark shingle set — no shuffle of the corpus's shingle strings.
    Since r7 the registry face serves the verdict ARTIFACT (a plain
    scan), so this asserts the BUILD pipeline's plan — the shape the
    once-per-corpus-version build actually executes."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    is_bench = F.col("source").isin(*textops.BENCH_SOURCES)
    df = textops.contamination_overlap(
        docs.filter(~is_bench),
        textops.benchmark_shingles(docs.filter(is_bench)),
    )
    assert "BroadcastHashJoinExec" in physical_node_counts(df)
    # a SortMergeJoin: the corpus-wide shingle shuffle is back
    assert_no_nodes(df, "SortMergeJoinExec")
    assert_no_python_eval(df)


def test_pack_sequences_no_single_partition(spark):
    """C26's global prefix sum must be two-level (bucket window + 
    broadcast offsets) — a bare orderBy window would funnel the corpus
    through Exchange SinglePartition."""
    df = textops.text_pack_sequences(spark, SF_SMOKE)
    plan = _plan(df)
    assert_no_single_partition(df)
    assert_no_python_eval(df)


def test_temperature_sample_broadcasts_rates(spark):
    """C27's per-source rate table is scale-invariant (a handful of
    sources) — it must reach the corpus through a broadcast join, with
    no sort-merge shuffle of the documents and no single-partition
    exchange."""
    df = textops.text_temperature_sample(spark, SF_SMOKE)
    assert "BroadcastHashJoinExec" in physical_node_counts(df)
    assert_no_nodes(df, "SortMergeJoinExec")
    assert_no_single_partition(df)


def test_substring_spans_no_pairwise_join(spark):
    """C28's whole point: duplicated-window detection has NO self-join —
    no CartesianProduct, no nested loop, and stays on the JVM. Assert
    on the BUILD plan (the registry query serves the artifact, whose
    plan is just a scan)."""
    from euclid_spark.operators.dedup import _substring_spans_build

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = _substring_spans_build(docs)
    assert_no_nodes(df, "CartesianProductExec", "BroadcastNestedLoopJoinExec")
    assert_no_python_eval(df)
    assert "LeftSemi" in join_types(df)  # dup-hash membership is a semi join


def test_dsir_bucket_lm_broadcasts(spark):
    """C29: the fixed-size bucket log-ratio table must broadcast into
    the per-doc scoring join (never shuffle the corpus against it).
    Asserted on the BUILD plan (the registry query serves the
    artifact)."""
    from euclid_spark.operators.textops import _dsir_build

    df = _dsir_build(spark, SF_SMOKE)
    df.collect()  # AQE finalizes
    assert "BroadcastHashJoinExec" in physical_node_counts(df)
    assert_no_python_eval(df)


def test_perplexity_cutoffs_broadcast(spark):
    """C30: the per-lang threshold table (one row per language) must
    broadcast; doc scores must not be re-shuffled by a global sort."""
    from euclid_spark.operators.textops import _ppl_buckets_build

    df = _ppl_buckets_build(spark, SF_SMOKE)
    df.collect()
    assert "BroadcastHashJoinExec" in physical_node_counts(df)
    # the one allowed SinglePartition shape is the bounded scalar-total
    # aggregate (same as unigram_logprob's corpus total); the histogram
    # window must stay partitioned by lang — a global-order window over
    # the docs would sort through a range-partitioned exchange
    parts = exchange_partitionings(df)
    assert parts and "RangePartitioning" not in parts, parts


def test_training_mix_semi_joins_jvm_only(spark):
    """C32: survivorship checks are semi joins on doc_id; no pairwise
    join anywhere; everything on the JVM."""
    from euclid_spark.operators.curation import curation_training_mix

    df = curation_training_mix(spark, SF_SMOKE)
    df.collect()
    assert "LeftSemi" in join_types(df)
    assert_no_nodes(df, "CartesianProductExec")
    assert_no_python_eval(df)


def test_time_range_window_orders_on_epoch(spark):
    """B41 stays a single window pass on the JVM."""
    from euclid_spark.operators.relational import window_time_range_agg

    df = window_time_range_agg(spark, SF_SMOKE)
    assert "WindowExec" in physical_node_counts(df)
    assert_no_python_eval(df)


def test_bm25_no_corpus_shuffle(spark):
    """C34: the only exchange may carry the ONE-ROW stats aggregate —
    scoring is row-local and the top-k is TakeOrderedAndProject, so no
    corpus-wide shuffle or sort exists anywhere in the plan."""
    df = textops.text_bm25_topk(spark, SF_SMOKE)
    assert "TakeOrderedAndProjectExec" in physical_node_counts(df)
    assert_no_python_eval(df)
    # exchanges: exactly the scalar-stats aggregate (+ its broadcast)
    nodes = physical_node_counts(df, initial=False)
    n_shuffles = nodes.get("ShuffleExchangeExec", 0) + nodes.get("ReusedExchangeExec", 0)
    assert n_shuffles <= 1, nodes
    assert_no_nodes(df, "SortExec")


def test_rag_chunks_zero_exchanges(spark):
    """C36: chunking is entirely row-local — no exchange of any kind."""
    assert_no_nodes(
        textops.text_rag_chunks(spark, SF_SMOKE),
        "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec",
    )


def test_winnowing_only_selected_fingerprints_shuffle(spark):
    """C41: the only exchange is the final distinct over the SELECTED
    fingerprints (sampled density), never the token stream."""
    df = textops.text_winnowing(spark, SF_SMOKE)
    nodes = physical_node_counts(df, initial=False)
    n_shuffles = nodes.get("ShuffleExchangeExec", 0) + nodes.get("ReusedExchangeExec", 0)
    assert n_shuffles <= 1, nodes
    assert_no_python_eval(df)


def test_state_diff_broadcasts_heights(spark):
    """A22: the two probe heights join in as broadcasts; the account
    join keys on the aggregation key."""
    df = euclid.state_diff(spark, SF_SMOKE)
    assert {"BroadcastNestedLoopJoinExec", "BroadcastHashJoinExec"} & set(
        physical_node_counts(df)
    )
    assert_no_python_eval(df)


def test_unpivot_is_single_rollup(spark):
    """B45: stack is row-local — exactly the rollup's exchange."""
    nodes = physical_node_counts(
        relational.unpivot_measures(spark, SF_SMOKE), initial=False
    )
    n_shuffles = nodes.get("ShuffleExchangeExec", 0) + nodes.get("ReusedExchangeExec", 0)
    assert n_shuffles <= 1, nodes


@pytest.mark.parametrize(
    "face",
    [relational.heavy_hitters_cms, cms_range.cms_range_topk],
    ids=lambda f: f.__name__,
)
def test_cms_sketch_is_bounded_broadcast(spark, face):
    """B44 and B53 share one probe (relational.cms_probe): the top-N is
    a TakeOrderedAndProject, and the probe side joins the sketch via
    broadcast (CMS_ROWS × CMS_W cells by construction)."""
    nodes = physical_node_counts(face(spark, SF_SMOKE))
    assert nodes.get("TakeOrderedAndProjectExec", 0) >= 1, nodes
    assert nodes.get("BroadcastHashJoinExec", 0) >= 1, nodes


def _newest_job_id(spark) -> int:
    """Id of the newest job in Spark's status store (-1 when none), read
    the way `registry.run_face` counts its jobs."""
    return registry.StatusStore(spark).mark()[0]


def _answered_levels(flt, rows, requested, where) -> "dict[tuple, int]":
    """Rows per answered (owner, level) of a tree read. A dense tree's
    row answers its own (level, cell). An owner-keyed chain store must
    be read with a `chain_filter` filter (`requested` maps each one
    built to its (owner, level, cell) nodes), and every row it returns
    must hold at least one requested node — node (k, lo >> k) for k in
    [level, top]; it counts once at each level it answers."""
    from collections import Counter

    if where[1].startswith("range_tree_tiles_"):  # the dense keyless tree
        return Counter((r.get("owner"), r["level"]) for r in rows)
    built = requested.get(id(flt))
    assert built and built[0] is flt, (where, "not a chain_filter read", flt)
    per_level: "Counter[tuple]" = Counter()
    for r in rows:
        hit = [
            k for k in range(r["level"], r["top"] + 1)
            if (r["owner"], k, r["lo"] >> k) in built[1]
        ]
        assert hit, (where, "a row holds no requested node", r)
        per_level.update((r["owner"], k) for k in hit)
    return per_level


def test_query_phase_reads_bounded_rows_without_spark_jobs(spark, monkeypatch):
    """A25 and the owner-scoped A26/A29/A30/A31 requests over a wide
    range at sf0.01: every artifact read goes through
    artifacts.read_rows, each request reads its tile tree's cover ONCE
    (a Q2 response takes its cover keys and its cover digests from one
    `chain_filter` read of the keyed tree), a cover read returns ≤ 2
    rows per answered (owner, level) and a response's read of the
    opening-path siblings of ≤ L revealed rows ≤ L per level, and no
    tree read returns a row that answers no requested node, every
    edge read returns only rows inside the two < TILE_SIZE edge
    windows and the whole cells beside them and no request reads the
    same (store, owner, edge window) twice (a Q2 response's key fold
    takes the edge rows its element sequence read), every other read
    of an entry store is the ERC-20 response's revealed rows or the
    Q2 response's one read of the cells it has not read yet, one
    whole-cell event_id window each, with ≤ TILE_SIZE rows per
    (owner, cell) (the ERC-20 response opens its cells from its
    revealed-row read); no cell is read twice, and each whole cell is
    either the cell of a leaf chain a chain read returned (a leaf
    chain stores no digest: its cell root is refolded; a Q2
    response's cover leaf chains ride its edge read) or one of
    ≤ TOP_L cells holding a revealed row; no entry-store row comes
    back from two reads of one request (the ERC-20 response takes its
    edge rows from its revealed-row read); and no Spark job runs
    before the returned frame is acted on — nothing reads the range
    interior."""
    from collections import Counter

    from euclid_spark import artifacts
    from euclid_spark.operators import range_response, range_tree
    from euclid_spark.operators.euclid import TOP_L
    from euclid_spark.operators.range_tree import TILE_SIZE
    from tests.conftest import SF_ORACLE

    mb = artifacts.footer_stats(f"{SF_ORACLE}/events.parquet").span("event_id")[1]
    b_min, b_max = 37, mb - 41
    owner = 7
    calls = {
        "range_tree_agg": lambda: range_tree.range_tree_agg(
            spark, SF_ORACLE, b_min=b_min, b_max=b_max),
        "q2_range_tree_topl": lambda: range_tree.q2_range_tree_topl(
            spark, SF_ORACLE, owner=owner, b_min=b_min, b_max=b_max),
        "erc20_range_tree_reward": lambda: range_tree.erc20_range_tree_reward(
            spark, SF_ORACLE, owner=owner, b_min=b_min, b_max=b_max),
        "q2_range_response": lambda: range_response.q2_range_response(
            spark, SF_ORACLE, owner=owner, b_min=b_min, b_max=b_max),
        "erc20_range_response": lambda: range_response.erc20_range_response(
            spark, SF_ORACLE, owner=owner, b_min=b_min, b_max=b_max),
    }
    for call in calls.values():  # build every served artifact first
        assert call().count() > 0

    reads = []
    orig = artifacts.read_rows

    def spy(path, filter=None, columns=None):
        reads.append((path, filter, orig(path, filter, None)))
        return orig(path, filter, columns)

    monkeypatch.setattr(artifacts, "read_rows", spy)
    requested: "dict[int, tuple]" = {}
    chain_filter = range_tree.chain_filter

    def chain_spy(nodes, owner):
        flt = chain_filter(nodes, owner)
        requested[id(flt)] = (flt, {(owner, k, c) for k, c in nodes})
        return flt

    for mod in (range_tree, range_response):
        monkeypatch.setattr(mod, "chain_filter", chain_spy)
    edges = range_tree.tile_cover(b_min, b_max, 30)[1]
    assert len(edges) == 2  # both ends are partial cells
    covers = {  # the range's cover at any tree depth
        frozenset(range_tree.tile_cover(b_min, b_max, d)[0]) for d in range(64)
    }
    tile_trees = ("range_tree_tiles_", "q2_key_tiles_", "erc20_reward_tiles_")
    edge_stores = ("events.parquet", "q2_entry_store_", "erc20_all_entry_leaves_")
    for name, call in calls.items():
        reads.clear()
        before = _newest_job_id(spark)
        df = call()
        assert _newest_job_id(spark) == before, f"{name} ran a Spark job"
        assert reads, f"{name} read nothing through artifacts.read_rows"
        cell_reads = cover_reads = 0
        edge_reads: "set[tuple]" = set()
        leaf_chains: "set[int]" = set()  # the lo of each leaf chain read
        opened: "dict[int, list]" = {}  # whole-cell window → its rows
        entry_rows: "set[tuple]" = set()  # (store, row) of every entry read
        for path, flt, rows in reads:
            base = path.rstrip("/").rsplit("/", 1)[-1]
            if base.startswith(tile_trees) or id(flt) in requested:
                per_level = _answered_levels(flt, rows, requested, (name, base))
                nodes = requested[id(flt)][1] if id(flt) in requested else None
                if nodes is None or frozenset(
                    (k, c) for _, k, c in nodes
                ) in covers:
                    cover_reads += 1
                    cap = 2
                else:  # the opening-path siblings of ≤ L revealed rows
                    assert name.endswith("_range_response"), (name, base)
                    cap = max(2, TOP_L)
                assert max(per_level.values(), default=0) <= cap, (name, base)
                leaf_chains |= {r["lo"] for r in rows if r.get("top") is not None
                                and r["level"] == 0}
                continue
            # every other read is of an entry store (or, for A25, the
            # events) and filters on event_id windows
            assert base.startswith(edge_stores), (name, base, flt)
            got = {(base, tuple(sorted(r.items()))) for r in rows}
            assert not got & entry_rows, (name, "entry row read twice", base)
            entry_rows |= got
            windows = [
                tuple(v for c, op, v in conj if c == "event_id")
                for conj in flt or []
            ]
            assert windows and all(len(w) == 2 for w in windows), (name, flt)
            cells = [
                lo // TILE_SIZE for lo, hi in windows
                if lo % TILE_SIZE == 0 and hi - lo == TILE_SIZE
            ]
            rest = [w for w in windows if w[1] - w[0] != TILE_SIZE
                    or w[0] % TILE_SIZE]
            in_cells = [r for r in rows if r["event_id"] // TILE_SIZE in cells
                        and not any(lo <= r["event_id"] < hi for lo, hi in rest)]
            if cells:
                # the opened cells' entries, ranked and refolded on the
                # driver: a revealed row's cell or a leaf chain's
                per_cell = Counter(
                    (r["owner"], r["event_id"] // TILE_SIZE) for r in in_cells
                )
                assert all(o == owner for o, _ in per_cell), name
                assert {c for _, c in per_cell} <= set(cells), name
                assert max(per_cell.values(), default=0) <= TILE_SIZE, name
                for c in cells:
                    assert c not in opened, (name, "cell read twice", c)
                    opened[c] = [r for r in in_cells
                                 if r["event_id"] // TILE_SIZE == c]
            if not rest:
                cell_reads += 1
            elif rest == [(b_min, b_max)]:
                # the ERC-20 revealed rows: the owner's rows in range
                assert name == "erc20_range_response", name
                assert not cells, name
                assert all(r["owner"] == owner for r in rows), name
            else:
                assert sorted(rest) == sorted(edges), (name, base, windows)
                assert all(
                    any(lo <= r["event_id"] < hi for lo, hi in edges)
                    for r in rows if r not in in_cells
                ), (name, base)
                who = [v for conj in flt for c, _, v in conj if c == "owner"]
                for w in rest:  # each edge window read once
                    key = (base, who[0] if who else None, w)
                    assert key not in edge_reads, (name, "read twice", key)
                    edge_reads.add(key)
        if name == "q2_range_response":
            assert cell_reads == 1, name  # the revealed rows open cells
        elif name == "erc20_range_response":
            # its revealed-row read already holds every covered cell
            assert cell_reads == 0, name
        assert cover_reads == 1, (name, cover_reads)
        assert df.count() > 0
        assert _newest_job_id(spark) > before  # the action is the first job
        # every whole cell read is the cell of a leaf chain a chain read
        # returned (its digest is the cell's root, refolded) or holds a
        # revealed row (≤ TOP_L of those)
        for_rows = sorted(set(opened) - leaf_chains)
        if for_rows:
            key = df.columns[0]  # the payload id: token_id / event_id
            revealed = {r[0] for r in df.select(key).collect()}
            assert all(
                any(r[key] in revealed for r in opened[c]) for c in for_rows
            ), (name, for_rows)
        assert len(for_rows) <= TOP_L, name


def test_empty_answers_run_no_spark_job(spark):
    """An owner-scoped request for an owner with no rows in range, and a
    degenerate range, return an empty frame with the face's schema, and
    no Spark job runs from the call to the end of `collect()`: an empty
    answer is an empty Arrow table (catalog.local_frame), not a
    parallelized empty list."""
    from euclid_spark.operators import range_response, range_tree

    for fn, own in (
        (range_response.q2_range_response, {"owner": 7}),
        (range_tree.erc20_range_tree_reward, {"owner": 7}),
        (range_tree.range_tree_agg, {}),
    ):
        name = fn.__name__
        full = fn(spark, SF_SMOKE, **own, b_min=0, b_max=1000)
        assert full.collect(), name  # builds what the face serves
        requests = [{**own, "b_min": b, "b_max": b} for b in (0, 300)]
        if own:
            requests.append({"owner": 10**9, "b_min": 300, "b_max": 500})
        for kw in requests:
            before = _newest_job_id(spark)
            df = fn(spark, SF_SMOKE, **kw)
            assert df.collect() == [], (name, kw)
            assert _newest_job_id(spark) == before, (name, kw, "ran a Spark job")
            assert df.schema == full.schema, (name, kw)


def test_erc20_responses_served_plans_have_no_arrow(spark, tmp_path, monkeypatch):
    """r7: the response faces fold owner totals from the served leaf
    artifact — the Arrow u256 stage must appear ONLY at artifact
    build, never in the served query plan."""
    from euclid_spark.operators import merkle

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    # first call builds the artifacts (Arrow allowed there)
    merkle.erc20_verifiable_response(spark, SF_SMOKE).collect()
    for fn in (
        merkle.erc20_verifiable_response,
        merkle.erc20_batch_verifiable_responses,
    ):
        assert_no_python_eval(fn(spark, SF_SMOKE), f"{fn.__name__} re-runs the leaf")


def test_quantile_sketch_stays_jvm_side(spark):
    """B47: integer bucketing is pure column arithmetic — no Python
    anywhere, and the sketch aggregation is a plain hash aggregate."""
    from euclid_spark.operators import quantile_sketch

    df = quantile_sketch.hdr_quantiles(spark, SF_SMOKE)
    assert_no_python_eval(df)
    assert "HashAggregateExec" in physical_node_counts(df)


def test_leakage_split_serves_labels_no_python(spark, tmp_path, monkeypatch):
    """C46: one doc_id join against the served labels artifact; the
    bucket hash and split CASE are row-local JVM expressions — no
    Python stage, no pairwise join, no shuffle beyond the join."""
    from euclid_spark.operators.curation import curation_leakage_safe_split

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    df = curation_leakage_safe_split(spark, SF_SMOKE)
    df.collect()  # builds + serves the labels artifact, finalizes AQE
    served = curation_leakage_safe_split(spark, SF_SMOKE)
    plan = _plan(served)
    assert_no_python_eval(served)
    assert_no_nodes(served, "CartesianProductExec")
    # served path: the labels come from the artifact store, not a
    # re-run of the pair pipeline (no shingle explode in the plan)
    assert "posexplode" not in plan.lower()


def test_event_dedup_window_no_self_join(spark):
    """B54: one lag window on the (user, type) key — no events×events
    time-range join, no Python stage, timestamp filter arithmetic in
    integer microseconds."""
    from euclid_spark.operators.timeseries import event_dedup_window

    df = event_dedup_window(spark, SF_SMOKE)
    plan = _plan(df)
    assert "WindowExec" in physical_node_counts(df)
    assert_no_nodes(
        df, "SortMergeJoinExec", "BroadcastHashJoinExec", "CartesianProductExec"
    )
    assert_no_python_eval(df, "B54")


def test_triangle_count_serves_ledger_no_cartesian(spark, tmp_path, monkeypatch):
    """C47: edges come from the served LSH pair ledger (no signature
    rebuild — no shingle explode in the plan); the wedge and closing
    joins are equi-joins, never a cartesian product; everything JVM."""
    from euclid_spark.operators.components import graph_triangle_count

    monkeypatch.setenv("EUCLID_SPARK_ARTIFACTS", str(tmp_path / "_arts"))
    df = graph_triangle_count(spark, SF_SMOKE)
    df.collect()  # builds + serves the pair-ledger artifact
    df = graph_triangle_count(spark, SF_SMOKE)
    plan = _plan(df)
    assert_no_nodes(df, "CartesianProductExec")
    assert_no_python_eval(df)
    assert "posexplode" not in plan.lower().replace("explode(array", "")


def test_no_keyed_sort_aggregate_in_events_rollups(spark):
    """r12: a KEYED SortAggregate means an aggregation buffer went
    immutable (struct / string) and Spark silently swapped the hash
    aggregate for a full sort of the shuffled rows — the regression
    class the max_by(value, NULLed-ordering) rewrite removed from the
    row-scaling events rollups. Keyless SortAggregate (a plain fold,
    e.g. string min/max in the profiler) is fine."""
    import re

    from euclid_spark.operators import timeseries

    for fn in (
        euclid.state_rollup,
        euclid.state_diff,
        timeseries.gap_fill_locf,
        relational.table_profile,
    ):
        plan = _plan(fn(spark, SF_SMOKE))
        m = re.search(r"SortAggregate\(key=\[[^\]]", plan)
        assert not m, f"{fn.__name__} plans a keyed SortAggregate"


def test_pinned_responses_make_one_bounded_entry_store_read(
    spark, monkeypatch
):
    """A warm A20 or A23 call (one owner over the pinned range) makes
    exactly one `artifacts.read_rows` call: of its family's entry store,
    filtered to the owner and the pinned window's event_id span; and it
    runs no Spark job before it is acted on."""
    import os

    from euclid_spark import artifacts
    from euclid_spark.operators import merkle
    from euclid_spark.operators.euclid import OWNER, pinned_window

    faces = {
        merkle.verifiable_query_response: "q2_entry_store_",
        merkle.erc20_verifiable_response: "erc20_all_entry_leaves_",
    }
    for fn in faces:  # warm: build the stores, resolve the window
        assert fn(spark, SF_SMOKE).count() > 0
    min_b, max_b, _ = pinned_window(spark, SF_SMOKE)
    reads = []
    orig = artifacts.read_rows

    def spy(path, filter=None, columns=None):
        reads.append((path, filter))
        return orig(path, filter, columns)

    monkeypatch.setattr(artifacts, "read_rows", spy)
    for fn, store in faces.items():
        reads.clear()
        before = _newest_job_id(spark)
        df = fn(spark, SF_SMOKE)
        assert _newest_job_id(spark) == before, f"{fn.__name__} ran a Spark job"
        assert len(reads) == 1, (fn.__name__, reads)
        path, flt = reads[0]
        assert os.path.basename(path).startswith(store), (fn.__name__, path)
        assert flt == [[
            ("owner", "=", OWNER),
            ("event_id", ">=", min_b),
            ("event_id", "<=", max_b),
        ]], (fn.__name__, flt)
        assert df.count() > 0


def test_preprocessing_shares_one_day_owner_exchange(spark):
    """r15: the extraction cache is repartitioned on (day, owner) and
    materialized before consumers plan, so the partials aggregate must
    NOT re-shuffle on its (day, owner, bucket) key — no exchange keyed
    by the bucket _groupingexpression — and the acct cardinality
    counters must run as per-column two-level distinct aggregates over
    the co-partitioned cache, never as a Catalyst multi-distinct (whose
    Expand forces two exchanges of the ×4-expanded entry set)."""
    from euclid_spark.operators import preprocessing

    df = preprocessing.preprocessing_pipeline(spark, SF_SMOKE)
    plan = _plan(df)
    assert "REPARTITION_BY_COL" in plan
    # an Expand: the acct counters regressed to a multi-distinct
    assert_no_nodes(df, "ExpandExec")
    keyed = [k for k in hash_exchange_keys(df)
             if any("_groupingexpression" in e for e in k)]
    assert hash_exchange_keys(df), "the plan walk saw no hash exchange"
    assert not keyed, f"partials re-shuffled despite shared exchange: {keyed}"


def _logical_node_counts(df) -> "dict[str, int]":
    """Class-name counts over the OPTIMIZED logical plan tree (walked
    via children(), so a cached InMemoryRelation is a LEAF — its inner
    plan re-print never inflates the counts, the ADVICE r15 brittleness
    of substring counting). A parquet read in the main tree is a
    LogicalRelation node; a cache read is an InMemoryRelation node."""
    counts: dict[str, int] = {}

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        counts[name] = counts.get(name, 0) + 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return counts


def test_block_db_chain_plan_one_scan(spark):
    """r16: the per-day aggregate is pinned — the main chain join and
    the epoch-offset triangular join (two references) must ALL read the
    cache: no LogicalRelation (direct corpus scan) may remain in the
    main tree, and the pinned frame must appear more than once."""
    counts = _logical_node_counts(euclid.block_db_chain(spark, SF_SMOKE))
    assert counts.get("LogicalRelation", 0) == 0, counts
    assert counts.get("InMemoryRelation", 0) >= 2, counts
    assert_no_single_partition(euclid.block_db_chain(spark, SF_SMOKE))


def test_pack_sequences_plan_one_scan(spark):
    """r16: pack_stream pins its tokenized proxy and the bucket totals —
    the triangular-offset build and the final join read the caches
    instead of re-running the per-document tokenization (3 corpus
    passes -> 1)."""
    counts = _logical_node_counts(textops.text_pack_sequences(spark, SF_SMOKE))
    assert counts.get("LogicalRelation", 0) == 0, counts
    assert counts.get("InMemoryRelation", 0) >= 3, counts


def test_epoch_shards_plan_one_scan(spark):
    """r16: _assignments_from_rows pins the shard-row proxy and bucket
    totals — one documents scan feeds the whole two-level prefix sum."""
    from euclid_spark.operators import curation

    counts = _logical_node_counts(
        curation.curation_epoch_shards(spark, SF_SMOKE)
    )
    assert counts.get("LogicalRelation", 0) == 0, counts
    assert counts.get("InMemoryRelation", 0) >= 3, counts


def test_preprocessing_shared_exchange_survives_disk_only_pin(spark, monkeypatch):
    """r16 (VERDICT r15 #4): at 100 TB the full-extraction pin runs
    DISK_ONLY so it never competes with execution memory (guide §5).
    The knob must not change the plan shape: still Expand-free, still
    one (day, owner) exchange, and the pinned frame really is
    disk-only."""
    from euclid_spark.operators import preprocessing

    monkeypatch.setenv("EUCLID_CORPUS_PIN_LEVEL", "DISK_ONLY")
    df = preprocessing.preprocessing_pipeline(spark, SF_SMOKE)
    plan = _plan(df)
    assert "REPARTITION_BY_COL" in plan
    assert_no_nodes(df, "ExpandExec")
    keyed = [k for k in hash_exchange_keys(df)
             if any("_groupingexpression" in e for e in k)]
    assert hash_exchange_keys(df), "the plan walk saw no hash exchange"
    assert not keyed, f"partials re-shuffled despite shared exchange: {keyed}"
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    levels = [rdd.getStorageLevel() for rdd in rdds.values()]
    assert any(
        lv.useDisk() and not lv.useMemory() for lv in levels
    ), f"no disk-only pin in the JVM: {[lv.description() for lv in levels]}"


def test_corpus_pin_level_rejects_typo(spark, monkeypatch):
    """A mistyped EUCLID_CORPUS_PIN_LEVEL fails loudly, naming the knob
    and the valid levels, instead of a bare AttributeError."""
    from euclid_spark.operators import preprocessing

    monkeypatch.setenv("EUCLID_CORPUS_PIN_LEVEL", "DISK_ONYL")
    with pytest.raises(ValueError, match="EUCLID_CORPUS_PIN_LEVEL.*DISK_ONLY"):
        preprocessing.preprocessing_pipeline(spark, SF_SMOKE)


def test_range_join_bucketed_matches_direct_inequality(spark):
    """r15: the cell width is now narrower than the interval window —
    the rewrite must still equal the direct inequality join (the
    residual filter is exact whatever the bucket size)."""
    from pyspark.sql import functions as F

    from euclid_spark.operators.relational import (
        RANGE_DAYS,
        RANGE_WATCHLIST,
        _t,
        range_join_bucketed,
    )

    got = {
        (r["o_orderkey"], r["n_lines"], r["revenue"])
        for r in range_join_bucketed(spark, SF_SMOKE).collect()
    }
    big = _t(spark, SF_SMOKE, "orders").filter(
        F.col("o_custkey") < RANGE_WATCHLIST
    )
    li = _t(spark, SF_SMOKE, "lineitem")
    direct = (
        li.join(
            big,
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                < F.date_add(F.col("o_orderdate"), RANGE_DAYS)
            ),
        )
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(24,8)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )
    want = {
        (r["o_orderkey"], r["n_lines"], r["revenue"])
        for r in direct.collect()
    }
    assert got == want
