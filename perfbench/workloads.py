"""The workloads: what each runs, in what order, drawn from a seed.

Each workload runs in one process with one client (a closed loop: the
next operation starts when the previous one has returned its rows).

- serve  — the paper's query phase: `(owner, [b_min, b_max))` requests
  against indexes built before the run.
- ingest — the preprocessing phase: build indexes into an empty store,
  including a real Structured Streaming job, and serve each once.

A workload's work comes in units (a serve round, an ingest pass). The
settle unit runs during setup, untimed and unchecked, so that JIT
compilation, codegen and first loads of the store are paid before the
clock starts. It is drawn from SETTLE_SEED, not from the run's seed, so
every run sets up with the same work; the run's seed draws the timed
units that follow.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd

SF = "sf0.1"  # the corpus both workloads read
SETTLE_SEED = -1  # draws the settle unit; run seeds are never negative

N_BLOCKS = 100_000  # events (= blocks) in the sf0.1 corpus
ROUND_S = 8.0  # nominal length of one serve round on a 4-core host
PASS_S = 6.0  # nominal length of one ingest build pass
SERVE_WIDTHS = (200, 5_000, 60_000)
SERVE_FAMILIES = (
    "q2_range_response",
    "erc20_range_response",
    "q2_range_tree_topl",
    "erc20_range_tree_reward",
    "range_tree_agg",
)
INGEST_FACES = ("euclid_range_tree_agg", "stream_block_db_chain")


@dataclass(frozen=True)
class Request:
    family: str
    owner: int
    b_min: int
    b_max: int


@dataclass(frozen=True)
class Purchases:
    """The corpus's purchase events, sorted by block: `blocks[i]` was
    bought by `owners[i]`."""

    blocks: "list[int]"
    owners: "list[int]"

    def buyers(self, b_min: int, b_max: int) -> "list[int]":
        """Sorted distinct owners with a purchase in [b_min, b_max)."""
        i = bisect.bisect_left(self.blocks, b_min)
        j = bisect.bisect_left(self.blocks, b_max)
        return sorted(set(self.owners[i:j]))


def purchases(oracle) -> Purchases:
    """Every purchase an owner-keyed answer can contain (token and value
    present), read through DuckDB."""
    df = oracle.query(
        "SELECT event_id, user_id FROM events WHERE event_type = 'purchase'"
        " AND value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL"
        " ORDER BY event_id"
    )
    return Purchases(df["event_id"].tolist(), df["user_id"].tolist())


def serve_requests(seed: int, rounds: int, bought: Purchases) -> "list[Request]":
    """`rounds` rounds of the 15 (family, width) pairs, each round in a
    fresh shuffled order. The range position is uniform; the owner is
    uniform over the owners with a purchase in the range, so every
    owner-keyed answer has rows for the check to compare. A fixed mix
    per round keeps runs of different seeds comparable while every
    request differs."""
    rng = random.Random(seed)
    out: "list[Request]" = []
    for _ in range(rounds):
        pairs = [(f, w) for f in SERVE_FAMILIES for w in SERVE_WIDTHS]
        rng.shuffle(pairs)
        for fam, width in pairs:
            owners: "list[int]" = []
            while not owners:
                lo = rng.randrange(0, N_BLOCKS - width)
                owners = bought.buyers(lo, lo + width)
            out.append(Request(fam, owners[rng.randrange(len(owners))], lo, lo + width))
    return out


def face_passes(seed: int, faces: "tuple[str, ...]", passes: int) -> "list[list[str]]":
    """`passes` orderings of `faces`, each a fresh seeded permutation."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(faces)
        rng.shuffle(order)
        out.append(order)
    return out


def request_call(spark, sf_dir: str, req: Request) -> Callable:
    from euclid_spark.operators import range_response, range_tree

    fam, o, a, b = req.family, req.owner, req.b_min, req.b_max
    return {
        "q2_range_response": lambda: range_response.q2_range_response(
            spark, sf_dir, owner=o, b_min=a, b_max=b
        ),
        "erc20_range_response": lambda: range_response.erc20_range_response(
            spark, sf_dir, owner=o, b_min=a, b_max=b
        ),
        "q2_range_tree_topl": lambda: range_tree.q2_range_tree_topl(
            spark, sf_dir, owner=o, b_min=a, b_max=b
        ),
        "erc20_range_tree_reward": lambda: range_tree.erc20_range_tree_reward(
            spark, sf_dir, owner=o, b_min=a, b_max=b
        ),
        "range_tree_agg": lambda: range_tree.range_tree_agg(
            spark, sf_dir, b_min=a, b_max=b
        ),
    }[fam]


def face_call(spark, sf_dir: str, key: str) -> Callable:
    from euclid_spark import registry

    fn = registry.queries()[key]
    return lambda: fn(spark, sf_dir)


# --------------------------------------------------------------------------
# running operations
# --------------------------------------------------------------------------


@dataclass
class OpResult:
    kind: str
    detail: object
    latency_s: float = 0.0
    construct_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    rows: "pd.DataFrame | None" = None
    error: "str | None" = None


@dataclass
class Runner:
    """Runs one operation: construct (the layer call returns a lazy
    DataFrame), plan (force the executed plan), exec (collect the rows
    the client receives), then release the operation's cache pins.
    With `frozen_store` set, an operation that adds anything to that
    artifact store fails: serving must not build."""

    spark: object
    tracer: object
    frozen_store: "str | None" = None
    results: "list[OpResult]" = field(default_factory=list)

    def run(self, kind: str, detail: object, call: Callable) -> OpResult:
        from euclid_spark.cache import release_all

        tr = self.tracer
        res = OpResult(kind, detail)
        before = set(os.listdir(self.frozen_store)) if self.frozen_store else None
        with tr.op(kind):
            t0 = time.perf_counter()
            try:
                with tr.span("operators.construct"):
                    df = call()
                t1 = time.perf_counter()
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("spark.exec"):
                    res.rows = df.toPandas()
                t3 = time.perf_counter()
                res.construct_s, res.plan_s, res.exec_s = t1 - t0, t2 - t1, t3 - t2
                res.latency_s = t3 - t0
            except Exception as ex:  # noqa: BLE001 — a failed op is a result
                res.latency_s = time.perf_counter() - t0
                res.error = f"{type(ex).__name__}: {ex}"[:300]
            finally:
                tr.add("cache.pinned_bytes", tr.pinned_bytes())
                t4 = time.perf_counter()
                with tr.span("cache.release"):
                    release_all()
                tr.add("cache.release_s", time.perf_counter() - t4)
        if before is not None and res.error is None:
            new = set(os.listdir(self.frozen_store)) - before
            if new:
                res.error = f"artifact build in timed region: {sorted(new)[:3]}"
        self.results.append(res)
        return res


def all_ok(ops: "list[OpResult]", what: str) -> None:
    """Raise if any of `ops` failed (untimed work must not fail)."""
    bad = [f"{r.kind}: {r.error}" for r in ops if r.error]
    if bad:
        raise RuntimeError(f"{what} failed: {bad}")


@dataclass
class Outcome:
    """Some units of a workload: their operations, their wall time, the
    size of the store served or built, and the MB they wrote."""

    ops: "list[OpResult]"
    wall_s: float
    store_mb: float
    written_mb: float = 0.0


def _units(seconds: float, unit_s: float) -> int:
    """Timed units for a `seconds` run: the count follows from `seconds`
    and the unit's nominal length, never from how fast this run happens
    to be, so every run of a given `--seconds` does the same work."""
    return max(1, round(seconds / unit_s))


def _timed(step: Callable[[], None]) -> float:
    t0 = time.perf_counter()
    step()
    return time.perf_counter() - t0


def serve(ctx, settle: bool) -> Outcome:
    """The settle round when settling, else the timed rounds, then their
    checks. Settling skips the middle-width requests: the narrowest
    width (edges only) and the widest (a multi-level tile cover plus
    edges) already compile every plan shape a request can take."""
    sf_dir = ctx.data(SF)
    oracle = ctx.oracle(sf_dir)
    bought = purchases(oracle)
    if settle:
        todo = [
            q for q in serve_requests(SETTLE_SEED, 1, bought)
            if q.b_max - q.b_min != SERVE_WIDTHS[1]
        ]
    else:
        todo = serve_requests(ctx.seed, _units(ctx.seconds, ROUND_S), bought)
    runner = Runner(ctx.spark, ctx.tracer, frozen_store=ctx.store)

    def step() -> None:
        for req in todo:
            runner.run(req.family, req, request_call(ctx.spark, sf_dir, req))

    wall = _timed(step)
    if not settle:
        for r in runner.results:
            if r.error is None:
                q = r.detail
                r.error = oracle.check_request(q.family, q.owner, q.b_min, q.b_max, r.rows)
    return Outcome(runner.results, wall, ctx.store_mb())


def _build_pass(runner: Runner, ctx, sf_dir: str, order: "list[str]", store: str) -> float:
    """Build and serve each face in `order` into the empty store `store`;
    return the store's size in MB, after removing it."""
    os.environ["EUCLID_SPARK_ARTIFACTS"] = store
    try:
        for key in order:
            runner.run(key, key, face_call(ctx.spark, sf_dir, key))
    finally:
        os.environ["EUCLID_SPARK_ARTIFACTS"] = ctx.store
    size = ctx.store_mb(store)
    shutil.rmtree(store, ignore_errors=True)
    return size


def ingest(ctx, settle: bool) -> Outcome:
    """The settle pass when settling, else the timed passes, then their
    checks. Each pass builds every listed face's artifacts into a new,
    empty store private to the run, serving each face once as it goes."""
    sf_dir = ctx.data(SF)
    if settle:
        todo = face_passes(SETTLE_SEED, INGEST_FACES, 1)
    else:
        todo = face_passes(ctx.seed, INGEST_FACES, _units(ctx.seconds, PASS_S))
    runner = Runner(ctx.spark, ctx.tracer)
    sizes: "list[float]" = []

    def step() -> None:
        for i, order in enumerate(todo):
            store = os.path.join(ctx.run_dir, f"ingest-{'settle' if settle else i}")
            sizes.append(_build_pass(runner, ctx, sf_dir, order, store))

    wall = _timed(step)
    if not settle:
        oracle = ctx.oracle(sf_dir)
        for r in runner.results:
            if r.error is None:
                r.error = oracle.check_face(r.kind, r.rows)
    return Outcome(runner.results, wall, sizes[0], sum(sizes))


WORKLOADS = {"serve": serve, "ingest": ingest}


def prebuild(ctx) -> None:
    """Build every artifact serve reads: one request per (family, width)
    against the sf0.1 corpus."""
    runner = Runner(ctx.spark, ctx.tracer)
    for fam in SERVE_FAMILIES:
        for w in SERVE_WIDTHS:
            req = Request(fam, 7, N_BLOCKS // 5, N_BLOCKS // 5 + w)
            runner.run(fam, req, request_call(ctx.spark, ctx.data(SF), req))
    all_ok(runner.results, "prebuild")
