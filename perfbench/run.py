"""euclid_spark benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end figures of an uninstrumented
run; with `--trace 1` they are the per-layer figures of a run whose
layer calls are wrapped (see tracer.py), plus the tracing overhead.
The line before it is a JSON detail record (settings, tail percentile
and sample count, per-operation split). See README.md.

Everything the benchmark writes stays under `.bench_build/perfbench/`
in the checkout: the generated corpora and the pre-built artifact store
(made once, by the first run, in a child process), and a per-run
directory used as working directory, temp dir, Spark local dir and
private artifact store, removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(WORK, "data")
STORE = os.path.join(WORK, "store")
DRIVER_MEM = "4g"

sys.path.insert(0, HERE)

import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "store_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "operators.construct_s": "s",
    "operators.construct_p50_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "artifacts.serve_calls": "count",
    "artifacts.builds": "count",
    "artifacts.serve_s": "s",
    "artifacts.bytes_written": "bytes",
    "catalog.collect_all_calls": "count",
    "cache.release_s": "s",
    "cache.pinned_bytes": "bytes",
    "cache.persistent_rdds_after_release": "count",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "jvm.gc_s": "s",
    "host.calib_spark_ms": "ms",
    "host.calib_py_ms": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.overhead_s": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _env(run_dir: str) -> None:
    """Point every writer at the run's private directory and size the
    session for this host."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "SPARK_GRAFT_CPUS": str(_nproc()),
            "EUCLID_SPARK_DRIVER_MEM": DRIVER_MEM,
            "EUCLID_SPARK_ARTIFACTS": STORE,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        }
    )
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)


def _build_id(root: str = ROOT) -> str:
    """What the prepared corpus and store depend on: the corpus writer,
    the workload constants, and every file of the program, so that a
    change to the program rebuilds the store its own code serves."""
    h = hashlib.sha256()
    files = [os.path.join(root, "perfbench", "corpus.py")]
    for d, subdirs, names in os.walk(os.path.join(root, "euclid_spark")):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    for path in files:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    w = workloads
    h.update(repr((w.SERVE_FAMILIES, w.SERVE_WIDTHS, w.SF)).encode())
    return h.hexdigest()


class Context:
    """What a workload needs from the run: session, tracer, seed, length,
    private directories, the pre-built store and DuckDB oracles."""

    def __init__(self, spark, tracer, seed: int, seconds: float, run_dir: str) -> None:
        from tracer import jvm_pid

        self.spark, self.tracer = spark, tracer
        self.jvm_pid = jvm_pid(spark)
        self.seed, self.seconds, self.run_dir = seed, seconds, run_dir
        self.store = STORE
        self._oracles: dict = {}

    @staticmethod
    def data(sf: str) -> str:
        return os.path.join(DATA, sf)

    def store_mb(self, path: "str | None" = None) -> float:
        from tracer import dir_bytes

        return dir_bytes(path or self.store) / 1e6

    def oracle(self, sf_dir: str):
        from checks import Oracle

        if sf_dir not in self._oracles:
            self._oracles[sf_dir] = Oracle(sf_dir)
        return self._oracles[sf_dir]

    def close(self) -> None:
        for o in self._oracles.values():
            o.close()


def _session():
    from euclid_spark.session import get_session

    return get_session("euclid_spark_perfbench")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare() -> None:
    """One-time build (child process): the corpus, then the pre-built store."""
    from corpus import write_corpus
    from tracer import Tracer

    sf = workloads.SF
    if not os.path.isdir(Context.data(sf)):
        write_corpus(float(sf[2:]), Context.data(sf))
    run_dir = os.path.join(WORK, "runs", f"prepare-{os.getpid()}")
    _env(run_dir)
    try:
        spark = _session()
        try:
            ctx = Context(spark, Tracer(spark, False), 0, 0.0, run_dir)
            workloads.prebuild(ctx)
        finally:
            _stop(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def ensure_prepared() -> float:
    """Build corpora and store on first use; return the seconds spent."""
    t0 = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "READY")
    with open(os.path.join(WORK, "prepare.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = _build_id()
        if os.path.exists(stamp) and open(stamp).read() == want:
            return 0.0
        for d in (DATA, STORE):
            shutil.rmtree(d, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prepare"],
            check=True,
            stdout=sys.stderr,
        )
        with open(stamp, "w") as fh:
            fh.write(want)
    return time.perf_counter() - t0


def _quantile_tail(values: "list[float]") -> "tuple[float | None, float | None]":
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value); (None, None) when there are too few samples
    for a tail above the median."""
    n = len(values)
    if n < 20:
        return None, None
    q = 100.0 * (n - 10) / n
    s = sorted(values)
    return q, s[n - 11]


def run(args) -> dict:
    from tracer import Tracer, calibrate, cpu_jiffies, vm_hwm_mb

    build_s = ensure_prepared()
    steal0 = cpu_jiffies()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    _env(run_dir)
    trace = bool(args.trace)
    spark = None
    ctx = None
    try:
        t0 = time.perf_counter()
        spark = _session()
        t1 = time.perf_counter()
        tracer = Tracer(spark, trace)
        ctx = Context(spark, tracer, args.seed, float(args.seconds), run_dir)
        workload = workloads.WORKLOADS[args.workload]
        settled = workload(ctx, settle=True)
        workloads.all_ok(settled.ops, "settle unit")
        t2 = time.perf_counter()
        setup_s = t2 - T_START - build_s
        calib_pre = calibrate(spark) if trace else None

        tracer.reset()
        store_before = ctx.store_mb()
        tracer.install()
        gc0 = tracer.gc_ms()
        out = workload(ctx, settle=False)
        gc_s = (tracer.gc_ms() - gc0) / 1000.0
        tracer.uninstall()

        calib_post = calibrate(spark) if trace else None
        rss = {"jvm": vm_hwm_mb(ctx.jvm_pid), "python": vm_hwm_mb("self")}
        persistent = tracer.persistent_rdds()
        written_mb = ctx.store_mb() - store_before + out.written_mb
    finally:
        if ctx is not None:
            ctx.close()
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = cpu_jiffies()
    failed = [r for r in out.ops if r.error]
    lat = [r.latency_s * 1000.0 for r in out.ops]
    p50 = statistics.median(lat)
    q_tail, v_tail = _quantile_tail(lat)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "settings": {
            "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            "driver_mem": DRIVER_MEM,
            "spark_local_dirs": "run-private",
            "artifact_store": "pre-built" if args.workload != "ingest" else "run-private",
            "one_time_build_s": build_s,
        },
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "peak_rss_mb": rss,
        "latency_p50_ms": p50,
        "ops_per_s": len(out.ops) / out.wall_s,
        "wall_s": out.wall_s,
        "session_s": t1 - t0,
        "settle_s": settled.wall_s,
        "empty_share": sum(r.rows is not None and r.rows.empty for r in out.ops) / len(out.ops),
        "samples": len(lat),
        "tail": {"percentile": q_tail, "ms": v_tail},
        "ops": [
            [r.kind, getattr(r.detail, "b_max", 0) - getattr(r.detail, "b_min", 0),
             round(r.latency_s * 1000, 1), round(r.construct_s * 1000, 1),
             round(r.exec_s * 1000, 1)]
            for r in out.ops
        ],
        "errors": [f"{r.kind}: {r.error}" for r in failed][:5],
    }
    if not trace:
        values = {"setup_s": setup_s, "store_mb": out.store_mb}
        units = END_TO_END
    else:
        c = tracer.counts
        construct = [r.construct_s for r in out.ops]
        values = {k: c.get(k, 0) for k in PER_LAYER}
        values.update(
            {
                "session.start_s": t1 - t0,
                "setup.warmup_s": t2 - t1,
                "operators.construct_s": sum(construct),
                "operators.construct_p50_s": statistics.median(construct),
                "spark.plan_s": sum(r.plan_s for r in out.ops),
                "spark.exec_s": sum(r.exec_s for r in out.ops),
                "artifacts.bytes_written": written_mb * 1e6,
                "cache.persistent_rdds_after_release": persistent,
                "jvm.gc_s": gc_s,
                "host.calib_spark_ms": (calib_pre["spark_ms"] + calib_post["spark_ms"]) / 2,
                "host.calib_py_ms": (calib_pre["py_ms"] + calib_post["py_ms"]) / 2,
                "trace.latency_p50_ms": p50,
                "trace.overhead_s": tracer.overhead_s,
            }
        )
        units = PER_LAYER
        detail["calib"] = {"pre": calib_pre, "post": calib_post}
        # layer times one workload structurally never spends (see README)
        detail["layer_times"] = {
            k: c.get(k, 0.0) for k in ("catalog.collect_all_s", "streaming.batch_s")
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, detail)
        detail["spans"] = os.path.relpath(path, ROOT)
    print(json.dumps({"detail": detail}))
    return {
        "correct": not failed,
        "attempted": len(out.ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "euclid_spark", "__init__.py")):
        print(f"perfbench: no euclid_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.prepare:
        prepare()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
