"""Layer spans and counters, recorded from outside the program.

The benchmark never edits `euclid_spark`: each layer is observed at its
public boundary. When tracing is on, the tracer

- wraps the layer functions the operators call through their module
  (`artifacts.serve_frame`, `artifacts.save_frame`, `catalog.collect_all`;
  call sites look these up at call time, so replacing the module
  attribute intercepts every call);
- reads Spark's own status store around each operation: the jobs and
  stages whose ids appeared during the operation, whichever thread or
  job group ran them (`collect_all` runs its fetches on a pool that does
  not inherit the caller's job group, so a job-group count misses them);
- reads pinned bytes from the JVM's storage info rather than wrapping
  `cache.persist_tracked`, which many modules import by name;
- registers a `StreamingQueryListener` for the streaming layer, and
  reads the GC MXBeans for JVM pause time.

When tracing is off every hook is a no-op, so the end-to-end figures
come from an uninstrumented program.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from typing import Iterator

from pyspark.sql import SparkSession


def vm_hwm_mb(pid: "int | str") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> "tuple[int, int]":
    """(steal, total) CPU time of the host since boot, in jiffies: the
    time the hypervisor gave this VM's CPUs to other guests, and all of
    it (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed by a concurrent temp-dir cleanup
                pass
    return total


def calibrate(spark: SparkSession) -> "dict[str, float]":
    """The fixed-work host probes of the repo's `bench.py`: a single-core
    chained-md5 loop and a 50 M-row JVM range sum (untimed warmup, then
    the faster of two)."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    py_ms = (time.perf_counter() - t0) * 1000
    spark.range(5_000_000).selectExpr("sum(id)").collect()
    reps = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id)").collect()
        reps.append((time.perf_counter() - t0) * 1000)
    return {"py_ms": py_ms, "spark_ms": min(reps)}


class _StatusStore:
    """New jobs and stages in Spark's status store since a mark.

    Iterates the store's job/stage views newest-first and stops at the
    mark, so a read costs O(new entries), and the store's retention
    limit (spark.ui.retainedJobs/Stages) only matters if one operation
    runs more jobs than it retains."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._kv = self._jsc.statusStore().store()
        self._job_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.status.JobDataWrapper"
        )
        self._stage_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper"
        )

    def _drain(self) -> None:
        # status updates arrive on the listener bus asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def _newest(self, cls, key) -> "Iterator":
        it = self._kv.view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                yield key(it.next().info())
        finally:
            it.close()

    def mark(self) -> "tuple[int, int]":
        self._drain()
        job = next(self._newest(self._job_cls, lambda j: j.jobId()), -1)
        stage = next(self._newest(self._stage_cls, lambda s: s.stageId()), -1)
        return job, stage

    def since(self, mark: "tuple[int, int]") -> "dict[str, int]":
        self._drain()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0,
        )
        for jid in self._newest(self._job_cls, lambda j: j.jobId()):
            if jid <= mark[0]:
                break
            out["jobs"] += 1
        for s in self._newest(self._stage_cls, lambda s: s):
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


class Tracer:
    """Spans at layer boundaries plus per-layer counters.

    A span is (id, parent id, operation id, name, start, end); spans
    of one operation share the operation id. Spans stay in memory and
    are written out once, by `dump`."""

    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: "list[tuple]" = []
        self.counts: "dict[str, float]" = {}
        self.op_counts: "list[dict]" = []
        self._ids = itertools.count(1)
        self._op_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: "list[tuple[object, str, object]]" = []
        self._listener = None
        self._status = _StatusStore(spark) if enabled else None
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------
    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    @contextmanager
    def _span(self, name: str) -> Iterator[None]:
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, self._op_id, name, t0, t1))

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def op(self, kind: str) -> Iterator[None]:
        """One benchmark operation: a span, plus the status-store delta
        of everything Spark ran while it was open."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        mark = self._status.mark()
        self.overhead_s += time.perf_counter() - t0
        self._op_id += 1
        try:
            with self._span(f"op:{kind}"):
                yield
        finally:
            t0 = time.perf_counter()
            delta = self._status.since(mark)
            for k, v in delta.items():
                self.add(f"spark.{k}", v)
            self.op_counts.append({"op": self._op_id, "kind": kind, **delta})
            self.overhead_s += time.perf_counter() - t0

    def pinned_bytes(self) -> int:
        """Bytes held by persisted RDDs right now (JVM storage info)."""
        if not self.enabled:
            return 0
        t0 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        n = sum(i.memSize() + i.diskSize() for i in infos)
        self.overhead_s += time.perf_counter() - t0
        return n

    def persistent_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().getPersistentRDDs().size())

    def gc_ms(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return float(
            sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())
        )

    # -- layer wrappers ------------------------------------------------
    def _wrap(self, module, attr: str, span: str, count: str) -> None:
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            self.add(count, 1)
            t0 = time.perf_counter()
            with self._span(span):
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.add(f"{span}_s", time.perf_counter() - t0)

        wrapped.__wrapped__ = orig
        setattr(module, attr, wrapped)
        self._restore.append((module, attr, orig))

    def install(self) -> None:
        if not self.enabled:
            return
        from euclid_spark import artifacts, catalog

        self._wrap(artifacts, "serve_frame", "artifacts.serve", "artifacts.serve_calls")
        self._wrap(artifacts, "save_frame", "artifacts.build", "artifacts.builds")
        self._wrap(catalog, "collect_all", "catalog.collect_all", "catalog.collect_all_calls")
        self._listener = _progress_listener(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def reset(self) -> None:
        """Forget everything recorded so far (setup and settle-unit spans)."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.op_counts.clear()
        self.overhead_s = 0.0

    def dump(self, path: str, meta: dict) -> None:
        import json

        t_base = min((s[4] for s in self.spans), default=0.0)
        rows = [
            {"id": s[0], "parent": s[1], "op": s[2], "name": s[3],
             "start_s": s[4] - t_base, "end_s": s[5] - t_base}
            for s in sorted(self.spans, key=lambda s: s[4])
        ]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"meta": meta, "counts": self.counts, "ops": self.op_counts,
                 "spans": rows},
                fh,
            )
        os.replace(tmp, path)


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            tracer.add("streaming.queries", 1)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            tracer.add("streaming.batches", 1)
            tracer.add("streaming.input_rows", p.numInputRows)
            tracer.add("streaming.batch_s", p.batchDuration / 1000.0)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()
