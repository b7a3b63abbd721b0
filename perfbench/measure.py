"""Layer measurements taken from outside the package.

Nothing here edits package code.  Layers are observed at their public
boundaries:

* process CPU and peak memory from ``/proc`` (the Python driver, the
  driver JVM it launched, and the Python workers under the JVM);
* Spark execution (jobs, stages, tasks, bytes) from the driver's own
  status store through its local REST endpoint, read as per-op deltas;
* streaming progress from a ``StreamingQueryListener``;
* operators, sources and pipelines by replacing a module attribute with
  a timing wrapper for the duration of a traced iteration, at the names
  the callers look up.

Spans are kept in memory and written out by the caller at exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict
from collections.abc import Iterator
from datetime import datetime, timezone

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including reaped children's, so a
    worker that exits mid-interval stays counted through its parent."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK


def jit_seconds(pids: list[int]) -> float:
    """CPU of the JVM's JIT compiler threads among ``pids``.  They run
    while code is still warming and then go quiet; the JVM is started
    with a fixed set of them so none exits and takes its count along."""
    ticks = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            head, tail = stat.rsplit(")", 1)
            if "CompilerThre" in head:
                fields = tail.split()
                ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# -------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: name, start, end, parent span and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.iteration: int | None = None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "iter": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


# ------------------------------------------------------ execution layer

def _epoch(stamp: str) -> float:
    return (datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z")
            .replace(tzinfo=timezone.utc).timestamp())


class ExecStore:
    """Per-op deltas from the driver's status store (``/api/v1``).

    The store keeps only the newest 1000 jobs and stages, so deltas are
    read after every op rather than once per run."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")
        self._seen_job = self._seen_stage = -1
        self.mark()

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(self._base + what, timeout=60) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until every posted listener event has been handled, so
        the store (and any streaming listener) is current."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self.settle()
        jobs, stages = self._get("/jobs"), self._get("/stages")
        self._seen_job = max((j["jobId"] for j in jobs), default=-1)
        self._seen_stage = max((s["stageId"] for s in stages), default=-1)

    def delta(self, t0: float, t1: float) -> dict[str, float]:
        """Totals over the jobs and stages that started since the last
        call; ``t0``/``t1`` are the op's epoch bounds for idle time."""
        self.settle()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._seen_job]
        stages = [s for s in self._get("/stages")
                  if s["stageId"] > self._seen_stage]
        self._seen_job = max([j["jobId"] for j in jobs] + [self._seen_job])
        self._seen_stage = max([s["stageId"] for s in stages]
                               + [self._seen_stage])
        ran = [s for s in stages if s.get("status") != "SKIPPED"]
        spans = sorted(
            (max(t0, _epoch(j["submissionTime"])),
             min(t1, _epoch(j["completionTime"])))
            for j in jobs if j.get("submissionTime") and
            j.get("completionTime"))
        covered, edge = 0.0, t0
        for lo, hi in spans:
            lo = max(lo, edge)
            if hi > lo:
                covered += hi - lo
                edge = hi
        mb = 1024.0 * 1024.0

        def tot(key: str) -> float:
            return float(sum(s.get(key, 0) for s in ran))

        run_s = tot("executorRunTime") / 1000.0
        cpu_s = tot("executorCpuTime") / 1e9
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len(ran),
            "exec.tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "exec.shuffle_write_mb": tot("shuffleWriteBytes") / mb,
            "exec.shuffle_read_mb": tot("shuffleReadBytes") / mb,
            "exec.input_mb": tot("inputBytes") / mb,
            "exec.spill_mb": (tot("memoryBytesSpilled")
                              + tot("diskBytesSpilled")) / mb,
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": cpu_s,
            "exec.gc_s": tot("jvmGcTime") / 1000.0,
            "exec.idle_s": max(0.0, (t1 - t0) - covered),
        }


# ----------------------------------------------------- streaming layer

def progress_listener():
    """A ``StreamingQueryListener`` that counts starts and keeps every
    progress event; register it with ``spark.streams.addListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.starts = 0
            self.progress: list = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.starts += 1

        def onQueryProgress(self, event) -> None:
            with self.lock:
                self.progress.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> tuple[int, list]:
            with self.lock:
                out = (self.starts, self.progress)
                self.starts, self.progress = 0, []
            return out

    return Listener()


def stream_totals(starts: int, progress: list) -> dict[str, float]:
    """Sum one op's streaming progress events into layer metrics."""
    def ms(p, key: str) -> float:
        return float((p.durationMs or {}).get(key, 0))

    data = sum(1 for p in progress if p.numInputRows > 0)
    state_rows = state_mem = 0.0
    for p in progress:
        ops = p.stateOperators or []
        state_rows = max(state_rows, float(sum(o.numRowsTotal for o in ops)))
        state_mem = max(state_mem, float(sum(o.memoryUsedBytes for o in ops)))
    return {
        "streaming.starts": starts,
        "streaming.batches": len(progress),
        "streaming.no_data_batches": len(progress) - data,
        "streaming.trigger_s": sum(ms(p, "triggerExecution")
                                   for p in progress) / 1000.0,
        "streaming.add_batch_s": sum(ms(p, "addBatch")
                                     for p in progress) / 1000.0,
        "streaming.planning_s": sum(ms(p, "queryPlanning")
                                    for p in progress) / 1000.0,
        "streaming.offsets_s": sum(ms(p, "latestOffset") + ms(p, "getBatch")
                                   for p in progress) / 1000.0,
        "streaming.commit_s": sum(ms(p, "commitOffsets") + ms(p, "walCommit")
                                  for p in progress) / 1000.0,
        "streaming.input_rows": float(sum(p.numInputRows for p in progress)),
        "streaming.state_rows": state_rows,
        "streaming.state_mem_mb": state_mem / (1024.0 * 1024.0),
    }


# ------------------------------------------------ wrapped module names

class Counters:
    """Layer counts gathered by the wrappers during one op."""

    def __init__(self) -> None:
        self.values: dict[str, float] = defaultdict(float)

    def add(self, key: str, amount: float = 1.0) -> None:
        self.values[key] += amount

    def take(self) -> dict[str, float]:
        out, self.values = dict(self.values), defaultdict(float)
        return out


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                full = os.path.join(dirpath, name)
                st = os.stat(full)
                out[full] = (st.st_size, st.st_mtime_ns)
    return out


def _timed(tracer: Tracer, counters: Counters, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            try:
                return fn(*args, **kwargs)
            finally:
                counters.add(f"{name}_s", time.perf_counter() - rec["start"])
    return wrapper


def _fixpoint(tracer: Tracer, counters: Counters, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span("operators.fixpoint") as rec:
            try:
                res = fn(*args, **kwargs)
            finally:
                counters.add("operators.fixpoint_s",
                             time.perf_counter() - rec["start"])
        counters.add("operators.fixpoint_calls")
        counters.add("operators.fixpoint_rounds", res.rounds)
        return res
    return wrapper


def _writer(tracer: Tracer, counters: Counters, fn):
    @functools.wraps(fn)
    def wrapper(df, path, *args, **kwargs):
        import pyarrow.parquet as pq

        before = _parquet_files(path) if os.path.isdir(path) else {}
        with tracer.span("sources.write") as rec:
            try:
                return fn(df, path, *args, **kwargs)
            finally:
                counters.add("sources.write_s",
                             time.perf_counter() - rec["start"])
                counters.add("sources.write_calls")
                after = _parquet_files(path) if os.path.isdir(path) else {}
                for f, meta in after.items():
                    if before.get(f) == meta:
                        continue
                    counters.add("sources.files_written")
                    counters.add("sources.bytes_written", meta[0])
                    if f.endswith(".parquet"):
                        counters.add("sources.rows_written",
                                     pq.read_metadata(f).num_rows)
    return wrapper


def _commit(tracer: Tracer, counters: Counters, fn, conflict: type):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span("sources.manifest_commit"):
            try:
                out = fn(*args, **kwargs)
            except conflict:
                counters.add("sources.commit_conflicts")
                raise
        counters.add("sources.manifest_commits")
        return out
    return wrapper


@contextlib.contextmanager
def wrapped_layers(tracer: Tracer, counters: Counters) -> Iterator[None]:
    """Replace the layer entry points with timing wrappers, restoring
    the originals on exit.  Each name is patched where its callers look
    it up: ``graph`` binds ``iterate_to_fixpoint`` at import, the other
    operators import it from ``iterative`` at call time, and the
    pipelines bind the reader and writer functions at import."""
    from etl_cloud_batch_processing_spark.operators import graph, iterative
    from etl_cloud_batch_processing_spark.pipelines import case_a, case_b
    from etl_cloud_batch_processing_spark.sources import manifest

    patches = []
    fix = _fixpoint(tracer, counters, iterative.iterate_to_fixpoint)
    patches += [(iterative, "iterate_to_fixpoint", fix),
                (graph, "iterate_to_fixpoint", fix)]
    for name in ("connected_components", "connected_components_star"):
        patches.append((graph, name, _timed(
            tracer, counters, "operators.cc", getattr(graph, name))))
    for mod in (case_a, case_b):
        for name in ("read_parquet", "read_csv"):
            if hasattr(mod, name):
                patches.append((mod, name, _timed(
                    tracer, counters, "sources.read", getattr(mod, name))))
        for name in ("write_overwrite", "write_append_partition"):
            if hasattr(mod, name):
                patches.append((mod, name, _writer(
                    tracer, counters, getattr(mod, name))))
    patches.append((manifest, "commit_manifest", _commit(
        tracer, counters, manifest.commit_manifest,
        manifest.ConcurrentModificationError)))
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, new in patches:
            setattr(mod, name, new)
        yield
    finally:
        for mod, name, old in saved:
            setattr(mod, name, old)
