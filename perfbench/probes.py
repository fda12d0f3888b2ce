"""Outside-in probes: Spark's own counters and a span tracer.

Nothing here changes engine code. ``SparkProbe`` reads the driver's
status stores through py4j (the UI stays disabled); ``Tracer`` wraps
the engine's public functions in place, at every module attribute that
holds them, and records one span per call while it is active.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import re
import sys
import threading
import time

ENGINE = "cr_data_pipeline_project_spark"

# Engine modules whose public functions are wrapped, and the layer
# name their spans carry.
LAYER_OF_MODULE = {
    f"{ENGINE}.curation": "curation",
    f"{ENGINE}.pipeline": "pipeline",
    f"{ENGINE}.analytics": "analytics",
    f"{ENGINE}.catalog": "catalog",
    f"{ENGINE}.operators.dedup": "dedup",
    f"{ENGINE}.operators.graph": "graph",
    f"{ENGINE}.operators.clustering": "clustering",
    f"{ENGINE}.operators.similarity": "similarity",
    f"{ENGINE}.operators.mutations": "mutations",
    f"{ENGINE}.operators.quality": "quality",
    f"{ENGINE}.operators.textstats": "textstats",
    f"{ENGINE}.operators.sampling": "sampling",
    f"{ENGINE}.sources.battlelog": "sources",
    f"{ENGINE}.streaming.incremental": "stream",
}
# Spans that also count the Spark jobs launched during the call.
COUNTED = {
    "curation.curate_corpus",
    "dedup.minhash_lsh_pairs",
    "dedup.ngram_contamination",
    "graph.connected_components",
    "graph.triangle_count",
    "clustering.kmeans_fit",
    "similarity.semantic_neardup",
    "similarity.nearest_centroids_two_level",
}

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
)
ARROW_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to start Python workers": "arrow.worker_start_s",
    "time to initialize Python workers": "arrow.worker_init_s",
    "time to run Python workers": "arrow.worker_run_s",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL-store metric: either a bare value
    (``807.9 KiB``, ``23 ms``) or ``total (min, med, max ...)\\n<total>
    (...)``. Sizes come back in bytes, times in seconds."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * (_SIZE.get(unit) or _TIME[unit])


class SparkProbe:
    """Job, stage and SQL-node counters for a span of work, read from
    the driver's status stores after the listener bus drains."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.tracker = spark.sparkContext.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = -1

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark_sql(self) -> None:
        """Remember the newest SQL execution, so ``arrow`` reads only
        executions that start after this call."""
        self.drain()
        self._sql_seen = self._max_execution_id()

    def _max_execution_id(self) -> int:
        lst = self.sql_store.executionsList()
        n = lst.size()
        return max((lst.apply(i).executionId() for i in range(n)), default=-1)

    def jobs(self, first: int, last: int, t0: float, t1: float) -> dict[str, float]:
        """Totals over jobs [first, last) that ran inside the wall
        interval [t0, t1] (epoch seconds)."""
        self.drain()
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks", "spark.spill_bytes"), 0.0
        )
        for name, _, _ in STAGE_FIELDS:
            out[f"spark.{name}"] = 0.0
        intervals = []
        for jid in range(first, last):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["spark.jobs"] += 1
            job = store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(int(sid))
                except Exception:  # skipped stages have no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                for name, getter, scale in STAGE_FIELDS:
                    out[f"spark.{name}"] += getattr(st, getter)() * scale
        out["spark.driver_gap_s"] = max(0.0, (t1 - t0) - _covered(intervals, t0, t1))
        return out

    def arrow(self) -> dict[str, float]:
        """Python-worker node metrics summed over SQL executions that
        started since ``mark_sql``."""
        self.drain()
        out = dict.fromkeys(ARROW_METRICS.values(), 0.0)
        lst = self.sql_store.executionsList()
        newest = self._sql_seen
        for i in range(lst.size()):
            eid = lst.apply(i).executionId()
            if eid <= self._sql_seen:
                continue
            newest = max(newest, eid)
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = ARROW_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        self._sql_seen = newest
        return out

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def tree_files(path: str) -> dict[str, int]:
    """path -> size of every regular file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id, jobs).

    ``install`` replaces each public engine function with a wrapper at
    every module attribute that holds it (plan modules import operators
    by name) and wraps the ``Lake`` read and write methods. Wrappers
    record only while ``active`` is set."""

    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.active = False
        self.spans: list[list] = []
        self.op_id = -1
        self.op_span = -1
        # (table, method, bytes, files) per Lake write while active
        self.lake_writes: list[tuple[str, str, int, int]] = []
        self._local = threading.local()

    # -- span bookkeeping ----------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, count_jobs: bool = False) -> int:
        st = self._stack()
        parent = st[-1] if st else self.op_span
        jobs = self.probe.next_job_id() if count_jobs else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id, jobs])
        st.append(len(self.spans) - 1)
        return st[-1]

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter()
        if span[5] is not None:
            span[5] = self.probe.next_job_id() - span[5]
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        """A span around a block of benchmark code, while active."""
        if not self.active:
            yield
            return
        idx = self.open(name, count_jobs)
        try:
            yield
        finally:
            self.close(idx)

    def begin_op(self, op_id: int, name: str) -> None:
        self.op_id = op_id
        self.op_span = -1
        if self.active:
            self.op_span = self.open(f"op.{name}")

    def end_op(self) -> None:
        if self.active and self.op_span >= 0:
            self.close(self.op_span)
        self.op_span = -1

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        counted = name in COUNTED

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer.open(name, counted)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return wrapper

    def install(self) -> int:
        """Wrap every public function of the layer modules wherever it
        is bound; returns how many functions were wrapped."""
        wrapped: dict[int, object] = {}
        for modname, layer in LAYER_OF_MODULE.items():
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not attr.startswith("_")
                ):
                    wrapped[id(fn)] = (fn, self._wrap(fn, f"{layer}.{attr}"))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(ENGINE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        self._wrap_lake()
        return len(wrapped)

    def _wrap_lake(self) -> None:
        from cr_data_pipeline_project_spark.pipeline import Lake

        tracer = self
        read, append, overwrite = Lake.read, Lake.append, Lake.overwrite

        def traced_read(lake, name, *a, **k):
            if not tracer.active:
                return read(lake, name, *a, **k)
            idx = tracer.open("lake.read")
            try:
                return read(lake, name, *a, **k)
            finally:
                tracer.close(idx)

        def writer(method):
            def traced_write(lake, name, df, *a, **k):
                if not tracer.active:
                    return method(lake, name, df, *a, **k)
                before = tree_files(lake.path(name))
                idx = tracer.open(f"lake.write.{name}")
                try:
                    return method(lake, name, df, *a, **k)
                finally:
                    tracer.close(idx)
                    after = tree_files(lake.path(name))
                    new = {p: s for p, s in after.items() if before.get(p) != s}
                    tracer.lake_writes.append(
                        (name, method.__name__, sum(new.values()), len(new))
                    )

            return traced_write

        Lake.read = functools.wraps(read)(traced_read)
        Lake.append = functools.wraps(append)(writer(append))
        Lake.overwrite = functools.wraps(overwrite)(writer(overwrite))


def self_times(spans: list[list]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part its
    child spans cover, summed by layer (the name's first component)."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s[2] is not None and s[3] >= 0:
            child_time[s[3]] += s[2] - s[1]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s[2] is None:
            continue
        layer = s[0].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, (s[2] - s[1]) - child_time[i])
    return out
