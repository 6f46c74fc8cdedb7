"""Measurement probes for the benchmark: /proc readers, a process-tree
memory sampler, JVM counters, Spark job counts and an in-memory span
tracer.

Nothing here edits the engine.  ``patched`` swaps a few public
callables of the engine for wrappers that record spans, and puts the
originals back on exit; it is used only by traced runs.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")


# ---- /proc ----------------------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        parts = tail.split()
        # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14)
        out[int(name)] = (int(parts[1]),
                          sum(int(parts[i]) for i in (11, 12, 13, 14)),
                          head.split("(", 1)[1])
    return out


def _tree(table: dict, root: int) -> list:
    children: dict = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in seen:
            seen.append(pid)
            stack.extend(children.get(pid, ()))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds used by this process and its descendants (the Spark
    JVM and its Python workers)."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())) / HZ


def _pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_pss_mb() -> dict:
    """Proportional set size of the process tree in MB, by command name.
    PSS splits pages shared between processes (forked Python workers, a
    JVM mid-fork) among their sharers, so the sum counts them once."""
    table = _proc_table()
    out: dict = {}
    for p in _tree(table, os.getpid()):
        try:
            mb = _pss_mb(p)
        except OSError:             # exited since the table was read
            continue
        out[table[p][2]] = out.get(table[p][2], 0.0) + mb
    return out


def host_cpu() -> tuple:
    """(busy core-seconds, steal core-seconds) of the whole host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return (sum(v[:8]) - v[3] - v[4] - v[7]) / HZ, v[7] / HZ


class Interference:
    """CPU this process tree used, cores other tenants kept busy, and
    hypervisor steal, over a window.  The last two are recorded to
    explain outliers; never used to drop or re-run a sample."""

    def __init__(self):
        self.wall0 = time.perf_counter()
        self.busy0, self.steal0 = host_cpu()
        self.own0 = tree_cpu_s()

    def read(self) -> dict:
        wall = max(time.perf_counter() - self.wall0, 1e-9)
        busy, steal = host_cpu()
        own = tree_cpu_s() - self.own0
        return {"own_cpu_s": own,
                "ext_busy_cores": max(0.0, (busy - self.busy0 - own) / wall),
                "steal_cores": (steal - self.steal0) / wall}


class MemSampler:
    """Peak summed PSS of the process tree, sampled on a thread, with the
    per-command split at the peak."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        parts = tree_pss_mb()
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---- JVM / Spark ------------------------------------------------------------

def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime())
               for i in range(beans.size()))


def spark_io(spark) -> dict:
    """Cumulative task-level IO and run time from the status store (local
    mode has a single executor, the driver)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    tot = {"input_bytes": 0, "shuffle_write_bytes": 0, "executor_run_s": 0.0}
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["input_bytes"] += e.totalInputBytes()
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        tot["executor_run_s"] += e.totalDuration() / 1000.0
    stages = store.stageList(None, False, False,
                             spark.sparkContext._gateway.new_array(
                                 jvm.double, 0),
                             jvm.java.util.ArrayList())
    tot["spill_bytes"] = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def job_counts(spark, group: str) -> tuple:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


# ---- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans: (id, parent id, name, start, end)."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self.counters: dict = {}

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, parent, name, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec[4] = time.perf_counter()

    def count(self, name: str, n: float = 1):
        self.counters[name] = self.counters.get(name, 0) + n

    def total_s(self, name: str, since: int = 0) -> float:
        """Summed duration of the ``name`` spans from span ``since`` on."""
        return sum(e - s for _, _, n, s, e in self.spans[since:] if n == name)

    def n(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp[2] == name)

    def self_times(self) -> dict:
        """name -> summed self time (duration minus child spans)."""
        child = [0.0] * len(self.spans)
        for _, parent, _, s, e in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict = {}
        for sid, _, name, s, e in self.spans:
            out[name] = out.get(name, 0.0) + (e - s) - child[sid]
        return out

    def dump(self) -> dict:
        return {"spans": [{"id": i, "parent": p, "name": n,
                           "start": s, "end": e}
                          for i, p, n, s, e in self.spans],
                "self_s": self.self_times(),
                "counters": self.counters}


def _wrap(tracer: Tracer, name: str, fn, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if before is not None:
            before(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Record spans around catalog commits, data staging, idf lookups and
    streaming micro-batches for the duration of the block."""
    from ir_index_construction_spark.operators import topk
    from ir_index_construction_spark.plans import query
    from ir_index_construction_spark.sources import catalog
    from ir_index_construction_spark.streaming import incremental

    def idf_requested(spark, dictionary, terms, n_docs, cache=None):
        wanted = set(terms)
        tracer.count("idf.terms", len(wanted))
        if cache is not None:
            tracer.count("idf.cached", sum(1 for t in wanted if t in cache))

    idf = _wrap(tracer, "query.idf_lookup", query.query_term_idf,
                idf_requested)
    swaps = [
        (catalog.Transaction, "commit",
         _wrap(tracer, "catalog.commit", catalog.Transaction.commit)),
        (catalog.Transaction, "write",
         _wrap(tracer, "catalog.stage", catalog.Transaction.write)),
        (catalog.Transaction, "append",
         _wrap(tracer, "catalog.stage", catalog.Transaction.append)),
        (query, "query_term_idf", idf),
        (topk, "query_term_idf", idf),
        (incremental, "process_stream_batch",
         _wrap(tracer, "incremental.batch",
               incremental.process_stream_batch)),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in swaps]
    try:
        for obj, attr, new in swaps:
            setattr(obj, attr, new)
        yield tracer
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)
