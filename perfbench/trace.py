"""Measurement from outside the package: spans, Spark's own SQL metrics,
stream progress events, memory and host-noise context.

Nothing here changes what the engine does.  Spans time calls into the
package's public functions; SQL metrics are read back from the status
store (``spark._jsparkSession.sharedState().statusStore()``), which is
populated with ``spark.ui.enabled=false``; stream phases come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import re
import statistics
import threading
import time

from py4j.protocol import Py4JError

# -- host noise (same method as the repo's bench.py, own copy) -------------


def _clock_ticks_per_sec() -> float:
    try:
        ticks = os.sysconf("SC_CLK_TCK")
        return float(ticks) if ticks > 0 else 100.0
    except (AttributeError, OSError, ValueError):
        return 100.0


def cpu_steal_sec() -> float | None:
    """Cumulative host-steal seconds over all CPUs from /proc/stat
    (field 8 of the ``cpu`` line); None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / _clock_ticks_per_sec()
    except (OSError, IndexError, ValueError):
        return None


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_sec(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used by
    process ``root`` (default: this one) and all its live descendants:
    the driver JVM, its Python workers, and this Python process."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _stat_fields(pid)
        except OSError:         # the process exited meanwhile
            continue
        # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime)
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _clock_ticks_per_sec()


#: thread names (``comm``, cut to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_sec(jvm_pid: int) -> float:
    """CPU seconds used by the JIT compiler threads of JVM ``jvm_pid``.
    The JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``, so
    these threads live as long as the JVM and their time is never lost
    with an exited thread."""
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(JIT_THREADS):
            f = stat.rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
    return total / _clock_ticks_per_sec()


class HostNoise:
    """Steal seconds integrated between ``start()`` and ``stop()``, plus
    the load average at stop.  Context for the numbers, not a metric."""

    def start(self):
        self._steal0 = cpu_steal_sec()
        return self

    def stop(self) -> dict:
        steal = cpu_steal_sec()
        out = {"steal_sec": None if steal is None or self._steal0 is None
               else round(steal - self._steal0, 3)}
        try:
            out["load_avg"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            out["load_avg"] = None
        return out


# -- host speed ------------------------------------------------------------


class SpeedProbe:
    """A fixed CPU job, run on this thread between timed passes, whose CPU
    time gauges how fast the host runs at that moment.

    On a shared host the same pass costs up to ~50% more CPU seconds
    when other tenants load the machine (shared cores, caches, memory
    bandwidth), and that state drifts over minutes, with no steal to
    show it.  The job mixes what those costs depend on: hashing (pure
    compute), a sort of 8 MB of floats (memory), and interpreted loops
    over ints and a dict (branches, allocation).  It touches nothing of
    the program under test.
    """

    def __init__(self):
        import numpy as np

        rng = np.random.default_rng(0)
        self._floats = rng.random(1_000_000)
        self._bytes = rng.bytes(16 << 20)
        self._sort = np.sort
        self.samples: list[float] = []

    def __call__(self) -> None:
        t0 = time.thread_time()
        hashlib.sha256(self._bytes).digest()
        self._sort(self._floats)
        table, acc = {}, 0
        for i in range(200_000):
            table[i * 2654435761 % 1_000_003] = i
        for i in range(300_000):
            acc += i * i % 7
        self.samples.append(time.thread_time() - t0)


# -- resident memory -------------------------------------------------------

def _rss_kib(pid: int | str, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the resident set of the driver JVM plus this Python process
    every ``interval`` seconds while active; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak_kib = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self):
        self.peak_kib = max(self.peak_kib,
                            _rss_kib(self.jvm_pid) + _rss_kib("self"))

    def _loop(self):
        while not self._stop.wait(self.interval):
            if self._on.is_set():
                self._sample()

    @contextlib.contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


# -- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes),
    written out as JSON at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None   # parent for spans of other threads
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
                   "parent": stack[-1] if stack else self.root,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            stack.pop()

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]],
            after=None):
    """Wrap ``module.attr`` for each ``(module, attr, span_name)`` so every
    call runs inside a span; the originals are restored on exit.  A
    span name may use ``{sink}`` for the sink argument's name.
    ``after(rec)``, if given, runs after each call with its span."""
    saved = []
    for module, attr, span_name in targets:
        orig = getattr(module, attr)
        saved.append((module, attr, orig))

        def wrapper(*args, __orig=orig, __name=span_name, **kwargs):
            sink = next((a for a in args if hasattr(a, "saveMode")), None)
            name = __name.format(sink=getattr(sink, "name", ""))
            with tracer.span(name) as rec:
                out = __orig(*args, **kwargs)
            if after is not None:
                after(rec)
            return out

        setattr(module, attr, functools.wraps(orig)(wrapper))
    try:
        yield
    finally:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)


# -- Spark status store ----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A status-store metric string (``'100,000'``, ``'5.8 KiB'``,
    ``'total (min, med, max ...)\\n28 ms (...)'``) as a number; sizes in
    bytes, times in seconds."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusStore:
    """SQL executions and jobs as recorded by Spark's own listeners."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = spark._jsc.sc().statusStore()

    def next_execution(self) -> int:
        # the list is ordered by execution id, ascending
        execs = self.sql.executionsList()
        return execs.last().executionId() + 1 if execs.size() else 0

    def next_job(self) -> int:
        # the list is ordered by job id, descending
        jobs = self.core.jobsList(None)
        return jobs.head().jobId() + 1 if jobs.size() else 0

    def nodes(self, lo: int, hi: int) -> list[dict]:
        """Plan nodes (name, desc, metrics) of executions ``lo <= id < hi``."""
        out = []
        for eid in range(lo, hi):
            try:
                values = self.sql.executionMetrics(eid)
                graph = self.sql.planGraph(eid)
            except Py4JError:  # evicted from the store, or still running
                continue
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(
                        v.get() if v.isDefined() else None)
                out.append({"execution": eid, "name": node.name(),
                            "desc": node.desc(), "metrics": metrics})
        return out


def cached_bytes(spark) -> int:
    """Bytes held by cached RDDs/relations (memory plus disk)."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@contextlib.contextmanager
def spark_window(store: StatusStore, rec: dict):
    """Record the execution and job id range a block spans into ``rec``."""
    e0, j0 = store.next_execution(), store.next_job()
    try:
        yield rec
    finally:
        rec["executions"] = [e0, store.next_execution()]
        rec["jobs"] = store.next_job() - j0


def plan_totals(nodes: list[dict], input_format: str = "") -> dict:
    """Sum the layer-level quantities over a list of plan nodes; input
    scans are the ``Scan <input_format>`` nodes."""
    def total(metric, pred=lambda n: True):
        return sum(n["metrics"].get(metric, 0.0) for n in nodes if pred(n))

    def is_input_scan(n):
        # a cached relation's graph repeats its (unexecuted) source scan;
        # only scans that read files count
        return (n["name"].strip().lower() == f"scan {input_format}".lower()
                and n["metrics"].get("number of files read", 0) > 0)

    return {
        "exchanges": sum(1 for n in nodes if n["name"] == "Exchange"),
        "shuffle_bytes": total("shuffle bytes written"),
        "shuffle_rows": total("shuffle records written"),
        "spill_bytes": total("spill size"),
        "broadcast_bytes": total("data size",
                                 lambda n: n["name"] == "BroadcastExchange"),
        "scan_count": sum(1 for n in nodes if is_input_scan(n)),
        "bytes_read": total("size of files read", is_input_scan),
        "bytes_written": total("written output"),
        "files_written": total("number of written files"),
        "peak_operator_rows": max((n["metrics"].get("number of output rows", 0)
                                   for n in nodes), default=0),
    }


# -- stream progress -------------------------------------------------------

def progress_listener():
    """A StreamingQueryListener that keeps every progress event (as a
    dict) and counts started queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started = 0
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.progress.append({
                    "id": str(p.id), "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self):
            with self._lock:
                started, prog = self.started, self.progress
                self.started, self.progress = 0, []
            return started, prog

    return Listener()


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100)."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, min(len(ordered), int(-(-pct * len(ordered) // 100))))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it; 0 when even the median does not."""
    for pct in range(99, 49, -1):
        if n - -(-pct * n // 100) >= beyond:
            return float(pct)
    return 0.0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
