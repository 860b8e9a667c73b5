"""Outside-in instruments: spans, a /proc process sampler, and readers of
Spark's own in-process metrics (plan SQL metrics, the status store, and
streaming progress through a benchmark-owned listener).

Nothing here edits or wraps engine code; every reading is taken around
calls into the engine's public functions or from Spark's own stores.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSONL
    when the run ends. Disabled tracers record nothing, so the timed
    (end-to-end) runs carry no tracing cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "run": self.run_id,
                           "start": time.perf_counter() - self.t0,
                           "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def unattributed_frac(self, wall_s: float) -> float:
        """Share of the run's wall time that no span covers."""
        if wall_s <= 0:
            return 0.0
        covered = _union([(s["start"], s["end"]) for s in self.spans])
        return max(0.0, 1.0 - covered / wall_s)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps({"self_times": selfs, "run": self.run_id}) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Process sampler (/proc)
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return (int(f[1]), (int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK)


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared by the forked Python
    workers count once across the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _tree(root: int) -> dict[int, tuple[int, float, float]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in keep:
            keep[pid] = stats[pid]
            frontier.extend(p for p, s in stats.items() if s[0] == pid)
    return keep


class ProcSampler:
    """Samples CPU (utime+stime+cutime+cstime) and memory of the driver
    JVM and its Python daemon/worker descendants, plus this process's own
    CPU. ``cpu()`` returns (jvm_s, python_s) totals so callers take deltas
    around a timed section; ``peak_rss_mb`` is the max over samples of
    the JVM tree's summed proportional set size."""

    def __init__(self, jvm_pid: int, period_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> dict[int, tuple[int, float, float]]:
        tree = _tree(self.jvm_pid)
        self.peak_rss = max(self.peak_rss, sum(_pss(p) for p in tree))
        return tree

    def cpu(self) -> tuple[float, float]:
        """(JVM cpu s, Python cpu s): the JVM's own threads; the Python
        daemon and workers (incl. reaped workers) plus this driver."""
        tree = self.sample()
        jvm = tree[self.jvm_pid][1] if self.jvm_pid in tree else 0.0
        py = sum(s[1] + s[2] for p, s in tree.items() if p != self.jvm_pid)
        t = os.times()
        return jvm, py + t.user + t.system

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_busy_frac(window_s: float = 0.5) -> float:
    """Whole-host busy fraction from /proc/stat over a short window."""
    def snap():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        idle = v[3] + v[4]
        return idle, sum(v)
    i0, t0 = snap()
    time.sleep(window_s)
    i1, t1 = snap()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


# ---------------------------------------------------------------------------
# Spark's own metrics
# ---------------------------------------------------------------------------


def _seq(spark, scala_seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metrics) for every physical operator of ``df``'s
    executed plan, descending into AQE query stages. Read after an action
    on this same DataFrame (a separate write builds a new plan whose
    metrics these are not)."""
    spark = df.sparkSession
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: list[tuple[str, dict[str, int]]] = []

    def walk(node):
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.finalPhysicalPlan())
            return
        ms = conv.asJava(node.metrics())
        out.append((name, {k: int(ms.get(k).value()) for k in ms.keySet()}))
        kids = _seq(spark, node.children())
        if "QueryStage" in name:
            kids = [node.plan()]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def metric_sum(nodes, name_part: str, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if name_part in n)


class StatusStore:
    """Job and stage totals from the SparkContext status store (works with
    the UI disabled). Callers take deltas around an action."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has applied every finished event."""
        self.sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[tuple[int, float]]:
        """(job id, duration s) for every completed job."""
        self.settle()
        out = []
        for j in _seq(self.spark, self.store.jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((j.jobId(),
                            (done.get().getTime() - sub.get().getTime()) / 1e3))
        return out

    def max_job_id(self) -> int:
        ids = [j.jobId() for j in _seq(self.spark, self.store.jobsList(None))]
        return max(ids, default=-1)

    def stage_bytes(self) -> tuple[int, int]:
        """(input bytes, shuffle bytes written) summed over all stages."""
        self.settle()
        inp = shuf = 0
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.spark._jvm.double, 0)
        stages = self.store.stageList(None, False, False, no_quantiles, None)
        for s in _seq(self.spark, stages):
            inp += s.inputBytes()
            shuf += s.shuffleWriteBytes()
        return inp, shuf


class ProgressListener(StreamingQueryListener):
    """The benchmark's own listener: every StreamingQueryProgress in full
    (durationMs phases, stateOperators incl. commitTimeMs and
    numRowsDroppedByWatermark, source offsets), with its arrival time."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_received"] = time.time()
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.progress)
