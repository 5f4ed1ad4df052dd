"""Measurement probes that sit outside the program under test.

* :class:`ProcTree` -- CPU seconds and resident memory of this process
  and all of its descendants (the JVM and the Python workers), read
  from ``/proc``.
* :class:`RssSampler` -- a thread that records the tree's peak RSS.
* :class:`TaskListener` -- a py4j ``SparkListenerInterface`` that keeps
  per-task metrics, keyed by the ``perfbench.span`` local property of
  the job that ran them.
* :class:`QueryListener` -- a py4j ``QueryExecutionListener`` that keeps
  the SQL metrics of every executed plan node, per span.
"""

from __future__ import annotations

import os
import threading

SPAN_PROPERTY = "perfbench.span"
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system CPU of every live process in the tree, including
        children they have reaped."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return total / _TICK

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * _PAGE / 1e6


class RssSampler:
    """Background sampler of the tree's total RSS; use as a context
    manager around the timed region and read :attr:`peak_mb`."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.05):
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


class _JavaCallback:
    def __getattr__(self, name):
        # every other interface method is a no-op; py4j resolves callback
        # methods by name at call time
        return lambda *args, **kwargs: None


class TaskListener(_JavaCallback):
    """Per-task metrics, attributed to the span that submitted the stage."""

    def __init__(self):
        self._lock = threading.Lock()
        self._stage_span: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = {}
        self.stages: dict[str, set[int]] = {}

    def onStageSubmitted(self, event):  # noqa: N802 (JVM interface name)
        props = event.properties()
        span = props.getProperty(SPAN_PROPERTY) if props is not None else None
        with self._lock:
            self._stage_span[int(event.stageInfo().stageId())] = span or "-"

    def onTaskEnd(self, event):  # noqa: N802
        m = event.taskMetrics()
        if m is None:
            return
        sr, sw = m.shuffleReadMetrics(), m.shuffleWriteMetrics()
        row = {
            "duration_ms": int(event.taskInfo().duration()),
            "run_ms": int(m.executorRunTime()),
            "cpu_ns": int(m.executorCpuTime()),
            "gc_ms": int(m.jvmGCTime()),
            "peak_mem": int(m.peakExecutionMemory()),
            "spill": int(m.memoryBytesSpilled()) + int(m.diskBytesSpilled()),
            "shuffle_read": int(sr.localBytesRead()) + int(sr.remoteBytesRead()),
            "shuffle_write": int(sw.bytesWritten()),
        }
        stage = row["stage"] = int(event.stageId())
        with self._lock:
            span = self._stage_span.get(stage, "-")
            self.tasks.setdefault(span, []).append(row)
            self.stages.setdefault(span, set()).add(stage)

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_nodes(plan, seen_caches: set, identity):
    """(node name, parent name, {metric: value}) for every node of an
    executed plan, looking through adaptive and query-stage wrappers and
    into the plan that built a cached relation -- once per cache, as
    ``seen_caches`` (identities from ``identity``) records."""
    out = []

    def walk(node, parent):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan(), parent)
        if name.endswith("QueryStage") or name == "ReusedExchange":
            child = node.plan() if name.endswith("QueryStage") else node.child()
            return walk(child, parent)
        metrics = {kv._1(): int(kv._2().value()) for kv in _scala_iter(node.metrics())}
        out.append((name, parent, metrics))
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            key = identity(cached)
            if key not in seen_caches:
                seen_caches.add(key)
                walk(cached, name)
        for child in _scala_iter(node.children()):
            walk(child, name)

    walk(plan, None)
    return out


class QueryListener(_JavaCallback):
    """SQL metrics of each successful query, per span; the span is read
    from the driver thread's local property when the query ends."""

    def __init__(self, span_of, identity):
        self._span_of = span_of
        self._identity = identity
        self._seen_caches: set = set()
        self._lock = threading.Lock()
        self.queries: dict[str, list[dict]] = {}

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        nodes = plan_nodes(qe.executedPlan(), self._seen_caches, self._identity)
        with self._lock:
            self.queries.setdefault(self._span_of(), []).append(
                {"func": str(func_name), "duration_s": duration_ns / 1e9, "nodes": nodes,
                 "plan": qe.logical().toString()[:2000]}
            )

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Probes:
    """Registers both listeners on a session for the traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.span = "-"
        self.tasks = TaskListener()
        self.queries = QueryListener(lambda: self.span, spark._jvm.System.identityHashCode)
        # the JVM calls the listeners through pyspark's py4j callback server
        # (the same helper pyspark's streaming listeners use)
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._sc = spark.sparkContext._jsc.sc()
        self._sc.addSparkListener(self.tasks)
        spark._jsparkSession.listenerManager().register(self.queries)

    def set_span(self, name: str) -> None:
        self.span = name
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, name)

    def drain(self) -> None:
        """Wait until the listener buses have delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self.drain()
        self._sc.removeSparkListener(self.tasks)
        self.spark._jsparkSession.listenerManager().unregister(self.queries)
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, None)
