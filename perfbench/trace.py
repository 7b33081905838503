"""Layer tracing from outside the engine: time spans around the calls into
each layer, the executed AQE plan's SQL metrics, stage metrics from an
uncompressed Spark event log, and streaming progress from a listener.

Only the traced run uses this module; the untraced run takes no spans and
enables no event log.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: SQL metric names of the ArrowEvalPython operator as they appear in stage
#: accumulables (ms timings and byte sizes, summed over tasks)
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}
STAGE_ACCUMULABLES = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    **PYTHON_ACCUMULABLES,
}


class Spans:
    """Named wall-clock spans; each keeps its epoch-ms window so stage
    events can be attributed to it afterwards."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, float]] = []  # name, t0_ms, t1_ms, s

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                (name, t0 * 1000.0, time.time() * 1000.0, time.perf_counter() - p0)
            )

    def add(self, name: str, start_epoch_s: float, seconds: float) -> None:
        """Record a span timed by the caller, which started at
        ``start_epoch_s`` (``time.time()``) and lasted ``seconds``."""
        self.spans.append((name, start_epoch_s * 1000.0, time.time() * 1000.0, seconds))

    def fastest(self, name: str) -> tuple[float, float]:
        """Window of the shortest span called ``name``."""
        return min((s, (a, b)) for n, a, b, s in self.spans if n == name)[1]

    def seconds(self, name: str) -> list[float]:
        return [s for n, _, _, s in self.spans if n == name]

    def windows(self, prefix: str) -> list[tuple[float, float]]:
        return [(a, b) for n, a, b, _ in self.spans if n.startswith(prefix)]


def _jiter(it):
    while it.hasNext():
        yield it.next()


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(operator class, SQL metric values) for every node of ``df``'s
    executed plan, descending through AQE's final plan and every query
    stage.  Call after an action on ``df`` itself (e.g. ``collect``)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    out: list[tuple[str, dict]] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        metrics = node.metrics()
        out.append((name, {k: metrics.apply(k).value() for k in _jiter(metrics.keySet().iterator())}))
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_jiter(node.children().iterator()))
    return out


def sum_metric(nodes: list[tuple[str, dict]], op_prefix: str, metric: str) -> float:
    return float(sum(m.get(metric, 0) for n, m in nodes if n.startswith(op_prefix)))


def max_metric(nodes: list[tuple[str, dict]], op_prefix: str, metric: str) -> float:
    return float(max((m.get(metric, 0) for n, m in nodes if n.startswith(op_prefix)), default=0))


def read_stages(event_log_dir: str) -> list[dict]:
    """Completed stages of every application logged under
    ``event_log_dir``: submission/completion time (epoch ms) and the
    accumulables named in ``STAGE_ACCUMULABLES`` summed per stage."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(event_log_dir, "*", "events_*")))
    stages = []
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                row = {k: 0.0 for k in STAGE_ACCUMULABLES.values()}
                row["submitted_ms"] = float(info.get("Submission Time") or 0)
                row["completed_ms"] = float(info.get("Completion Time") or 0)
                for acc in info.get("Accumulables", []):
                    key = STAGE_ACCUMULABLES.get(acc.get("Name"))
                    if key is not None:
                        row[key] += float(acc.get("Value") or 0)
                stages.append(row)
    return stages


def stage_totals(stages: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Sum of stage accumulables over the stages submitted inside any of
    ``windows``."""
    total = {k: 0.0 for k in STAGE_ACCUMULABLES.values()}
    for st in stages:
        if any(a <= st["submitted_ms"] <= b for a, b in windows):
            for k in total:
                total[k] += st[k]
    return total


class ProgressListener(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` per query run."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {"durations_ms": dict(p.durationMs), "rows": int(p.numInputRows)}
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        """Wait until ``n`` query runs have been reported terminated (the
        listener bus delivers events after the query returns)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if len(self.terminated) >= n:
                    return
            time.sleep(0.05)
        raise TimeoutError(f"{n} streaming queries not reported terminated")

    def runs(self) -> list[list[dict]]:
        """Progress records of each query run, in start order."""
        with self.lock:
            return [list(self.progress.get(r, [])) for r in self.started]


def dir_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, total bytes) of ``suffix`` files under ``path``."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size
