"""Session lifetime, host facts and the operation bookkeeping shared by the
workloads.

One process and one driver JVM: the session is started with the engine's
own ``get_spark`` on ``local[nproc]``, and stopping it shuts the JVM down
and waits for it (and the Python workers it forked) to exit.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
import traceback

from . import checks


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() or "unknown"


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of ``pid``
    and all its live descendants -- for the driver JVM, that takes in the
    Python daemon and workers it forks."""
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(int(name))
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        total += ticks.get(p, 0)
        stack.extend(children.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


class Session:
    """A SparkSession built by the engine, with its set-up time."""

    def __init__(self, event_log_dir: str | None = None) -> None:
        from oplog_analyzer_spark.session import get_spark

        extra = {}
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            })
        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{nproc()}]", extra_conf=extra)
        self.spark.range(1).count()
        self.setup_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def pause_event_log(self) -> None:
        """Detach the event logger from the listener bus, so what runs next
        is measured as in an untraced session."""
        sc = self.spark.sparkContext._jsc.sc()
        self._event_logger = sc.eventLogger().get()
        sc.removeSparkListener(self._event_logger)

    def resume_event_log(self) -> None:
        self.spark.sparkContext._jsc.sc().addSparkListener(self._event_logger)

    def cpu_seconds(self) -> float:
        return tree_cpu_seconds(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the driver's /proc status")

    def facts(self) -> dict:
        jvm = self.spark._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        return {
            "spark": self.spark.version,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "driver_heap_mb": round(rt.maxMemory() / 2**20, 1),
            "master": self.spark.sparkContext.master,
        }

    def stop(self) -> None:
        """Stop the session, shut the driver JVM down and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the driver JVM exits when its stdin pipe closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


class Run:
    """State of one benchmark run: directories, the DuckDB connection for
    the references, and the attempted/failed operation counts."""

    def __init__(self, work: str, seed: int, seconds: float) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.duck = checks.connect(nproc())
        self.t0 = time.perf_counter()
        #: CPU-seconds clock of the current session's process tree
        self.cpu = None

    def log(self, msg: str) -> None:
        """Progress line on stderr with the seconds since the run began."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.1f}s {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, name: str, mismatch: str | None) -> None:
        """Count one operation; ``mismatch`` is None when it was correct."""
        self.attempted += 1
        if mismatch is not None:
            self.failed += 1
            print(f"perfbench: FAILED {name}: {mismatch}", file=sys.stderr)

    def attempt(self, name: str, fn):
        """Run ``fn`` as one operation.  An exception counts as a failed
        operation and returns None; ``fn`` returns ``(value, mismatch)``."""
        try:
            value, mismatch = fn()
        except Exception as ex:  # a failed operation is reported, not fatal
            traceback.print_exc(file=sys.stderr)
            self.record(name, f"{type(ex).__name__}: {ex}")
            return None
        self.record(name, mismatch)
        return value


def host_facts(root: str) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "python": platform.python_version(),
        "git_sha": git_sha(root),
    }
