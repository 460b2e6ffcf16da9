"""Measurement plumbing shared by every workload.

* ``Tracer`` — spans (name, start, end, parent, run id) kept in memory
  and written out once when the run ends.  A disabled tracer records
  nothing, so end-to-end runs measure with tracing off.
* ``ProcTree`` — CPU seconds and peak RSS of this process and every
  descendant (the Spark JVM, the pyspark worker daemon and its forked
  workers), found by walking parent links in ``/proc``.  Nothing is
  matched by process name, so other tenants of the host never count.
* ``become_subreaper`` / ``release_resource_tracker`` /
  ``reap_descendants`` — every process the run starts (the JVM among
  them) has ended before the run prints its result, on every way out.
* ``SparkLedger`` — Spark's own per-node SQL metrics and per-stage task
  metrics, read from the SparkContext's status stores after each pass.
* ``host_stamp`` / ``cpu_control`` — the host's shape, and a fixed-work
  CPU spin sized to ``nproc`` that shows how busy the host was.
"""

from __future__ import annotations

import contextlib
import json
import multiprocessing as mp
import os
import platform
import re
import statistics
import sys
import time

_CLK = os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  ``span`` nests through a stack, so the
    parent of a span is whatever span was open when it started."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the intervals its direct children cover (children never overlap:
        one pass is in flight at a time)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], [])
                          if c["end"] is not None)
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# process tree: CPU seconds and peak RSS
# ---------------------------------------------------------------------------


def _read_stat(pid: str) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'
    fields = raw[raw.rfind(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), (utime + stime + cutime + cstime) / _CLK


def tree_cpu(root: int, exclude=frozenset()) -> dict[int, float]:
    """{pid: cpu seconds} for ``root`` and all of its descendants,
    leaving out the subtrees rooted at ``exclude``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in exclude:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    """The kernel's peak-RSS counter of one process (0 once it exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class ProcTree:
    """CPU seconds and peak RSS of the benchmark's own process tree.

    ``window()`` brackets a measured region.  CPU is the difference of
    the tree's CPU totals; peak RSS is the sum over the tree of each
    process's kernel peak-RSS counter (``VmHWM``), reset when the window
    opens.  The counters miss no short spike, which sampling would; the
    sum is an upper bound on the simultaneous peak."""

    def __init__(self, exclude: tuple = ()):
        self.root = os.getpid()
        self.exclude = set(exclude)

    def pids(self) -> dict[int, float]:
        return tree_cpu(self.root, self.exclude)

    def cpu_s(self) -> float:
        return sum(self.pids().values())

    @contextlib.contextmanager
    def window(self, out: dict):
        """Add the CPU seconds used inside the block to ``out['cpu_s']``
        and raise ``out['peak_rss_mb']`` to the peak seen inside it."""
        before = self.pids()
        for pid in before:
            _reset_hwm(pid)
        try:
            yield
        finally:
            after = self.pids()
            out["cpu_s"] = out.get("cpu_s", 0.0) + sum(after.values()) - sum(
                before.values())
            peak = sum(_hwm_kb(pid) for pid in after) / 1024
            out["peak_rss_mb"] = max(out.get("peak_rss_mb", 0.0), peak)


# ---------------------------------------------------------------------------
# process lifecycle: nothing the benchmark starts outlives it
# ---------------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (the pyspark worker daemon and its
    workers once the JVM is gone) children of this process, so that
    ``reap_descendants`` can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def release_resource_tracker() -> None:
    """Close this process's end of the pipe to multiprocessing's resource
    tracker, started by the spawned pools.  The tracker ignores SIGTERM
    and exits once every holder of the pipe has closed it; otherwise
    that happens only after this process has exited."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    with tracker._lock:
        if tracker._fd is not None:
            with contextlib.suppress(OSError):
                os.close(tracker._fd)
            tracker._fd = None


def reap_descendants(grace: float = 10.0) -> None:
    """Terminate every process still below this one and wait for each:
    SIGTERM, then SIGKILL after ``grace`` seconds.  As a subreaper this
    process inherits orphans, so having no child left means having no
    descendant left."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        for pid in tree_cpu(me):
            if pid != me:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Spark's own metrics
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric → a number (bytes, ms or a count).
    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)';
    the total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line.strip())
    if not m:
        return float("nan")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class SparkLedger:
    """Reads what Spark itself recorded for the executions and stages
    started after ``mark()``.  Works with ``spark.ui.enabled=false``: the
    status stores are fed by listeners, not by the UI."""

    def __init__(self, spark):
        self.spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark.sparkContext._jvm
        self._none = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            jvm.double, 0)
        self._exec0 = -1
        self._stage0 = -1
        self._job0 = -1

    def _last_exec(self) -> int:
        execs = self._sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())),
                   default=-1)

    def _stages(self):
        seq = self._app.stageList(self._none, False, False,
                                  self._no_quantiles, self._none)
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self):
        seq = self._app.jobsList(self._none)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._exec0 = self._last_exec()
        self._stage0 = max((s.stageId() for s in self._stages()), default=-1)
        self._job0 = max((j.jobId() for j in self._jobs()), default=-1)

    def jobs_since(self) -> int:
        return sum(1 for j in self._jobs() if j.jobId() > self._job0)

    def node_metrics(self) -> list[tuple[str, dict[str, float]]]:
        """(node name, {metric: value}) for every plan node of every SQL
        execution since ``mark()``."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec0:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                got = {}
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        got[pm.name()] = parse_metric(v.get())
                out.append((node.name(), got))
        return out

    def summed(self, node_prefix: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for n, m in self.node_metrics()
                   if n.startswith(node_prefix))

    def task_stats(self, wall_s: float, cores: int) -> dict[str, float]:
        """Task-level view of the stages since ``mark()``."""
        durs, run_ms, gc_ms, failed = [], 0, 0, 0
        for st in self._stages():
            if st.stageId() <= self._stage0:
                continue
            run_ms += st.executorRunTime()
            gc_ms += st.jvmGcTime()
            failed += st.numFailedTasks()
            tasks = self._app.taskList(st.stageId(), st.attemptId(), 100_000)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
        med = median(durs)
        return {
            "tasks.count": len(durs),
            "tasks.failed": failed,
            "tasks.max_over_median": max(durs) / med if durs and med else 0.0,
            "cores.busy_share": run_ms / 1000 / (wall_s * cores)
            if wall_s else 0.0,
            "gc.share": gc_ms / run_ms if run_ms else 0.0,
        }


# ---------------------------------------------------------------------------
# host shape and CPU control
# ---------------------------------------------------------------------------


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def cpu_control(nproc: int, iters: int = 5_000_000) -> float:
    """Wall seconds for ``nproc`` processes each running the same pure
    Python loop: flat on a quiet host, higher when other tenants hold
    the cores.  Spawned workers, so no Spark thread is forked."""
    ctx = mp.get_context("spawn")
    with ctx.Pool(nproc) as pool:
        pool.map(_spin, [1000] * nproc)  # interpreter start-up, untimed
        t0 = time.perf_counter()
        pool.map(_spin, [iters] * nproc)
        return time.perf_counter() - t0


def host_stamp() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "machine": platform.machine(),
    }
