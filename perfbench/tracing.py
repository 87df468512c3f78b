"""Spans, counters and resource sampling, all on the benchmark's side.

Nothing here edits the package: spans wrap the benchmark's own calls
into each layer's public functions, counts come from Spark's public
status surfaces (``StatusTracker`` under a job group, the event log,
``StreamingQuery.recentProgress``), and memory comes from the kernel's
per-process accounting.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
REF_INTS = 1 << 20
REF_SEED = 7
REF_WARMUP = 5


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written once
    when the run ends. With ``enabled`` False, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float,
            op: int | None = None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming batch)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "op": op, "parent": None, "start": start,
                               "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_calls(module, attr: str, on_call) -> None:
    """Replace ``module.attr`` with a wrapper that reports
    (args, result, seconds) to ``on_call`` after each call."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        out = orig(*args, **kwargs)
        on_call(args, out, time.perf_counter() - t0)
        return out

    setattr(module, attr, wrapper)


class RssSampler:
    """Peak summed RSS of every descendant of this process (the Spark
    driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, descendants_rss())
            if self._stop.wait(self.interval_s):
                return


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks: user, system and those of
    reaped children) for every process on the machine."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields resume after the last ')'
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(raw[:raw.index(" ")])] = (
            int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _descendants(table: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def descendants() -> list[int]:
    return _descendants(_proc_table())


# HotSpot's JIT compiler threads; the benchmark starts the JVM with a
# fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads), so none
# exits and takes its CPU time out of the per-thread sum
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    for stat in glob.glob(f"/proc/{pid}/task/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(_JIT_THREADS):
            total += sum(int(x) for x in
                         raw[raw.rindex(")") + 2:].split()[11:13])
    return total


def engine_cpu() -> tuple[float, float]:
    """CPU seconds used so far by every descendant of this process (the
    Spark driver JVM, the Python workers it forks, and their reaped
    children), as (all but the JVM's JIT compiler threads, those
    threads).

    The kernel's per-task accounting leaves out time the hypervisor
    stole from the virtual CPUs, so unlike wall time this does not grow
    when neighbouring guests load the host. JIT compilation is kept
    apart because it is the JVM tuning itself, not the work an op asked
    for: it goes on through the whole run, about as much CPU as the ops'
    own work, however long the warm-up."""
    table = _proc_table()
    ticks, jit = 0, 0
    for pid in _descendants(table):
        ticks += table[pid][1]
        jit += _jit_ticks(pid)
    return (ticks - jit) / _TICK, jit / _TICK


def descendants_rss() -> int:
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class ReferenceWork:
    """A fixed piece of JVM work that involves none of the program:
    sorting a copy of the same ``REF_INTS`` pseudo-random ints in the
    Spark driver JVM, timed in CPU seconds.

    On a shared host the CPU time of the same work moves by a fifth and
    more from run to run: other guests on the same cores, caches and
    memory slow every instruction, and the kernel's accounting cannot
    tell that from the program's own work. The reference slows with
    them, so an op's CPU time divided by the run's mean reference time
    compares across runs where neither compares alone. One sample moves
    by up to a fifth on its own, the slow ones more often while the host
    is busy; the mean is over the 24 to 40 samples a run takes,
    interleaved with its ops."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._arrays = jvm.java.util.Arrays
        self._bean = (jvm.java.lang.management.ManagementFactory
                      .getThreadMXBean())
        self._system = jvm.java.lang.System
        self._data = jvm.java.util.Random(REF_SEED).ints(REF_INTS) \
            .toArray()
        # sorted in place: a sample allocates nothing, so no heap
        # growth or collection falls inside it
        self._work = jvm.java.util.Arrays.copyOf(self._data, REF_INTS)
        self.samples: list[float] = []
        self.measure(REF_WARMUP)  # compiles the sort before it counts
        self.samples.clear()

    def measure(self, times: int = 1) -> None:
        # py4j runs every call from this Python thread on one JVM
        # thread, so the thread's CPU clock brackets the sort alone
        for _ in range(times):
            t0 = self._bean.getCurrentThreadCpuTime()
            self._system.arraycopy(self._data, 0, self._work, 0, REF_INTS)
            self._arrays.sort(self._work)
            self.samples.append(
                (self._bean.getCurrentThreadCpuTime() - t0) / 1e9)

    def mean(self) -> float:
        return statistics.fmean(self.samples)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine so far, from
    /proc/stat. Steal is time the hypervisor gave this machine's
    virtual CPUs to another guest; a run with a large share of it was
    slowed by its neighbours, not by the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks completed under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


# --- Spark event log ----------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_PLAN_EVENTS = (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task time, GC, shuffle, spill, Python transfer,
    stage skew and the shape of every executed (final AQE) plan.

    Jobs map to groups through their ``spark.jobGroup.id`` property,
    SQL executions through ``spark.sql.execution.id``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    metric_kind: dict[int, tuple[int, str, str]] = {}
    acc_sum: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "task_ms": 0.0, "gc_ms": 0.0, "shuffle_write_b": 0.0,
            "shuffle_read_b": 0.0, "spill_b": 0.0, "py_sent_b": 0.0,
            "py_recv_b": 0.0, "exchanges": 0, "broadcast_joins": 0,
            "shuffle_joins": 0, "python_evals": 0, "scan_rows": 0.0,
            "scan_b": 0.0, "stage_skew": []})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id")
                    if grp is None:
                        continue
                    for s in ev.get("Stage IDs", ()):
                        stage_group[s] = grp
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] \
                            = grp
                elif kind == "SparkListenerTaskEnd":
                    stage = ev["Stage ID"]
                    info = ev.get("Task Info") or {}
                    for acc in info.get("Accumulables", ()):
                        try:  # SQL metrics arrive as strings
                            val = float(acc.get("Update"))
                        except (TypeError, ValueError):
                            continue
                        acc_sum[acc["ID"]] = acc_sum.get(acc["ID"], 0) + val
                    grp = stage_group.get(stage)
                    m = ev.get("Task Metrics")
                    if grp is None or not m:
                        continue
                    rec = g(grp)
                    rec["task_ms"] += m.get("Executor Run Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written",
                                                     0)
                    stage_tasks.setdefault(stage, []).append(
                        m.get("Executor Run Time", 0))
                elif kind in _PLAN_EVENTS:
                    eid = ev["executionId"]
                    final_plan[eid] = ev["sparkPlanInfo"]
                    for node in _walk(ev["sparkPlanInfo"]):
                        for met in node.get("metrics", ()):
                            metric_kind[met["accumulatorId"]] = (
                                eid, node["nodeName"], met["name"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, val in ev.get("accumUpdates", ()):
                        acc_sum[acc_id] = acc_sum.get(acc_id, 0) + val

    for stage, times in stage_tasks.items():
        if len(times) >= 2 and sum(times) > 0:
            g(stage_group[stage])["stage_skew"].append(
                max(times) / statistics.fmean(times))
    for eid, plan in final_plan.items():
        grp = exec_group.get(eid)
        if grp is None:
            continue
        rec = g(grp)
        for node in _walk(plan):
            name = node["nodeName"]
            rec["exchanges"] += name == "Exchange"
            rec["broadcast_joins"] += name.startswith("BroadcastHashJoin") \
                or name.startswith("BroadcastNestedLoopJoin")
            rec["shuffle_joins"] += name.startswith("SortMergeJoin") \
                or name.startswith("ShuffledHashJoin")
            rec["python_evals"] += _is_python_node(name)
    for acc_id, (eid, node, metric) in metric_kind.items():
        grp = exec_group.get(eid)
        if grp is None or acc_id not in acc_sum:
            continue
        rec = g(grp)
        if node.startswith("Scan ") and metric == "number of output rows":
            rec["scan_rows"] += acc_sum[acc_id]
        elif node.startswith("Scan ") and metric == "size of files read":
            rec["scan_b"] += acc_sum[acc_id]
        elif metric == _PY_SENT:
            rec["py_sent_b"] += acc_sum[acc_id]
        elif metric == _PY_RECV:
            rec["py_recv_b"] += acc_sum[acc_id]
    return groups
