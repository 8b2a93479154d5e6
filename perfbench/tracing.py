"""Measurement plumbing: spans around calls into the engine's layers,
the Spark JSON event-log reader, physical-plan node counts, and the
process tree's CPU time and resident set.

Spans are recorded from the benchmark's side only. Each span runs
under its own Spark job group, so the event log attributes every job,
stage and task to exactly one span; a span's self time is its
duration minus that of the spans nested in it.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# task accumulables of the Python-evaluating SQL operators (Spark 4.1)
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    layer: str
    group: str
    parent: Span | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Nested spans, each bound to one Spark job group. With
    `enabled=False` spans cost nothing and touch no Spark state."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.prefix = ""
        #: set once the running operation's plan has been counted
        self.planned = False

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, f"{self.prefix}/{len(self.spans)}/{layer}", parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.end - sp.start
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setJobGroup(f"{self.prefix}/idle", "idle")


# ---------------------------------------------------------------------------
# physical plan shape
# ---------------------------------------------------------------------------

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


def plan_text(df) -> str:
    """The physical plan as `explain()` prints it; building it runs
    analysis, optimization and physical planning."""
    jvm = df.sparkSession.sparkContext._jvm  # noqa: SLF001
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")  # noqa: SLF001


def plan_counts(text: str) -> dict[str, int]:
    names = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "broadcasts": sum(n == "BroadcastExchange" for n in names),
        "scans": sum(n.endswith("Scan") for n in names),
        "python_nodes": sum("Python" in n or "InPandas" in n or "InArrow" in n for n in names),
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

GROUP_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "input_b", "output_b", "py_run_s",
    "py_boot_s", "py_sent_b", "py_recv_b",
)


def _acc_value(acc: dict) -> float:
    v = acc.get("Update", 0)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> tuple[dict[str, dict[str, float]], dict[str, list]]:
    """Sum task metrics per job group from one uncompressed JSON event
    log. Returns (per-group totals, per-group job intervals in seconds).
    SQL timing metrics are recorded in milliseconds, sizes in bytes."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_FIELDS, 0.0))
    intervals: dict[str, list] = defaultdict(list)
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, float]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_group[e["Job ID"]] = (g, e.get("Submission Time", 0) / 1000)
                totals[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_group.get(e["Job ID"], ("", 0.0))
                intervals[g].append((t0, e.get("Completion Time", 0) / 1000))
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g is not None:
                    stage_group[info["Stage ID"]] = g
                totals[stage_group.get(info["Stage ID"], "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                t = totals[stage_group.get(e["Stage ID"], "")]
                m = e.get("Task Metrics") or {}
                t["tasks"] += 1
                t["task_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill_b"] += m.get("Disk Bytes Spilled", 0)
                t["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_RUN:
                        t["py_run_s"] += _acc_value(acc) / 1e3
                    elif name in PY_BOOT:
                        t["py_boot_s"] += _acc_value(acc) / 1e3
                    elif name == PY_SENT:
                        t["py_sent_b"] += _acc_value(acc)
                    elif name == PY_RECV:
                        t["py_recv_b"] += _acc_value(acc)
    return dict(totals), dict(intervals)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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
# CPU and memory of the process tree
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Every live process below `root`."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of `root` and every live process
    below it, each with the children it has reaped (a Python worker that
    has exited is counted in the daemon that forked it)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (the JVM and the Python workers it forks) every `interval` s, and
    keeps the peak since the last `take_peak()`."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """The peak in bytes since the previous call; starts a new one."""
        peak, self.peak = self.peak, _tree_rss_bytes(os.getpid())
        return max(peak, self.peak)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
