"""Spans, process-tree RSS sampling and the Spark event-log reader.

Spans are kept in memory while the benchmark runs: one per call the
benchmark makes into a layer, named ``<module>:<step>`` exactly like the
Spark job group set around the call, so event-log jobs and spans join on
the same label.  The event log is parsed after the session stopped, into
one counter row per module.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE = "layerbench:idle"


@dataclass
class Span:
    name: str  # "<module>:<step>"
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None
    op_id: int

    @property
    def module(self) -> str:
        return self.name.split(":", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder that also labels the Spark jobs of each
    call.  Labels are set on every run (they cost no job); only the traced
    run turns the event log on and reads them back."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    op_id: int = -1
    _stack: list[str] = field(default_factory=list)

    def label(self, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.label(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), parent, self.op_id))
            self._stack.pop()
            self.label(parent or IDLE)

    def passes(self, names: list[str]) -> "PassSpans":
        return PassSpans(self, names, self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class PassSpans:
    """One span per checkpoint pass of a pipeline call.

    ``run_pipeline_checkpointed`` calls ``post_pass(pass)`` after each pass
    commits; each call closes the running pass's span and labels the jobs
    that follow with the next pass's module."""

    def __init__(self, tracer: Tracer, names: list[str], parent: str | None):
        self.tracer = tracer
        self.names = names  # span name of each pass, in pass order
        self.parent = parent
        self.i = 0
        self.t0 = time.time()
        tracer.label(names[0])

    def __call__(self, _pass_name: str) -> None:
        now = time.time()
        self.tracer.spans.append(
            Span(self.names[self.i], self.t0, now, self.parent, self.tracer.op_id)
        )
        self.i += 1
        self.t0 = now
        nxt = self.names[self.i] if self.i < len(self.names) else self.parent
        self.tracer.label(nxt or IDLE)


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, over every process in /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        children[int(st[st.rindex(")") + 2 :].split()[1])].append(int(d))
    return children


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children = _children()
    tree, frontier = set(), [root]
    while frontier:
        for c in children[frontier.pop()]:
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live descendant,
    including the children each of them has reaped."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """High-water RSS of this process and every descendant (the driver
    JVM and its Python workers), sampled from /proc while ``active``."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.active = False
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="rss")

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(self.root) | {self.root}:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def reset(self) -> None:
        """Start a new high-water window, seeded with a sample taken now."""
        self.peak_bytes = self._tree_rss()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

GROUP_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_core_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "sched_wait_s",
    "driver_gap_s",
    "failed_tasks",
    "self_s",
)
_TASK_SUMS = (
    "tasks",
    "task_core_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "sched_wait_s",
    "failed_tasks",
)

_JOIN = re.compile(r"^(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)")


def _module(group: str | None) -> str:
    return group.split(":", 1)[0] if group else "unlabelled"


def _plan_joins(info: dict, out: list) -> None:
    if _JOIN.match(info.get("nodeName", "")):
        ids = [
            m["accumulatorId"]
            for m in info.get("metrics", [])
            if m.get("name") == "number of output rows"
        ]
        out.append((info.get("simpleString", ""), ids))
    for c in info.get("children", []):
        _plan_joins(c, out)


def _as_int(v) -> int | None:
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, str) and v.lstrip("-").isdigit():
        return int(v)
    return None


@dataclass
class EventLog:
    """Per-module counters from one uncompressed Spark event log."""

    jobs: dict = field(default_factory=lambda: defaultdict(int))
    stages: dict = field(default_factory=lambda: defaultdict(set))
    sums: dict = field(default_factory=lambda: defaultdict(float))
    task_spans: list = field(default_factory=list)  # (launch_s, finish_s)
    # SQL execution id -> [(join simpleString, [row-count accumulator ids])]
    plan_joins: dict = field(default_factory=dict)
    exec_module: dict = field(default_factory=dict)
    acc: dict = field(default_factory=lambda: defaultdict(int))

    @classmethod
    def read(cls, evdir: str) -> "EventLog":
        apps = os.listdir(evdir)
        if len(apps) != 1:
            raise RuntimeError(f"expected one event log in {evdir}, found {apps}")
        path = os.path.join(evdir, apps[0])
        if os.path.isdir(path):
            # rolling layout: <app dir>/events_<n>_<app id>, n from 1
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            files = [os.path.join(path, f) for f in parts]
        else:
            files = [path]
        log = cls()
        stage_module: dict[int, str] = {}
        stage_submit: dict[int, float] = {}
        first_launch: dict[int, float] = {}
        for p in files:
            with open(p) as f:
                for line in f:
                    log._event(json.loads(line), stage_module, stage_submit, first_launch)
        for sid, t in first_launch.items():
            if sid in stage_submit:
                mod = stage_module.get(sid, "unlabelled")
                log.sums[mod, "sched_wait_s"] += max(t - stage_submit[sid], 0.0)
        return log

    def _event(self, e, stage_module, stage_submit, first_launch) -> None:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            mod = _module(props.get("spark.jobGroup.id"))
            self.jobs[mod] += 1
            for sid in e.get("Stage IDs", []):
                stage_module.setdefault(sid, mod)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                self.exec_module.setdefault(int(xid), mod)
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            self.stages[stage_module.get(sid, "unlabelled")].add(sid)
            if info.get("Submission Time"):
                stage_submit[sid] = info["Submission Time"] / 1000
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            mod = stage_module.get(sid, "unlabelled")
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            launch, finish = ti["Launch Time"] / 1000, ti["Finish Time"] / 1000
            self.task_spans.append((launch, finish))
            first_launch[sid] = min(first_launch.get(sid, launch), launch)
            ok = (e.get("Task End Reason") or {}).get("Reason") == "Success"
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            s = self.sums
            s[mod, "tasks"] += 1
            s[mod, "failed_tasks"] += 0 if ok else 1
            s[mod, "task_core_s"] += tm.get("Executor Run Time", 0) / 1000
            s[mod, "gc_s"] += tm.get("JVM GC Time", 0) / 1000
            s[mod, "shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            s[mod, "shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            s[mod, "spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            if ok:
                for a in ti.get("Accumulables", []):
                    v = _as_int(a.get("Update"))
                    if v is not None:
                        self.acc[a["ID"]] += v
        elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            # an adaptive re-plan replaces the execution's plan: its nodes
            # carry the accumulators that actually ran
            joins: list = []
            _plan_joins(e.get("sparkPlanInfo") or {}, joins)
            self.plan_joins[int(e["executionId"])] = joins
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e.get("accumUpdates", []):
                v = _as_int(val)
                if v is not None:
                    self.acc[aid] += v

    def join_rows(self, module: str, key: str) -> int:
        """Output rows of every join in ``module``'s SQL executions whose
        first join key column is ``key``."""
        pat = re.compile(r"\[" + re.escape(key) + r"#")
        return sum(
            self.acc.get(i, 0)
            for xid, joins in self.plan_joins.items()
            if self.exec_module.get(xid) == module
            for simple, ids in joins
            if pat.search(simple)
            for i in ids
        )

    def covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which at least one task ran."""
        iv = sorted(
            (max(a, t0), min(b, t1)) for a, b in self.task_spans if b > t0 and a < t1
        )
        tot, lo, hi = 0.0, None, None
        for a, b in iv:
            if hi is None or a > hi:
                if hi is not None:
                    tot += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        return tot + (hi - lo if hi is not None else 0.0)

    def module_table(self, module: str, spans: list[Span]) -> dict[str, float]:
        """The counters of one module, per operation that called into it."""
        mine = [s for s in spans if s.module == module]
        n_ops = len({s.op_id for s in mine})
        if n_ops == 0:
            return {f: 0.0 for f in GROUP_FIELDS}
        names = {s.name for s in mine}
        row = {f: self.sums.get((module, f), 0.0) for f in _TASK_SUMS}
        row["jobs"] = self.jobs.get(module, 0)
        row["stages"] = len(self.stages.get(module, ()))
        row["driver_gap_s"] = sum(
            (s.end - s.start) - self.covered(s.start, s.end) for s in mine
        )
        row["self_s"] = sum(s.end - s.start for s in mine) - sum(
            s.end - s.start for s in spans if s.parent in names
        )
        return {f: row[f] / n_ops for f in GROUP_FIELDS}
