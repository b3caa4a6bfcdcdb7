"""Measurement from outside the program: process-tree counters read from
``/proc``, spans around the calls into each layer, and Spark task metrics
attributed to those spans through Spark's own event log.

A span sets the Spark job description to its name for the calls it wraps,
so every Spark job launched inside it carries that name in the event log.
After the run, :func:`attribute` reads the log and sums each span's jobs'
task metrics.  A job is attributed to the innermost span that was open when
it was submitted and carries that span's name.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import os
import statistics
import time

# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


class ProcTree:
    """CPU, storage writes and peak resident memory of this process tree:
    the driver's Python, the JVM, and Spark's Python workers."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> tuple[float, int]:
        """``(cpu_seconds, bytes_written)`` summed over the live tree.  CPU
        includes each process's reaped children; written bytes are
        ``write_bytes - cancelled_write_bytes``.  Also raises :attr:`peak_kb`
        to the live processes' summed ``VmHWM`` (a Python worker that was
        replaced stops counting, so worker churn does not add up)."""
        cpu = 0
        wrote = 0
        hwm_kb = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{pid}/io") as f:
                    io = dict(line.split(": ") for line in f.read().splitlines())
                with open(f"/proc/{pid}/status") as f:
                    hwm = next(
                        (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                    )
            except (OSError, StopIteration):
                continue  # the process ended between listing and reading
            cpu += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            wrote += int(io["write_bytes"]) - int(io["cancelled_write_bytes"])
            hwm_kb += hwm
        self.peak_kb = max(self.peak_kb, hwm_kb)
        return cpu / _TICK, wrote

    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------- host stamp


def calib_cpu() -> float:
    """Single-core host-speed probe: the serially dependent md5 chain of
    ``bench.py``'s ``_calib_cpu`` (same iteration count, so stamps from the
    two harnesses compare)."""
    t0 = time.perf_counter()
    h = b"\x00" * 16
    for _ in range(1_200_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def host_stamp() -> dict:
    return {
        "calib_cpu": round(calib_cpu(), 4),
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


# ---------------------------------------------------------------- spans

#: Metrics every layer reports; see README.md for their definitions.
LAYER_METRICS = {
    "wall_s": "s",
    "self_s": "s",
    "plan_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "py_s": "s",
    "py_mb": "MB",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "rows",
}


@dataclasses.dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float | None
    parent: "Span | None"
    job: int


class Tracer:
    """Spans of the traced jobs, kept in memory until the run ends.  Times
    are epoch seconds, so they line up with the event log's timestamps."""

    traced = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.rows: list[tuple[str, object]] = []  # deferred counts of this job
        self.counters: dict[str, list[float]] = {}
        self.job = 0
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.time(), None, parent, self.job)
        self._open.append(s)
        self.sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.sc.setJobDescription(parent.name if parent else None)
            self.spans.append(s)

    def count(self, name: str, value) -> None:
        """Record ``name`` for the current job: a zero-argument callable, or
        a DataFrame whose row count is taken.  Both are evaluated by
        :meth:`end_job`, after the job's timing."""
        self.rows.append((name, value))

    def on_stage(self, iteration: int, stage: str, seconds: float) -> None:
        """``operators.rewrite``'s ``on_stage`` callback: a child span of the
        open span, ending now."""
        now = time.time()
        parent = self._open[-1] if self._open else None
        name = f"{parent.name}.{stage}" if parent else stage
        self.spans.append(Span(name, now - seconds, now, parent, self.job))

    def on_iteration(self, m: dict) -> None:
        """``operators.rewrite``'s ``on_iteration`` callback."""
        self.counters.setdefault("operators.engine.iterations", []).append(1)
        self.counters.setdefault("operators.engine.trees_changed", []).append(
            m["trees_changed"]
        )
        self.counters.setdefault("operators.engine.trees_probed", []).append(
            m["params"]["nb_sentences"]
        )

    def end_job(self) -> None:
        """Resolve the current job's deferred row counts; start the next job."""
        for name, value in self.rows:
            if callable(value):
                value = value()
            else:
                value = value.agg({"*": "count"}).collect()[0][0]
            self.counters.setdefault(name, []).append(value)
        self.rows = []
        self.job += 1


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Spark jobs ``{id, time, desc, stages}`` and per-job task totals."""
    jobs: list[dict] = []
    stage_job: dict[int, int] = {}
    totals: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs.append({
                    "id": jid,
                    "time": ev["Submission Time"] / 1000,
                    "desc": props.get("spark.job.description"),
                })
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                totals[jid] = {k: 0.0 for k in (
                    "tasks", "failed", "task_cpu_s", "gc_s", "py_s", "py_mb",
                    "shuffle_mb", "spill_mb")}
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                t = totals[jid]
                t["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    t["failed"] += 1
                m = ev.get("Task Metrics") or {}
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    / 2**20
                )
                t["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    # SQL metric updates arrive as decimal strings
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == "time to run Python workers":
                        t["py_s"] += float(upd) / 1e3  # a millisecond timing metric
                    elif name in ("data sent to Python workers",
                                  "data returned from Python workers"):
                        t["py_mb"] += float(upd) / 2**20
    return jobs, totals


def attribute(spans: list[Span], jobs: list[dict], totals: dict[int, dict]) -> dict:
    """Per-span metrics (medians over traced jobs) keyed ``<span>.<metric>``,
    plus ``session.failed_tasks`` over every Spark job in the log."""
    per_job: dict[tuple[int, str], dict] = {}
    for s in spans:
        kids = [c for c in spans if c.parent is s]
        mine = [
            j for j in jobs
            if j["desc"] == s.name and s.start <= j["time"] <= s.end
        ]
        m = {
            "wall_s": s.end - s.start,
            "self_s": s.end - s.start - _covered(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids]
            ),
            "plan_s": (min(j["time"] for j in mine) - s.start) if mine else s.end - s.start,
            "jobs": len(mine),
        }
        for k in ("tasks", "task_cpu_s", "gc_s", "py_s", "py_mb", "shuffle_mb", "spill_mb"):
            m[k] = sum(totals[j["id"]][k] for j in mine)
        acc = per_job.setdefault((s.job, s.name), {k: 0.0 for k in m})
        for k, v in m.items():
            acc[k] += v  # a span name repeated within one job adds up
    out: dict[str, list[float]] = {}
    for (_job, name), m in per_job.items():
        for k, v in m.items():
            out.setdefault(f"{name}.{k}", []).append(v)
    result = {k: statistics.median(v) for k, v in out.items()}
    result["session.failed_tasks"] = sum(t["failed"] for t in totals.values())
    return result

