"""Per-layer measurement from outside the engine package.

Four instruments, all installed by the benchmark process only:

- :class:`Spans` keeps named spans in memory (root ``op`` span per
  operation; children ``frontend.parse``, ``engine.run``,
  ``result.collect``; Spark jobs become ``exec.job`` spans) and computes
  self time = duration minus the union of the children's intervals.
- :class:`Py4jCounter` wraps ``GatewayClient.send_command`` and counts
  driver→JVM round trips, skipping py4j's garbage-collection detach
  commands (sent from its finalizer thread whenever Python drops a
  proxy, so their number depends on the collector, not on the query).
- :func:`parse_event_log` reads the Spark event log and attributes jobs,
  stages, tasks and SQL metrics to operations by the job group the
  benchmark sets before each call.
- :func:`catalyst_phases` reads analysis / optimization / planning time
  from ``queryExecution().tracker()`` of a result DataFrame.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict
from dataclasses import dataclass, field

GC_COMMAND_PREFIX = "m\nd\n"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float
    parent: int | None = None  # index into Spans.items
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self) -> None:
        self.items: list[Span] = []

    def add(self, name: str, op: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.items.append(Span(name, op, start, end, parent, attrs))
        return len(self.items) - 1

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.items if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.items[idx]
        kids = clip([(c.start, c.end) for c in self.children(idx)], s.start, s.end)
        return (s.end - s.start) - union_length(kids)

    def attach_jobs(self, op_root: dict[str, int], jobs: dict[str, list[dict]]) -> None:
        """Add an ``exec.job`` span per Spark job under the op child span
        that was open when the job was submitted (else under the op)."""
        for op, root in op_root.items():
            kids = [(i, s) for i, s in enumerate(self.items) if s.parent == root]
            for j in jobs.get(op, []):
                parent = root
                for i, k in kids:
                    if k.start <= j["start"] <= k.end:
                        parent = i
                        break
                self.add("exec.job", op, j["start"], j["end"], parent, job_id=j["job_id"])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.items):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "dur_s": s.end - s.start,
                    "self_s": self.self_time(i), **s.attrs,
                }) + "\n")


# ---------------------------------------------------------------------------
# py4j round-trip counter
# ---------------------------------------------------------------------------


class Py4jCounter:
    """Counts ``send_command`` calls made by the benchmark's own thread
    while :attr:`active`; GC detach commands are never counted."""

    def __init__(self) -> None:
        from py4j.java_gateway import GatewayClient

        self._cls = GatewayClient
        self._orig = GatewayClient.send_command
        self._thread = threading.get_ident()
        self.active = False
        self.count = 0
        self.gc_skipped = 0
        counter = self

        def send_command(client, command, *args, **kwargs):
            if counter.active and threading.get_ident() == counter._thread:
                if command.startswith(GC_COMMAND_PREFIX):
                    counter.gc_skipped += 1
                else:
                    counter.count += 1
            return counter._orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def take(self) -> int:
        n, self.count = self.count, 0
        return n

    def close(self) -> None:
        self._cls.send_command = self._orig


# ---------------------------------------------------------------------------
# Catalyst phases
# ---------------------------------------------------------------------------


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase for ``df``'s query execution
    (empty when the tracker has no record, e.g. for a local relation)."""
    out: dict[str, float] = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 - a non-SQL result has no tracker
        return out
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1000.0
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "job_s", "task_s", "task_cpu_s", "max_task_s",
             "gc_s", "input_bytes", "input_rows", "shuffle_write_bytes",
             "python_rows", "python_bytes")


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Accumulator ids of the row and byte metrics of Python exec nodes."""
    name = plan.get("nodeName", "")
    if any(m in name for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            mname = m.get("name", "")
            if mname == "number of output rows":
                out[m["accumulatorId"]] = "rows"
            elif mname.startswith("data sent to Python") or mname.startswith(
                    "data returned from Python"):
                out[m["accumulatorId"]] = "bytes"
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def parse_event_log(log_dir: str) -> tuple[dict[str, dict], dict[str, list[dict]]]:
    """Return ``(per_op_stats, per_op_jobs)`` keyed by job group id.

    ``per_op_jobs[op]`` lists ``{"job_id", "start", "end"}`` in epoch
    seconds; ``per_op_stats[op]`` holds :data:`EXEC_KEYS`."""
    job_op: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: dict[str, list[dict]] = defaultdict(list)
    stats: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    py_ids: dict[int, str] = {}
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p) and not p.endswith(".inprogress.tmp")]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                e = ev.get("Event", "")
                if e.endswith("SQLExecutionStart") or e.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
                elif e == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not op:
                        continue
                    jid = ev["Job ID"]
                    job_op[jid] = op
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif e == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_op:
                        op = job_op[jid]
                        end = ev["Completion Time"] / 1000.0
                        jobs[op].append({"job_id": jid, "start": job_start[jid], "end": end})
                        stats[op]["jobs"] += 1
                        stats[op]["job_s"] += end - job_start[jid]
                elif e == "SparkListenerStageCompleted":
                    op = stage_op.get(ev.get("Stage Info", {}).get("Stage ID"))
                    if op:
                        stats[op]["stages"] += 1
                elif e == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if not op:
                        continue
                    s = stats[op]
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
                    s["tasks"] += 1
                    s["task_s"] += dur
                    s["max_task_s"] = max(s["max_task_s"], dur)
                    s["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    inp = tm.get("Input Metrics") or {}
                    s["input_bytes"] += inp.get("Bytes Read", 0)
                    s["input_rows"] += inp.get("Records Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in ti.get("Accumulables", []):
                        kind = py_ids.get(acc.get("ID"))
                        if kind and isinstance(acc.get("Update"), (int, float, str)):
                            try:
                                s[f"python_{kind}"] += float(acc["Update"])
                            except ValueError:
                                pass
    return dict(stats), dict(jobs)
