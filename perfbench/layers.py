"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of the API: around every
``StageLedger.run`` / ``run_ranged`` call (one span per pipeline stage)
and around every catalogue query.  Spark's own event log supplies jobs
and tasks.  A job belongs to the span its submission time falls in —
not to a job group, because ``run_ranged`` submits its per-range jobs
from pool threads that do not inherit one — and a task belongs to the
first job that lists its stage (later jobs list reused stages as
skipped).
"""

from __future__ import annotations

import contextlib
import json
import time

#: the pipeline stages reported per layer; the three prefix commits fold
#: into ``prefix``
STAGES = ["assemble", "exact", "sign", "candidates", "verify", "containment", "prefix", "cluster"]
STAGE_FIELDS = ["wall_s", "rows", "jobs", "task_s", "max_task_s", "shuffle_write_bytes",
                "spill_bytes", "driver_s"]
_FOLD = {"prefix_corpus": "prefix", "prefix_bounds": "prefix"}


def now_ms() -> float:
    """Wall clock in epoch milliseconds — the event log's clock."""
    return time.time() * 1000.0


class Spans:
    """In-memory span list: (name, start_ms, end_ms, rows)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start_ms": now_ms(), "end_ms": None, "rows": None}
        try:
            yield rec
        finally:
            rec["end_ms"] = now_ms()
            self.spans.append(rec)

    @contextlib.contextmanager
    def around_ledger(self):
        """Patch ``StageLedger.run``/``run_ranged`` so each call is a span
        carrying the committed row count; restored on exit."""
        from wdedup_spark.sources.ledger import StageLedger

        orig = {m: getattr(StageLedger, m) for m in ("run", "run_ranged")}

        def wrap(method):
            def traced(ledger, spark, stage, *args, **kwargs):
                with self.span(_FOLD.get(stage, stage)) as rec:
                    out = method(ledger, spark, stage, *args, **kwargs)
                if stage not in _FOLD:
                    rec["rows"] = (ledger.entry(stage) or {}).get("rows")
                return out
            return traced

        for m, fn in orig.items():
            setattr(StageLedger, m, wrap(fn))
        try:
            yield self
        finally:
            for m, fn in orig.items():
                setattr(StageLedger, m, fn)


def parse_event_log(lines) -> tuple[list[dict], list[dict]]:
    """Jobs and tasks from Spark event-log JSON lines.

    job: id, submit_ms, end_ms, stages.  task: stage, launch_ms,
    finish_ms, dur_s, gc_s, shuffle_write_bytes, spill_bytes (disk)."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "submit_ms": float(ev["Submission Time"]),
                "end_ms": None, "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end_ms"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "launch_ms": float(info["Launch Time"]),
                "finish_ms": float(info["Finish Time"]),
                "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
            })
    return sorted(jobs.values(), key=lambda j: j["id"]), tasks


def attribute(spans: list[dict], jobs: list[dict], tasks: list[dict]) -> dict[str, dict]:
    """Group jobs and tasks by span name (None = outside every span)."""
    def owner(t_ms: float):
        for s in spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s["name"]
        return None

    job_span = {j["id"]: owner(j["submit_ms"]) for j in jobs}
    stage_job: dict[int, int] = {}
    for j in jobs:  # ascending id: the first job to list a stage runs it
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    out: dict = {}
    for j in jobs:
        out.setdefault(job_span[j["id"]], {"jobs": [], "tasks": []})["jobs"].append(j)
    for t in tasks:
        name = job_span.get(stage_job.get(t["stage"]))
        out.setdefault(name, {"jobs": [], "tasks": []})["tasks"].append(t)
    return out


def layer_metrics(spans: list[dict], jobs: list[dict], tasks: list[dict], cores: int) -> dict[str, float]:
    """``<stage>.<field>`` for every stage in STAGES (zeros for stages
    the operation did not run)."""
    groups = attribute(spans, jobs, tasks)
    out: dict[str, float] = {}
    for st in STAGES:
        mine = [s for s in spans if s["name"] == st]
        g = groups.get(st, {"jobs": [], "tasks": []})
        wall = sum((s["end_ms"] - s["start_ms"]) / 1000.0 for s in mine)
        task_s = sum(t["dur_s"] for t in g["tasks"])
        vals = {
            "wall_s": wall,
            "rows": sum(s["rows"] or 0 for s in mine),
            "jobs": len(g["jobs"]),
            "task_s": task_s,
            "max_task_s": max((t["dur_s"] for t in g["tasks"]), default=0.0),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in g["tasks"]),
            "spill_bytes": sum(t["spill_bytes"] for t in g["tasks"]),
            "driver_s": max(0.0, wall - task_s / cores) if mine else 0.0,
        }
        out.update({f"{st}.{k}": float(v) for k, v in vals.items()})
    return out


def window_totals(jobs: list[dict], tasks: list[dict], start_ms: float, end_ms: float) -> dict[str, float]:
    """``op.*`` totals over the jobs submitted inside one operation."""
    span = [{"name": "op", "start_ms": start_ms, "end_ms": end_ms}]
    g = attribute(span, jobs, tasks).get("op", {"jobs": [], "tasks": []})
    return {
        "op.jobs": float(len(g["jobs"])),
        "op.shuffle_bytes": float(sum(t["shuffle_write_bytes"] for t in g["tasks"])),
        "op.spill_bytes": float(sum(t["spill_bytes"] for t in g["tasks"])),
        "op.gc_s": float(sum(t["gc_s"] for t in g["tasks"])),
    }


class EventLog:
    """Spark's event log for the traced run: enabled at session start,
    detached while untraced operations run, re-attached for the traced
    one."""

    def __init__(self, log_dir: str) -> None:
        self.dir = log_dir

    def conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }

    def bind(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._sc, self._listener = sc, sc.eventLogger().get()

    def detach(self) -> None:
        self._sc.removeSparkListener(self._listener)

    def attach(self) -> None:
        self._sc.listenerBus().addToEventLogQueue(self._listener)

    def read(self) -> tuple[list[dict], list[dict]]:
        """Parse the log; call after the session stopped (which flushes
        it and drops the in-progress suffix)."""
        import os

        names = [n for n in os.listdir(self.dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {self.dir}, found {names}")
        with open(os.path.join(self.dir, names[0]), encoding="utf-8") as f:
            return parse_event_log(f)
