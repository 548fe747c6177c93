"""Spans for the traced run, recorded from outside the program.

``Tracer`` keeps spans in memory (name, kind, start, end, parent) for
pass -> op -> build/plan/exec -> layer call -> Spark job. Layer calls are
timed by replacing module attributes of the engine (``catalog.load_table``,
the ``sources`` readers, the ``versioned`` table operations and the
``CacheScope`` methods) with wrappers; ``Tracer.uninstall`` puts the
originals back. Each wrapper also sets the Spark job group to
``<workload>:<op>:<layer>`` so the jobs it launches can be attributed.

Spark jobs and tasks come from the session's event log, which the traced
run enables and this module parses after the session stops: job submit
and completion times, job group, and per task its run time, shuffle
bytes written and bytes spilled.

A span's self time is its duration minus the part of it that its
children cover (the union of their intervals, since Spark runs some jobs
concurrently).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import statistics
import sys
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    kind: str  # pass, op, build, plan, exec, job, or a layer name
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# (module, attribute, layer kind) pairs the tracer wraps
LAYER_CALLS = [
    ("dwh_with_dask_spark.catalog", "load_table", "catalog"),
    ("dwh_with_dask_spark.sources.excel", "read_excel_sheet", "sources"),
    ("dwh_with_dask_spark.sources.excel", "lookup_cell", "sources"),
    ("dwh_with_dask_spark.sources.pdf", "pdf_pages", "sources"),
    ("dwh_with_dask_spark.versioned", "versioned_commit", "versioned.commit"),
    ("dwh_with_dask_spark.versioned", "versioned_merge", "versioned.merge"),
    ("dwh_with_dask_spark.versioned", "versioned_delete", "versioned.delete"),
    ("dwh_with_dask_spark.versioned", "optimize_versioned", "versioned.optimize"),
    ("dwh_with_dask_spark.versioned", "read_version", "versioned.read"),
]


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = "setup"
        self._saved: list[tuple[object, str, object]] = []
        self.live_rdds: list[int] = []  # persisted RDDs left after each op
        self.peak_storage = 0  # bytes held by persisted RDDs, sampled at releases and op ends
        self._phases: list[tuple[Span, object]] = []  # plan spans whose tracker is read after the op

    # -- spans ------------------------------------------------------------
    def begin(self, name: str, kind: str, group: str | None = None) -> Span:
        s = Span(len(self.spans), name, kind, time.time(),
                 parent=self._stack[-1] if self._stack else None, group=group)
        self.spans.append(s)
        self._stack.append(s.sid)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    def _set_group(self, group: str | None) -> str | None:
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, group)
        return prev

    def _open(self, name: str, kind: str) -> tuple[Span, str | None]:
        group = f"{self.workload}:{self._op}:{kind}"
        return self.begin(name, kind, group), self._set_group(group)

    def _close(self, s: Span, prev: str | None) -> None:
        self._set_group(prev)
        self.end(s)

    def span(self, name: str, kind: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span whose jobs carry its job group."""
        s, prev = self._open(name, kind)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(s, prev)

    def set_op(self, op: str) -> None:
        self._op = op

    def plan(self, df) -> None:
        """Plan ``df`` inside a ``plan`` span; ``after_op`` adds the Catalyst
        phase times of ``queryExecution().tracker()`` to it."""
        s, prev = self._open("plan", "plan")
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        finally:
            self._close(s, prev)
        self._phases.append((s, qe))

    def _storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def after_op(self) -> None:
        """After an op, outside its span: the plan phase times, persisted
        RDDs still alive, and storage in use."""
        for s, qe in self._phases:
            phases = qe.tracker().phases().iterator()
            while phases.hasNext():
                kv = phases.next()
                s.attrs[f"{kv._1()}_ms"] = kv._2().durationMs()
        self._phases.clear()
        self.peak_storage = max(self.peak_storage, self._storage_bytes())
        self.live_rdds.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- wrapping ---------------------------------------------------------
    def _replace(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from dwh_with_dask_spark.operators import caching

        for modname, attr, kind in LAYER_CALLS:
            orig = getattr(importlib.import_module(modname), attr)
            wrapped = self._wrap(orig, f"{modname.rsplit('.', 1)[-1]}.{attr}", kind)
            # engine modules that did ``from X import f`` hold their own binding
            for name, mod in list(sys.modules.items()):
                if name.startswith("dwh_with_dask_spark") and getattr(mod, attr, None) is orig:
                    self._replace(mod, attr, wrapped)
        for attr in ("persist", "release"):
            orig = getattr(caching.CacheScope, attr)
            self._replace(caching.CacheScope, attr, self._wrap(orig, f"CacheScope.{attr}", "caching"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "CacheScope.release":
                tracer.peak_storage = max(tracer.peak_storage, tracer._storage_bytes())
            s, prev = tracer._open(name, kind)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(s, prev)
            if kind == "versioned.read" and (kwargs.get("prune") or kwargs.get("prune_eq")):
                table = args[1] if len(args) > 1 else kwargs["table"]
                s.attrs.update(tracer._prune_counts(table, kwargs))
            elif kind in ("versioned.merge", "versioned.delete") and isinstance(out, dict):
                s.attrs.update({k: out.get(k, 0) for k in ("dirs_kept", "dirs_rewritten")})
            return out

        return wrapper

    @staticmethod
    def _prune_counts(table: str, kwargs: dict) -> dict:
        from dwh_with_dask_spark import versioned

        version = kwargs.get("version")
        kept = versioned.manifest_dirs(table, version, kwargs.get("prune"), kwargs.get("prune_eq"))
        return {"dirs_scanned": len(kept), "dirs_total": len(versioned.manifest_dirs(table, version))}

    # -- Spark jobs from the event log -----------------------------------
    def attach_jobs(self, eventlog_dir: str) -> None:
        """Parse the event log and add one ``job`` span per Spark job,
        parented to the innermost span with its job group that was open
        when the job was submitted. Jobs without a traced group (setup,
        untraced passes) are dropped."""
        jobs, stage_job, tasks = {}, {}, {}
        for path in glob.glob(f"{eventlog_dir}/*"):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(JOB_GROUP)
                        if group and group.startswith(self.workload + ":"):
                            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "group": group}
                            for st in ev.get("Stage IDs", []):
                                stage_job[st] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        tasks.setdefault(ev["Stage ID"], []).append((
                            m.get("Executor Run Time", 0) / 1e3,
                            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            m.get("Disk Bytes Spilled", 0),
                        ))
        by_group: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.group:
                by_group.setdefault(s.group, []).append(s)
        stages_of: dict[int, list[int]] = {}
        for st, jid in stage_job.items():
            stages_of.setdefault(jid, []).append(st)
        for jid, j in sorted(jobs.items()):
            cands = [s for s in by_group.get(j["group"], [])
                     if s.start - 0.002 <= j["start"] <= s.end + 0.002]
            if not cands:
                continue
            parent = max(cands, key=lambda s: s.start)
            stage_tasks = [tasks.get(st, []) for st in stages_of.get(jid, [])]
            run = [t[0] for ts in stage_tasks for t in ts]
            span = Span(len(self.spans), f"job{jid}", "job", j["start"],
                        max(j.get("end", j["start"]), j["start"]), parent.sid, j["group"])
            span.attrs = {
                "tasks": len(run),
                "task_s": sum(run),
                "shuffle_bytes": sum(t[1] for ts in stage_tasks for t in ts),
                "spill_bytes": sum(t[2] for ts in stage_tasks for t in ts),
                "skew": [(max(x[0] for x in ts), statistics.median(x[0] for x in ts))
                         for ts in stage_tasks if len(ts) > 1],
            }
            self.spans.append(span)

    # -- self times --------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.sid: s.dur - covered([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
            for s in self.spans
        }

    def children_cover(self, s: Span, kind: str) -> float:
        return covered([(c.start, c.end) for c in self.spans
                         if c.parent == s.sid and c.kind == kind], s.start, s.end)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        # Spark jobs can overlap, so their share is the union of their intervals
        by_kind: dict[str, float] = {"job": 0.0}
        for s in self.spans:
            by_kind["job"] += self.children_cover(s, "job")
            if s.kind != "job":
                by_kind[s.kind] = by_kind.get(s.kind, 0.0) + selfs[s.sid]
        with open(path, "w") as f:
            json.dump({
                **extra,
                "self_s_by_kind": by_kind,
                "spans": [{"id": s.sid, "name": s.name, "kind": s.kind, "start": s.start,
                           "end": s.end, "parent": s.parent, "group": s.group,
                           "self_s": selfs[s.sid], **({"attrs": s.attrs} if s.attrs else {})}
                          for s in self.spans],
            }, f)
