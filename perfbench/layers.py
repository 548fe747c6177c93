"""Per-layer metrics of a traced pass, from the ``spans.Tracer`` tree."""

from __future__ import annotations

from spans import covered

# span kinds of the layers the tracer names, as opposed to the generic
# build/plan/exec phases of an op
NAMED_LAYERS = ("catalog", "sources", "versioned.", "caching")
VERSIONED = ("commit", "merge", "delete", "optimize", "read")


def _ancestors(spans, s):
    while s.parent is not None:
        s = spans[s.parent]
        yield s


def _top(spans, kind_prefix: str):
    """Spans of a layer that are not nested in a call of the same layer."""
    return [s for s in spans if s.kind.startswith(kind_prefix)
            and not any(a.kind.startswith(kind_prefix) for a in _ancestors(spans, s))]


def unattributed(tracer) -> dict[str, float]:
    """Per op: the share of its wall time that no layer's self time
    (or Spark job time) accounts for."""
    spans, selfs = tracer.spans, tracer.self_times()
    out = {}
    for op in (s for s in spans if s.kind == "op"):
        desc = [s for s in spans if s.kind != "job" and any(a.sid == op.sid for a in _ancestors(spans, s))]
        attributed = tracer.children_cover(op, "job") + sum(
            selfs[d.sid] + tracer.children_cover(d, "job") for d in desc)
        out[op.name] = abs(op.dur - attributed) / op.dur if op.dur > 0 else 0.0
    return out


def uncovered(tracer) -> dict[str, float]:
    """Per op: the share of its wall time inside neither a named layer's
    span nor a Spark job. Work that a layer wrapper misses lands here."""
    spans = tracer.spans
    out = {}
    for op in (s for s in spans if s.kind == "op"):
        inside = [(s.start, s.end) for s in spans
                  if (s.kind == "job" or s.kind.startswith(NAMED_LAYERS))
                  and any(a.sid == op.sid for a in _ancestors(spans, s))]
        out[op.name] = 1 - covered(inside, op.start, op.end) / op.dur if op.dur > 0 else 0.0
    return out


def metrics(tracer, session_start_s: float, overhead_s: float) -> dict[str, float]:
    spans, selfs = tracer.spans, tracer.self_times()
    jobs = [s for s in spans if s.kind == "job"]
    job_cover = sum(tracer.children_cover(s, "job") for s in spans)
    in_build = [s for s in spans if s.kind == "build" or any(a.kind == "build" for a in _ancestors(spans, s))]
    build_ids = {s.sid for s in in_build}
    build_jobs = [j for j in jobs if j.parent in build_ids]
    catalog = _top(spans, "catalog")
    task_s = sum(j.attrs["task_s"] for j in jobs)
    skew = [x for j in jobs for x in j.attrs["skew"] if x[1] > 0]
    weight = sum(mx for mx, _ in skew)
    out = {
        "session.start_s": session_start_s,
        "catalog.load_s": sum(s.dur for s in catalog),
        "catalog.calls": len(catalog),
        "catalog.inference_jobs": sum(1 for j in jobs if spans[j.parent].kind == "catalog"),
        "plans.build_py_s": sum(selfs[s.sid] for s in spans if s.kind == "build"),
        "plans.build_jobs": len(build_jobs),
        "plans.build_job_s": sum(tracer.children_cover(s, "job") for s in in_build),
        "spark.plan_s": sum(s.dur for s in spans if s.kind == "plan"),
        "spark.driver_gap_s": sum(selfs[s.sid] for s in spans if s.kind == "exec"),
        "spark.exec_s": job_cover,
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.attrs["tasks"] for j in jobs),
        "spark.task_s": task_s,
        "spark.busy_cores": task_s / job_cover if job_cover else 0.0,
        "spark.stage_skew": sum(mx * (mx / med) for mx, med in skew) / weight if weight else 0.0,
        "spark.shuffle_bytes": sum(j.attrs["shuffle_bytes"] for j in jobs),
        "spark.spill_bytes": sum(j.attrs["spill_bytes"] for j in jobs),
        "caching.persists": sum(1 for s in spans if s.name == "CacheScope.persist"),
        "caching.live_rdds_after_op": max(tracer.live_rdds, default=0),
        "caching.peak_storage_bytes": tracer.peak_storage,
        "sources.read_s": sum(s.dur for s in _top(spans, "sources")),
    }
    top_v = _top(spans, "versioned.")
    for k in VERSIONED:
        out[f"versioned.{k}_s"] = sum(s.dur for s in top_v if s.kind == f"versioned.{k}")
    rw = [s.attrs for s in top_v if "dirs_rewritten" in s.attrs]
    touched = sum(a["dirs_kept"] + a["dirs_rewritten"] for a in rw)
    out["versioned.dirs_rewritten_ratio"] = sum(a["dirs_rewritten"] for a in rw) / touched if touched else 0.0
    sc = [s.attrs for s in top_v if "dirs_total" in s.attrs]
    total = sum(a["dirs_total"] for a in sc)
    out["versioned.dirs_scanned_ratio"] = sum(a["dirs_scanned"] for a in sc) / total if total else 0.0
    out["trace.overhead_s"] = overhead_s
    out["trace.unattributed_share"] = max(unattributed(tracer).values(), default=0.0)
    ops = [s for s in spans if s.kind == "op"]
    share = uncovered(tracer)
    wall = sum(s.dur for s in ops)
    out["trace.uncovered_share"] = sum(share[s.name] * s.dur for s in ops) / wall if wall else 0.0
    return out
