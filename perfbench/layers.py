"""Per-layer table: joins the spans of a traced run with the Spark jobs
the event log attributes to them. Every figure is per operation (per
request on serve_lookup), so runs of different lengths compare."""

from __future__ import annotations

from eventlog import Job
from spans import Span, covered, outermost_per_layer, self_times

LAYERS = ("io", "sql", "features", "model", "pipeline", "llmops")
MB = 1024.0 * 1024.0


def per_layer(spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    by_id = {s.span_id: s for s in spans}
    roots = [s for s in spans if s.layer == "op"]
    n_ops = max(1, len(roots))
    jobs = [j for j in jobs if j.span_id in by_id]
    selfs = self_times(spans)
    outer = {s.span_id for s in outermost_per_layer(spans)}

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        ljobs = [j for j in jobs if by_id[j.span_id].layer == layer]
        listed = sum(len(j.stages) for j in ljobs)
        run = sum(j.stages_run for j in ljobs)
        out.update({
            f"{layer}.calls": len(mine) / n_ops,
            f"{layer}.wall_s": sum(
                s.end - s.start for s in mine if s.span_id in outer) / n_ops,
            f"{layer}.self_s": sum(selfs[s.span_id] for s in mine) / n_ops,
            f"{layer}.jobs": len(ljobs) / n_ops,
            f"{layer}.task_s": sum(j.task_s for j in ljobs) / n_ops,
            f"{layer}.shuffle_write_mb":
                sum(j.shuffle_write_bytes for j in ljobs) / MB / n_ops,
            f"{layer}.spill_mb": sum(j.spill_bytes for j in ljobs) / MB / n_ops,
            f"{layer}.tasks_failed": sum(j.tasks_failed for j in ljobs) / n_ops,
            f"{layer}.stages_skipped_share": 1.0 - run / listed if listed else 0.0,
        })

    root_of = {}
    for s in spans:
        r = s
        while r.parent is not None:
            r = by_id[r.parent]
        root_of[s.span_id] = r.span_id
    intervals: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        intervals.setdefault(root_of[j.span_id], []).append((j.start, j.end))
    out["driver.self_s"] = sum(
        (r.end - r.start) - covered(intervals.get(r.span_id, []), r.start, r.end)
        for r in roots
    ) / n_ops

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def jobs_of(name: str) -> list[Job]:
        return [j for j in jobs if by_id[j.span_id].name == name]

    lookups = named("io.point_lookup")
    lookup_jobs = jobs_of("io.point_lookup")
    out["io.lookup_jobs"] = len(lookup_jobs) / len(lookups) if lookups else 0.0
    out["io.lookup_rows_read"] = (
        sum(j.records_read for j in lookup_jobs) / len(lookups) if lookups else 0.0
    )
    fits = named("model.train_als")
    out["model.als_fits"] = len(fits) / n_ops
    out["model.als_fit_s"] = sum(s.end - s.start for s in fits) / n_ops
    out["model.topk_s"] = sum(
        s.end - s.start for s in named("model.recommend_topk")) / n_ops
    # Each connected-components round ends in one count action (one SQL
    # execution); one more action materializes the edge list first.
    cc = named("llmops.connected_components")
    executions = {j.sql_execution for j in jobs_of("llmops.connected_components")
                  if j.sql_execution is not None}
    out["llmops.cc_iterations"] = max(0, len(executions) - len(cc)) / n_ops
    return out
