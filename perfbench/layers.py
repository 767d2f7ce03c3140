"""Per-layer metrics of a traced run: the recorded spans joined with the
jobs and stages the event log attributes to each span's job group.

Every layer gets the common set (wall, self, executor CPU, task time,
jobs, shuffle, spill, task skew, rows out); some add extras.  A layer the
workload bypasses reports zeros.  Jobs belong to the span that was open
when they were submitted, so a lazy layer whose work runs inside a later
span shows up there; the span tree lists each span's top stages with the
physical operators they ran to make that visible.  The one exception is a
checkpoint stage: its jobs materialize the layer it wraps, so they count
for that layer as well as for ``checkpoint``.
"""

from __future__ import annotations

from perfbench.eventlog import EventLog, covered_s
from perfbench.trace import LAYERS, Span

COMMON = (("wall_s", "s", "lower"), ("self_s", "s", "lower"), ("cpu_s", "s", "lower"),
          ("task_s", "s", "lower"), ("jobs", "count", "lower"), ("shuffle_mb", "MB", "lower"),
          ("spill_mb", "MB", "lower"), ("task_skew", "ratio", "lower"),
          ("rows_out", "rows", "lower"))
EXTRAS = (("exact_dup.collapse", "ratio", "lower"),
          ("candidates.per_row", "ratio", "lower"),
          ("candidates.skipped_buckets", "count", "lower"),
          ("verify.survivor_frac", "fraction", "lower"),
          ("verify.dup_yield", "fraction", "higher"),
          ("checkpoint.write_mb", "MB", "lower"),
          ("streaming.read_rows_per_batch", "rows", "lower"),
          ("streaming.state_mb", "MB", "lower"),
          ("streaming.state_files", "count", "lower"),
          ("pipeline.driver_gap_s", "s", "lower"),
          ("pipeline.trace_overhead_s", "s", "lower"))


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    return [(f"{layer}.{m}", unit, better) for layer in LAYERS
            for m, unit, better in COMMON] + list(EXTRAS)


def _self_s(span: Span, children: list[Span]) -> float:
    return (span.end - span.start) - covered_s(
        [(c.start, c.end) for c in children], span.start, span.end)


def _children(spans: list[Span]) -> dict[int | None, list[Span]]:
    kids: dict[int | None, list[Span]] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    return kids


def _descendant_groups(span: Span, kids: dict[int, list[Span]]) -> set[str]:
    groups, todo = set(), [span]
    while todo:
        sp = todo.pop()
        groups.add(sp.group)
        todo.extend(kids.get(sp.id, []))
    return groups


def _credited_groups(layer: str, spans: list[Span], kids: dict) -> set[str]:
    """Job groups whose work counts for ``layer``: its own spans', and each
    checkpoint span whose only child layer is ``layer``."""
    groups = {sp.group for sp in spans if sp.layer == layer}
    for sp in spans:
        if sp.layer == "checkpoint" and {c.layer for c in kids.get(sp.id, [])} == {layer}:
            groups.add(sp.group)
    return groups


def layer_metrics(spans: list[Span], log: EventLog, n_rows: int, dup_pairs: int,
                  trace_overhead_s: float, state: tuple[float, int] = (0.0, 0)) -> dict:
    kids = _children(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        ss = [sp for sp in spans if sp.layer == layer]
        groups = _credited_groups(layer, spans, kids)
        stages = log.stages_in(groups)
        out[f"{layer}.wall_s"] = sum(sp.end - sp.start for sp in ss)
        out[f"{layer}.self_s"] = sum(_self_s(sp, kids.get(sp.id, [])) for sp in ss)
        out[f"{layer}.cpu_s"] = sum(st.cpu_ns for st in stages) / 1e9
        out[f"{layer}.task_s"] = sum(st.run_ms for st in stages) / 1e3
        out[f"{layer}.jobs"] = len(log.jobs_in(groups))
        out[f"{layer}.shuffle_mb"] = sum(st.shuffle_write for st in stages) / 1e6
        out[f"{layer}.spill_mb"] = sum(st.spill for st in stages) / 1e6
        out[f"{layer}.task_skew"] = max(stages, key=lambda st: st.run_ms).skew if stages else 0.0
        out[f"{layer}.rows_out"] = sum(sp.counts[0] for sp in ss if sp.counts)

    def layer(name):
        return [sp for sp in spans if sp.layer == name]

    dedup = layer("exact_dup")
    out["exact_dup.collapse"] = dedup[0].counts[0] / n_rows if dedup and dedup[0].counts else 0.0
    cands = out["candidates.rows_out"]
    out["candidates.per_row"] = cands / n_rows
    out["candidates.skipped_buckets"] = sum(sp.counts[1] for sp in layer("candidates")
                                            if len(sp.counts) > 1)
    out["verify.survivor_frac"] = out["verify.rows_out"] / cands if layer("verify") and cands else 0.0
    out["verify.dup_yield"] = dup_pairs / cands if layer("verify") and cands else 0.0
    out["checkpoint.write_mb"] = sum(
        st.bytes_written for st in log.stages_in({sp.group for sp in layer("checkpoint")})) / 1e6
    batches = layer("streaming")
    read = sum(st.records_read for sp in batches
               for st in log.stages_in(_descendant_groups(sp, kids)))
    out["streaming.read_rows_per_batch"] = read / len(batches) if batches else 0.0
    out["streaming.state_mb"], out["streaming.state_files"] = state
    out["pipeline.driver_gap_s"] = sum((sp.end - sp.start) - log.busy_s(sp.start, sp.end)
                                       for sp in layer("pipeline"))
    out["pipeline.trace_overhead_s"] = trace_overhead_s
    return out


def span_tree(spans: list[Span], log: EventLog, top: int = 3) -> list[dict]:
    """One record per span with its top stages by executor CPU and the
    physical operators each ran."""
    kids = _children(spans)
    t0 = spans[0].start if spans else 0.0
    tree = []
    for sp in spans:
        stages = sorted(log.stages_in({sp.group}), key=lambda st: -st.cpu_ns)
        tree.append({
            "id": sp.id, "parent": sp.parent, "layer": sp.layer, "detail": sp.detail,
            "start_s": round(sp.start - t0, 3), "wall_s": round(sp.end - sp.start, 3),
            "self_s": round(_self_s(sp, kids.get(sp.id, [])), 3),
            "jobs": len(log.jobs_in({sp.group})), "rows_out": sp.counts,
            "top_stages": [{"stage": st.id, "cpu_s": round(st.cpu_ns / 1e9, 3),
                            "task_s": round(st.run_ms / 1e3, 3), "tasks": len(st.task_ms),
                            "operators": st.operators} for st in stages[:top]],
        })
    return tree
