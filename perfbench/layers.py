"""Per-layer metrics of a traced run, from the benchmark's spans, the
Spark event log and (for ``ingest_stream``) streaming progress.

Metric names follow the engine's modules: ``session``, ``catalog``,
``plans`` (the registry's query functions), ``operators`` (the Spark
stages the ops execute), ``streaming`` (``streaming.pipeline``),
``sources`` (the stream readers) and ``warehouse`` (the stores).
"""

from __future__ import annotations

import math
import os

from spans import (
    Job,
    Span,
    StageTotals,
    attribute_jobs,
    descendants,
    growth,
    median,
    parse_event_log,
    self_time,
)

MB = 1024.0 * 1024.0


def _dur(s: Span) -> float:
    return s.end - s.start


def _totals(jobs: list[Job], stages: dict[int, StageTotals]) -> StageTotals:
    out = StageTotals()
    for sid in {sid for j in jobs for sid in j.stages}:
        if sid in stages:
            out.add(stages[sid])
    return out


def _store_stats(paths: tuple[str, ...]) -> tuple[int, int]:
    """(bytes, parquet files) under the store directories."""
    size = files = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
    return size, files


def per_layer(
    spans: list[Span], first_measured: int, event_lines: list[str], drains: list[dict]
) -> dict[str, float]:
    """``spans[first_measured:]`` are the measured passes (set-up spans
    come before them); ``drains`` are the streaming drains of those
    passes."""
    jobs, stages = parse_event_log(event_lines)
    for j in jobs:
        if math.isnan(j.end):
            j.end = j.submit
    traced = spans[first_measured:]
    own = attribute_jobs(traced, jobs)

    def jobs_under(span: Span) -> list[Job]:
        return [j for i in descendants(traced, span.id) for j in own.get(i, [])]

    def first(name: str, among: list[Span]) -> Span | None:
        return next((s for s in among if s.name == name), None)

    v: dict[str, float] = {}
    v["session.start_s"] = _dur(first("session.get_spark", spans))
    v["session.warm_s"] = _dur(first("session.warm", spans))
    load = first("catalog.load_tables", traced)
    if load is not None:
        v["catalog.load_s"] = _dur(load)

    passes = [s for s in traced if s.name == "pass"]
    pass_jobs = [j for p in passes for j in jobs_under(p)]
    tot = _totals(pass_jobs, stages)
    v.update(
        {
            "operators.jobs": len(pass_jobs),
            "operators.tasks": tot.tasks,
            "operators.task_mean_ms": tot.run_ms / tot.tasks if tot.tasks else 0.0,
            "operators.run_s": tot.run_ms / 1e3,
            "operators.cpu_s": tot.cpu_ns / 1e9,
            "operators.gc_s": tot.gc_ms / 1e3,
            "operators.shuffle_read_mb": tot.shuffle_read / MB,
            "operators.shuffle_write_mb": tot.shuffle_write / MB,
            "operators.spill_mb": tot.spill / MB,
        }
    )

    per_op: dict[str, dict[str, list[float]]] = {}
    pass_ids = {i for p in passes for i in descendants(traced, p.id)}
    for s in traced:
        if not (s.name.startswith("op.") and s.id in pass_ids):
            continue
        q = s.name[3:]
        kids = {k.name: k for k in traced if k.parent == s.id}
        build = kids.get(f"plans.{q}.build")
        action = kids.get(f"plans.{q}.action")
        if build is None or action is None:
            continue
        b_jobs = own[build.id]
        op_tot = _totals(jobs_under(s), stages)
        m = per_op.setdefault(q, {})
        for key, val in (
            ("build_s", _dur(build)),
            ("build_py_s", self_time(build.start, build.end, [(j.submit, j.end) for j in b_jobs])),
            ("build_jobs", len(b_jobs)),
            ("action_s", _dur(action)),
            ("tasks", op_tot.tasks),
            ("cpu_s", op_tot.cpu_ns / 1e9),
        ):
            m.setdefault(key, []).append(val)
    for q, m in per_op.items():
        for key, vals in m.items():
            v[f"plans.{q}.{key}"] = median(vals)

    if drains:
        batches = [b for d in drains for b in d["batches"]]
        lat = [b["trigger_ms"] / 1e3 for b in batches]
        v["streaming.prices.batch_p50_s"] = median(lat)
        v["streaming.engine_s"] = median([(b["trigger_ms"] - b["add_ms"]) / 1e3 for b in batches])
        steady = []
        for d in drains:
            skip = {0, d["backlog"].late, d["backlog"].redelivered}
            steady += [b["trigger_ms"] / 1e3 for i, b in enumerate(d["batches"]) if i not in skip]
        v["streaming.prices.growth"] = growth(steady)
        staged_rows = sum(d["backlog"].rows for d in drains)
        staged_bytes = sum(d["backlog"].bytes for d in drains)
        v["sources.rescan_ratio"] = sum(b["rows"] for b in batches) / staged_rows
        v["warehouse.write_amp"] = tot.output_bytes / staged_bytes
        size, files = _store_stats(drains[-1]["stores"])
        v["warehouse.space_amp"] = size / drains[-1]["backlog"].bytes
        v["warehouse.store_files"] = files
    return v
