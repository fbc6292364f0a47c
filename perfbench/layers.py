"""Per-layer metrics of a traced run, per traced warm pass."""

from __future__ import annotations

import json
import os
import statistics


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Executor run time, shuffle bytes written and GC time of the tasks
    of jobs whose job group is in ``groups`` (group ids carry a
    ``:build``/``:run``/``:etl`` phase suffix)."""
    stage_group: dict[int, str] = {}
    out = {"executor_run_s": 0.0, "shuffle_write_bytes": 0.0, "gc_s": 0.0}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if f.startswith("events"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g.rsplit(":", 1)[0])
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev.get("Stage ID")) not in groups:
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def per_layer_metrics(bench, traced_walls: list[float], plain_walls: list[float],
                      books: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics per traced pass; ``trace.overhead_s`` is the mean
    traced pass minus the mean warm pass of the untraced run."""
    tracer = bench.tracer
    groups = set(bench.op_jobs)
    n = len(traced_walls)
    spans = [s for s in tracer.spans if s["op"] in groups]
    layer = tracer.layer_times(groups)

    def total(lay: str) -> float:
        return layer.get(lay, {}).get("total", 0.0) / n

    def self_time(lay: str) -> float:
        return layer.get(lay, {}).get("self", 0.0) / n

    def named(lay: str, names) -> list[dict]:
        return [s for s in spans if s["layer"] == lay and s["name"] in names]

    def dur(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss) / n

    def job_sum(phases, field: str) -> float:
        return sum(rec[p][field] for rec in bench.op_jobs.values() for p in phases) / n

    cells = named("driverfit", {"driverfit.collect_cells"})
    hits = sum(1 for s in cells if s.get("hit"))
    prefix = named("windows", {"windows.global_prefix_sum", "windows.grouped_prefix_sum"})
    sinks = named("sinks", {"sinks.overwrite_table"})
    written = sum(s.get("bytes", 0) for s in sinks) / n
    book_bytes = sum(b["bytes"] for b in books.values())
    publishes = sum(1 for s in spans if s["layer"] == "op" and s["name"] == "publish") / n
    ev = event_log_totals(os.path.join(bench.run_dir, "eventlog"), groups)

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (bench.session_times["session.get_spark_s"], "s"),
        "session.first_scan_s": (bench.session_times["session.first_scan_s"], "s"),
        "entry.build_s": (dur(named("entry", {"build"})), "s"),
        "entry.run_s": (dur(named("entry", {"run"})), "s"),
        "entry.build_jobs": (job_sum(["build"], "jobs"), "count"),
        "entry.run_jobs": (job_sum(["run"], "jobs"), "count"),
        "spark.jobs": (job_sum(["build", "run", "etl"], "jobs"), "count"),
        "spark.stages": (job_sum(["build", "run", "etl"], "stages"), "count"),
        "spark.tasks": (job_sum(["build", "run", "etl"], "tasks"), "count"),
        "spark.failed_tasks": (job_sum(["build", "run", "etl"], "failed_tasks"), "count"),
        "spark.pinned_rdds": (max(r["pinned_rdds"] for r in bench.op_jobs.values()), "count"),
        "spark.executor_run_s": (ev["executor_run_s"] / n, "s"),
        "spark.shuffle_write_bytes": (ev["shuffle_write_bytes"] / n, "bytes"),
        "spark.gc_s": (ev["gc_s"] / n, "s"),
        "driverfit.collect_calls": (len(cells) / n, "count"),
        "driverfit.collect_s": (dur(cells), "s"),
        "driverfit.driver_hits": (hits / n, "count"),
        "driverfit.hit_ratio": (hits / len(cells) if cells else 0.0, "ratio"),
        "driverfit.rows_collected": (sum(s.get("rows", 0) for s in cells) / n, "count"),
        "windows.prefix_calls": (len(prefix) / n, "count"),
        "windows.prefix_s": (dur(prefix), "s"),
        "survival.self_s": (self_time("survival"), "s"),
        "stats.self_s": (self_time("stats"), "s"),
        "catalog.load_calls": (layer.get("catalog", {}).get("calls", 0) / n, "count"),
        "catalog.load_s": (total("catalog"), "s"),
        "excel.read_s": (total("excel"), "s"),
        "excel.rows_read": (sum(s.get("rows", 0) for s in spans if s["layer"] == "xlsx") / n,
                            "count"),
        "plans.process_s": (total("plans") - dur(named("plans", {"views"})), "s"),
        "plans.views_s": (dur(named("plans", {"views"})), "s"),
        "sinks.overwrite_s": (dur(sinks), "s"),
        "sinks.bytes_written": (written, "bytes"),
        "sinks.files_written": (sum(s.get("files", 0) for s in sinks) / n, "count"),
        "sinks.bytes_per_input_byte": (
            written / (book_bytes * publishes) if publishes else 0.0, "ratio"),
        "llm.dedup.self_s": (self_time("llm.dedup"), "s"),
        "llm.similarity.self_s": (self_time("llm.similarity"), "s"),
        "llm.curation.self_s": (self_time("llm.curation"), "s"),
        "llm.textstats.self_s": (self_time("llm.textstats"), "s"),
        "trace.overhead_s": (
            statistics.mean(traced_walls) - statistics.mean(plain_walls), "s"),
    }
    return m
