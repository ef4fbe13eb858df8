"""Result lines of the lake benchmark.

The last stdout line is the contract line: ``correct``, ``attempted``,
``failed`` and ``metrics``, where ``metrics`` holds the end-to-end
metrics of ``BENCHMARK.json`` (untraced run) or its per-layer metrics
(traced run), each as ``{"value", "unit"}``. The line before it is the
full report: every end-to-end metric that applies to the workload, the
per-layer table, per-op medians and the host configuration.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench.trace import attribute_jobs, executor_metrics, read_event_log, read_udf_profiles

# End-to-end metrics the contract line carries: those every workload
# reports and that repeat across runs. op_p50_s (a median over a mix of
# four to nine distinct ops; it spread 14-58% over ten runs of the same
# code), op_tail_s (too few warm samples per run for a percentile with
# ten beyond it above the median) and the workload-specific ones are on
# the report line only.
CONTRACT_E2E = ["setup_s", "cold_pass_s", "ops_per_s", "peak_rss_mb"]
UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "error_ratio": "ratio",
    "etl_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "stream_lag_p50_s": "s",
    "stream_lag_tail_s": "s",
}

# Every per-layer metric of a traced run, with its unit.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "catalog.load_tables_s": "s",
    "catalog.register_s": "s",
    "catalog.write_version_s": "s",
    "operators.frame_build_s": "s",
    "operators.frame_jobs": "count",
    "planner.plan_s": "s",
    "sink.execute_s": "s",
    "kv.lookup_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.tasks": "count",
    "executor.slot_util": "ratio",
    "executor.task_skew": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "scan.bytes_read": "bytes",
    "scratch.builds": "count",
    "scratch.hits": "count",
    "scratch.hit_ratio": "ratio",
    "scratch.bytes_written": "bytes",
    "scratch.build_s": "s",
    "udf.python_s": "s",
    "udf.calls": "count",
    "crawler.crawl_s": "s",
    "crawler.jobs": "count",
    "etl.job_s": "s",
    "etl.bytes_written": "bytes",
    "etl.files_written": "count",
    "etl.input_scans": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "count",
    "generator.late_s": "s",
}
# Per-layer metrics the contract line carries: those both workloads
# measure, plus the counts that show a layer bypassed. A bypassed
# layer's time would read exactly 0 on every run, so the times of
# single-workload layers stay on the report line.
CONTRACT_LAYERS = [
    "session.get_spark_s",
    "session.first_job_s",
    "catalog.load_tables_s",
    "operators.frame_build_s",
    "operators.frame_jobs",
    "planner.plan_s",
    "sink.execute_s",
    "executor.run_s",
    "executor.cpu_s",
    "executor.tasks",
    "executor.slot_util",
    "executor.task_skew",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.spill_bytes",
    "scan.bytes_read",
    "scratch.builds",
    "scratch.hits",
    "scratch.bytes_written",
    "udf.calls",
    "crawler.jobs",
    "etl.files_written",
    "etl.bytes_written",
    "streaming.batches",
]


def layer_metrics(run) -> dict[str, float]:
    """Per-layer metrics of a traced run. Op layers are per warm round
    (one pass over the mix); scratch, UDF, crawler, ETL, catalog writes
    and streaming are totals over the run."""
    tr = run.tracer
    spans = tr.spans
    by_id = {s.sid: s for s in spans}
    rounds = max(1, run.warm_rounds)

    def enclosing(s, names):
        while s is not None:
            if s.name in names:
                return s
            s = by_id.get(s.parent)
        return None

    def warm(s) -> bool:
        op = enclosing(s, {"op"})
        return op is not None and op.attrs.get("round", 0) >= 1

    def warm_sum(name: str) -> float:
        return sum(s.dur for s in tr.named(name) if warm(s)) / rounds

    m: dict[str, float] = {
        "session.get_spark_s": tr.named("session.get_spark")[0].dur,
        "session.first_job_s": tr.named("session.first_job")[0].dur,
        "catalog.load_tables_s": warm_sum("catalog.load_tables"),
        "catalog.register_s": sum(s.dur for s in tr.named("catalog.register")),
        "catalog.write_version_s": sum(s.dur for s in tr.named("catalog.write_version")),
        "operators.frame_build_s": warm_sum("operators.frame_build"),
        "planner.plan_s": warm_sum("planner.plan"),
        "sink.execute_s": warm_sum("sink.execute"),
        "kv.lookup_s": sum(
            s.dur for s in tr.named("op") if s.op == "federated_kv_lookup" and warm(s)
        )
        / rounds,
    }

    log = read_event_log(os.path.join(run.dir, "eventlog"))
    job_span = attribute_jobs(log, spans)
    stage_job = {st: j for j, (_, stages) in log.jobs.items() for st in stages}
    warm_jobs = {j for j, s in job_span.items() if warm(s)}
    m["operators.frame_jobs"] = (
        sum(1 for j in warm_jobs if enclosing(job_span[j], {"operators.frame_build"}))
        / rounds
    )
    warm_tasks = [t for t in log.tasks if stage_job.get(t.stage) in warm_jobs]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ex = executor_metrics(warm_tasks, cores, run.warm_wall)
    for k, v in ex.items():
        m[k] = v if k in ("executor.slot_util", "executor.task_skew") else v / rounds

    builds, hits = tr.named("scratch.build"), tr.named("scratch.hit")
    keyed = [s for s in builds if s.attrs.get("key") is not None]
    m["scratch.builds"] = len(builds)
    m["scratch.hits"] = len(hits)
    m["scratch.hit_ratio"] = len(hits) / (len(hits) + len(keyed)) if hits or keyed else 0.0
    m["scratch.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in builds)
    m["scratch.build_s"] = sum(s.dur for s in builds)
    m["udf.python_s"], m["udf.calls"] = read_udf_profiles(os.path.join(run.dir, "udf"))

    def jobs_under(name: str) -> list[int]:
        return [j for j, s in job_span.items() if enclosing(s, {name}) is not None]

    m["crawler.crawl_s"] = sum(s.dur for s in tr.named("crawler.crawl"))
    m["crawler.jobs"] = len(jobs_under("crawler.crawl"))
    etl = run.extra.get("etl", {})
    etl_jobs = set(jobs_under("etl.job"))
    m["etl.job_s"] = sum(s.dur for s in tr.named("etl.job"))
    m["etl.bytes_written"] = sum(etl.get(k, (0, 0))[0] for k in ("partitioned", "unpartitioned"))
    m["etl.files_written"] = sum(etl.get(k, (0, 0))[1] for k in ("partitioned", "unpartitioned"))
    scanned = sum(t.input_bytes for t in log.tasks if stage_job.get(t.stage) in etl_jobs)
    m["etl.input_scans"] = scanned / etl["tsv_bytes"] if etl else 0.0

    progress = getattr(run, "stream_progress", [])
    stream = run.extra.get("stream", {})

    def med(values) -> float:
        values = [v for v in values if v is not None]
        return statistics.median(values) if values else 0.0

    states = [p.stateOperators[0] for p in progress if p.stateOperators]
    m["streaming.batches"] = len(progress)
    m["streaming.trigger_ms"] = med(p.durationMs.get("triggerExecution") for p in progress)
    m["streaming.add_batch_ms"] = med(p.durationMs.get("addBatch") for p in progress)
    m["streaming.wal_commit_ms"] = med(p.durationMs.get("walCommit") for p in progress)
    m["streaming.commit_offsets_ms"] = med(p.durationMs.get("commitOffsets") for p in progress)
    m["streaming.state_rows"] = max((s.numRowsTotal for s in states), default=0)
    m["streaming.state_commit_ms"] = med(s.commitTimeMs for s in states)
    m["streaming.backlog_files_max"] = stream.get("backlog_files_max", 0)
    m["generator.late_s"] = stream.get("generator_late_s", 0.0)
    return m


def cold_self_times(run) -> dict[str, float]:
    """Self time per span name over the cold pass."""
    tr = run.tracer
    by_id = {s.sid: s for s in tr.spans}

    def in_cold(s) -> bool:
        while s is not None:
            if s.name == "op":
                return s.attrs.get("round") == 0
            s = by_id.get(s.parent)
        return False

    return tr.self_times(in_cold)


def summarise_trace(run) -> None:
    """Compute the per-layer table while the run's event log and UDF
    profiles still exist, and write the spans out."""
    run.layers = layer_metrics(run)
    run.cold_self = cold_self_times(run)
    run.self_times = run.tracer.self_times()
    traces = os.path.join(run.work, "traces")
    os.makedirs(traces, exist_ok=True)
    run.tracer.dump(os.path.join(traces, f"{run.args.workload}-seed{run.args.seed}.jsonl"))


def report(run) -> int:
    """Print the report line and the contract line; exit status 1 on
    any failed or wrong operation."""
    wl = run.args.workload
    e2e = run.metrics
    full = {
        "workload": wl,
        "trace": run.args.trace,
        "config": run.config(),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        **run.extra,
        "wall_s": time.perf_counter() - run.t_start,
        "failures": run.failures,
    }
    untraced = os.path.join(run.work, f"untraced-{wl}-sf{run.args.sf:g}.json")
    if run.tracer is None:
        contract = {k: e2e[k] for k in CONTRACT_E2E if k in e2e}
        with open(untraced, "w") as fh:
            json.dump({"metrics": e2e, "warm": run.extra.get("warm")}, fh)
    else:
        layers = run.layers
        full["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        full["self_time_cold_s"] = run.cold_self
        full["self_time_s"] = run.self_times
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            per_round = lambda r: r["wall_s"] / max(1, r["rounds"])  # noqa: E731
            full["trace_overhead_s"] = {
                "cold_pass": e2e["cold_pass_s"] - base["metrics"]["cold_pass_s"],
                "warm_round": per_round(run.extra["warm"]) - per_round(base["warm"]),
            }
        contract = {k: layers[k] for k in CONTRACT_LAYERS}
    print(json.dumps(full, default=str))
    units = LAYER_UNITS if run.tracer is not None else UNITS
    line = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in contract.items()},
    }
    print(json.dumps(line))
    sys.stdout.flush()
    return 1 if run.failures else 0
