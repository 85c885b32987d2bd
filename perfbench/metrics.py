"""The metric names BENCHMARK.json declares, and their values for one run.

Every run reports every declared metric of its kind, so the same names
come out of every workload. A per-layer metric a workload never
exercises reads 0 (no batches, no POSTs, no such key); the end-to-end
metrics are defined for every workload and are never 0.
"""

from __future__ import annotations

import statistics

from . import sparkstats
from .batch import WORKLOADS as BATCH_KEYS
from .spans import self_times

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_geomean_s", "s"),
]

LAYERS = [
    "operators.tpch", "operators.dedup", "operators.similarity", "operators.text",
    "operators.multimodal", "streaming.queries", "streaming.core", "sources.webhook",
]

WEBHOOK = [
    ("webhook.ack_p50_ms", "ms"), ("webhook.ack_p99_ms", "ms"),
    ("webhook.fresh_p50_s", "s"), ("webhook.fresh_p99_s", "s"),
    ("webhook.sustained_posts_per_s", "posts/s"),
    ("webhook.ack_p99_ms.r250", "ms"), ("webhook.ack_p99_ms.r2000", "ms"),
    ("webhook.fresh_p99_s.r250", "s"), ("webhook.fresh_p99_s.r2000", "s"),
    ("webhook.accepted", "count"), ("webhook.rejected_429", "count"),
    ("webhook.errors", "count"), ("webhook.gen_late_p99_ms", "ms"),
    ("webhook.backlog_max", "count"), ("webhook.backlog_slope_per_s", "1/s"),
    ("webhook.rows_per_batch", "count"), ("webhook.deliver_ms", "ms"),
    ("webhook.deliver_retries", "count"),
]

PER_LAYER = (
    [("session.build_s", "s"), ("registry.collect_s", "s"), ("io.replay_dir_s", "s")]
    + [("op.call_s", "s"), ("op.topandas_s", "s"), ("op.plan_s", "s")]
    + [(f"op.{k}.wall_s", "s") for keys in BATCH_KEYS.values() for k in keys]
    + [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"), ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.task_skew", "ratio"),
    ]
    + [("streaming.batches", "count")]
    + [(f"streaming.batch_ms.{ph}", "ms") for ph in sparkstats.BATCH_PHASES]
    + [
        ("streaming.state.commit_ms", "ms"), ("streaming.state.rows_total", "count"),
        ("streaming.state.memory_mb", "MB"),
        ("streaming.state.rows_dropped_by_watermark", "count"),
    ]
    + WEBHOOK
    + [
        ("session.persisted_rdds_end", "count"), ("session.tables_end", "count"),
        ("session.stream_result_tables_end", "count"),
        ("streaming.core.ckpt_bytes_end", "bytes"), ("session.jvm_peak_rss_mb", "MB"),
    ]
    + [(f"self_s.{layer}", "s") for layer in LAYERS]
    + [
        ("self_s.unattributed", "s"), ("trace.coverage", "fraction"),
        ("trace.overhead_s", "s"), ("gate.error_rate", "fraction"),
    ]
)


def _fill(spec, values: dict) -> dict:
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in spec}


def end_to_end(ctx, result: dict) -> dict:
    return _fill(END_TO_END, {
        "setup_s": ctx.setup_s,
        "pass_s": result["pass_s"],
        "query_geomean_s": result["query_geomean_s"],
    })


def per_layer(ctx, result: dict) -> dict:
    v: dict[str, float] = {
        "session.build_s": ctx.layer_s.get("session", 0.0),
        "registry.collect_s": ctx.layer_s.get("registry", 0.0),
        "io.replay_dir_s": ctx.layer_s.get("io", 0.0),
        "gate.error_rate": len(result["failures"]) / max(result["attempted"], 1),
    }
    v.update({f"op.{k}": s for k, s in result.get("op", {}).items()})
    v.update({f"op.{k}.wall_s": s for k, s in result.get("key_median_s", {}).items()})
    v.update(result.get("webhook", {}))

    traced = [p for p in ctx.passes if p.traced]
    windows = [(p.start, p.end) for p in traced]
    log_dir = ctx.eventlog_dir
    if log_dir:
        v.update(sparkstats.eventlog(log_dir, windows, len(traced)))
    if ctx.progress is not None:
        v.update(sparkstats.batch_metrics(ctx.progress.batches(windows), len(traced)))

    if ctx.counters:
        end = ctx.counters[-1]
        v["session.persisted_rdds_end"] = end["persisted_rdds"]
        v["session.tables_end"] = end["tables"]
        v["session.stream_result_tables_end"] = end["stream_result_tables"]
        v["streaming.core.ckpt_bytes_end"] = end["ckpt_bytes"]
        v["session.jvm_peak_rss_mb"] = max(c["jvm_hwm_mb"] for c in ctx.counters)

    if traced:
        own = self_times(ctx.tracer.spans, {p.span for p in traced})
        n = len(traced)
        wall = sum(p.wall for p in traced)
        for layer, s in own.items():
            v[f"self_s.{layer}"] = s / n
        v["trace.coverage"] = 1.0 - own.get("unattributed", 0.0) / wall
        untraced = [p.wall for p in ctx.passes if not p.traced]
        if untraced:
            v["trace.overhead_s"] = (
                statistics.median(p.wall for p in traced) - statistics.median(untraced)
            )
    return _fill(PER_LAYER, v)
