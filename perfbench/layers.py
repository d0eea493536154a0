"""Per-layer metrics of a traced run.

Every workload reports every metric; a layer the workload does not
exercise reads 0 (for example ``pipeline.*`` on ``stream_monitor``).
Times and job counts of a span name are totals over the run.
README.md maps each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

from .measure import percentile
from .tracing import COUNTED_SPANS, COUNTERS, attribute_jobs, span_counters, subtree

CODECS = ("pcm_s16le", "flac", "opus", "wav")
STREAM_QUERIES = ("validate", "drift")
STREAM_FIELDS = ("trigger_ms_p50", "trigger_ms_p90", "addbatch_ms_p50", "overhead_ms_p50", "rows_per_batch")

_COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "task_skew": "ratio",
}

# (name, unit, better) — the per_layer list of BENCHMARK.json, in order
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("pipeline.group_s_p50", "s", "lower"),
        ("pipeline.group_s_max", "s", "lower"),
        ("pipeline.jobs_per_group", "count", "lower"),
        ("pipeline.tail_s", "s", "lower"),
        ("pipeline.files_written", "count", "lower"),
        ("pipeline.bytes_written", "bytes", "lower"),
        ("checks.audio.call_s", "s", "lower"),
        ("checks.audio.jobs", "count", "lower"),
        ("checks.stats.profile_s", "s", "lower"),
        ("drift.distribution_drift_s", "s", "lower"),
    ]
    + [(f"codecs.decode_mb_per_s.{c}", "MB/s", "higher") for c in CODECS]
    + [("codecs.udf_bytes_sent", "bytes", "lower"), ("codecs.udf_rows_returned", "count", "lower")]
    + [
        (f"streaming.{q}.{f}", "rows" if f == "rows_per_batch" else "ms", "lower")
        for q in STREAM_QUERIES
        for f in STREAM_FIELDS
    ]
    + [("streaming.backlog_files_max", "count", "lower"), ("streaming.gen_late_ms_max", "ms", "lower")]
    + [(f"spark.{s}.{c}", _COUNTER_UNITS[c], "lower") for s in COUNTED_SPANS for c in COUNTERS]
)


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def layer_metrics(ctx, tracer, log: dict, session_start_s: float, decode: dict) -> dict:
    spans = [s for s in tracer.spans if s["end"] is not None]
    job_span = attribute_jobs(log, tracer)
    jobs = log["jobs"]
    m = {name: 0.0 for name, _u, _b in PER_LAYER}
    m["session.start_s"] = session_start_s

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    audio_ids = {s["id"] for s in named("checks.audio")}
    m.update({
        "checks.audio.call_s": _dur(named("checks.audio")),
        "checks.audio.jobs": sum(1 for sid in job_span.values() if sid in audio_ids),
        "checks.stats.profile_s": _dur(named("checks.stats.profile")),
        "drift.distribution_drift_s": _dur(named("drift.distribution_drift")),
    })
    c = ctx.validate_call  # the last complete, measured call
    if c:
        ids = subtree(spans, {c["span_id"]})
        tail_from = min(
            (s["start"] for s in named("checks.stats.profile") if s["id"] in ids), default=c["end"]
        )
        in_groups = sum(
            1 for j, sid in job_span.items() if sid in ids and jobs[j]["submit_ms"] / 1e3 < tail_from
        )
        m.update({
            "pipeline.group_s_p50": percentile(c["group_s"], 0.5),
            "pipeline.group_s_max": max(c["group_s"]),
            "pipeline.jobs_per_group": in_groups / len(c["group_s"]),
            "pipeline.tail_s": c["wall_s"] - sum(c["group_s"]),
            "pipeline.files_written": c["files_written"],
            "pipeline.bytes_written": c["bytes_written"],
        })

    for c in CODECS:
        m[f"codecs.decode_mb_per_s.{c}"] = decode.get(c, 0.0)
    every = span_counters(log, job_span, {s["id"] for s in spans})
    m["codecs.udf_bytes_sent"] = every["udf_bytes_sent"]
    m["codecs.udf_rows_returned"] = every["udf_rows_returned"]

    if ctx.stream_stats:
        for q in STREAM_QUERIES:
            for f in STREAM_FIELDS:
                m[f"streaming.{q}.{f}"] = ctx.stream_stats[q][f]
        m["streaming.backlog_files_max"] = ctx.stream_stats["backlog_files_max"]
        m["streaming.gen_late_ms_max"] = ctx.stream_stats["gen_late_ms_max"]

    for name in COUNTED_SPANS:
        ss = [s for s in spans if s["name"] == name]
        if not ss:
            continue
        cnt = span_counters(log, job_span, {s["id"] for s in ss})
        for c in COUNTERS:
            m[f"spark.{name}.{c}"] = cnt[c] if c == "task_skew" else cnt[c] / len(ss)
    return m
