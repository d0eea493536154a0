"""The benchmark's workloads, each driving the package's public API.

Every workload fills the same end-to-end metrics (README.md says what
each means per workload) plus workload-specific named metrics, and
counts each output it checks in ``attempted`` / ``failed``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from llm_drift_detector_spark import codecs
from llm_drift_detector_spark.pipeline.runner import RunConfig, run_validation
from llm_drift_detector_spark.streaming import reference_profile, stream_drift, stream_validate
from llm_drift_detector_spark.streaming.validate_stream import CLIPS_DDL
from llm_drift_detector_spark.synth import SynthParams, expected_violations

from . import streamload
from .inputs import InputCache, parquet_parts
from .measure import dir_usage, median, percentile

SETUP_REPEATS = 3

VALIDATE_ROWS = 8_000
VALIDATE_FILES = 8

STREAM_ROWS_PER_FILE = 4
STREAM_BACKLOG_FILES = 120  # phase (a): cold availableNow drain
STREAM_RATE_FPS = 5        # phase (b): offered files/s for --seconds
# checks stream_validate cannot decide on one micro-batch
GLOBAL_ONLY_CHECKS = ("uniqueness", "referential_transcript_orphan")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)   # end-to-end, by BENCHMARK.json name
    named: dict = field(default_factory=dict)     # workload-specific: name -> (value, unit)
    prep_s: list = field(default_factory=list)
    validate_call: dict = field(default_factory=dict)
    stream_stats: dict = field(default_factory=dict)
    decode_sample: object = None                  # DataFrame of clean payloads

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def setup(self, prep):
        """Run the workload's table-open + static-side preparation
        SETUP_REPEATS times (median reported); returns the last result."""
        out = None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.span("session.prep"):
                out = prep()
            self.prep_s.append(time.perf_counter() - t0)
        return out

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)

    def scratch(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _pairs(expected: dict[str, set[str]], skip=()) -> set[tuple[str, str]]:
    return {(c, i) for c, ids in expected.items() if c not in skip for i in ids}


def _read_pairs(spark, path: str) -> list[tuple[str, str]]:
    return [
        (r.check_name, r.clip_id)
        for r in spark.read.parquet(path).select("check_name", "clip_id").collect()
    ]


# --- validate_batch -----------------------------------------------------------


def _validate_params(seed: int) -> SynthParams:
    return SynthParams(n_rows=VALIDATE_ROWS, seed=seed)


def validate_inputs(cache: InputCache, seed: int, _seconds: float) -> str:
    return cache.clips_set("validate", _validate_params(seed), VALIDATE_FILES)


def validate_batch(ctx: Context, d: str) -> None:
    p = _validate_params(ctx.seed)
    clips, transcripts, reference = ctx.setup(
        lambda: tuple(
            ctx.spark.read.parquet(os.path.join(d, t))
            for t in ("clips", "transcripts", "reference")
        )
    )
    ctx.decode_sample = reference
    expected = _pairs(expected_violations(p))

    def call(run_id: str, max_groups: int | None = None) -> dict:
        """One run_validation into a fresh out_dir; a complete call
        (``max_groups`` None) is checked."""
        out = ctx.scratch(run_id)
        cfg = RunConfig(run_id=run_id, out_dir=out)
        start = time.time()
        t0 = time.perf_counter()
        name = "pipeline.run_validation" if max_groups is None else "pipeline.warmup"
        with ctx.span(name) as span:
            summary = run_validation(ctx.spark, clips, transcripts, reference, cfg,
                                     max_groups=max_groups)
        wall = time.perf_counter() - t0
        if max_groups is None:
            found = _read_pairs(ctx.spark, os.path.join(out, "violations"))
            ctx.check(
                set(found) == expected and len(found) == len(expected),
                f"{run_id}: run_validation violations differ from the generator's planted set",
            )
            ctx.check(
                summary["rows_processed"] == p.n_rows,
                f"{run_id}: rows_processed {summary['rows_processed']} != {p.n_rows} clip rows",
            )
        files, size = dir_usage(out)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "wall_s": wall,
            "start": start,
            "end": start + wall,
            "group_s": [g["secs"] for g in summary["executed_groups"]],
            "files_written": files,
            "bytes_written": size,
            "span_id": span["id"] if span is not None else None,
        }

    # warm-up: the first bucket group in a fresh session carries the JVM's
    # class loading and code generation (about 3x a warm group).  Complete
    # calls follow until --seconds have passed since the warm-up began, and
    # at least one runs.
    t_warmup = time.perf_counter()
    cold = call("cold", max_groups=1)
    warm = [call("warm-0")]
    while time.perf_counter() - t_warmup < ctx.seconds:
        warm.append(call(f"warm-{len(warm)}"))
    ctx.validate_call = warm[-1]

    groups_ms = [g * 1e3 for c in warm for g in c["group_s"]]
    clips_per_s = median([p.n_rows / c["wall_s"] for c in warm])
    ctx.metrics.update(rows_per_s=clips_per_s, latency_ms_p50=percentile(groups_ms, 0.5))
    ctx.named.update(
        validate_group_ms_p90=(percentile(groups_ms, 0.9), "ms"),
        validate_cold_group_s=(cold["group_s"][0], "s"),
        validate_clips_per_s=(clips_per_s, "clips/s"),
        validate_warm_calls=(len(warm), "count"),
    )


# --- stream_monitor -----------------------------------------------------------


def _start_query(ctx: Context, span: str, fn, *args, **kwargs):
    """Call a ``stream_*`` entry point on a worker thread (availableNow
    queries block until drained); returns (thread, holder).  The span
    covers the call, so the static-side jobs it runs before the query
    exists are attributed too."""
    holder: dict = {}

    def target():
        try:
            with ctx.span(span):
                holder["query"] = fn(*args, **kwargs)
        except Exception as e:  # re-raised by the caller after join()
            holder["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    return t, holder


def _joined(t: threading.Thread, holder: dict):
    t.join()
    if "error" in holder:
        raise holder["error"]
    return holder["query"]


def _stream_layout(seed: int, seconds: float) -> tuple[SynthParams, int]:
    """(params, open-loop files): the backlog, then --seconds of files at
    STREAM_RATE_FPS."""
    n_files = STREAM_BACKLOG_FILES + int(STREAM_RATE_FPS * seconds)
    return SynthParams(n_rows=n_files * STREAM_ROWS_PER_FILE, seed=seed), n_files


def stream_inputs(cache: InputCache, seed: int, seconds: float) -> str:
    p, n_files = _stream_layout(seed, seconds)
    return cache.clips_set("stream", p, n_files)


def stream_monitor(ctx: Context, d: str) -> None:
    p, n_files = _stream_layout(ctx.seed, ctx.seconds)
    parts = parquet_parts(os.path.join(d, "clips"))
    if len(parts) != n_files:
        raise RuntimeError(f"stream input has {len(parts)} files, expected {n_files}")

    # pre-stage every file beside the source dir (same filesystem, so a
    # publish is an atomic rename)
    stage, src, out = ctx.scratch("stream-stage"), ctx.scratch("stream-src"), ctx.scratch("stream-out")
    os.makedirs(stage)
    os.makedirs(src)
    staged = []
    for i, part in enumerate(parts):
        dst = os.path.join(stage, f"clips-{i:05d}.parquet")
        shutil.copyfile(part, dst)
        staged.append(dst)
    backlog, live = staged[:STREAM_BACKLOG_FILES], staged[STREAM_BACKLOG_FILES:]

    def prep():
        transcripts = ctx.spark.read.parquet(os.path.join(d, "transcripts"))
        reference = ctx.spark.read.parquet(os.path.join(d, "reference"))
        return transcripts, reference, reference_profile(reference, "dur_ms")

    transcripts, reference, profile = ctx.setup(prep)
    ctx.decode_sample = reference

    def start_both(available_now: bool):
        return (
            _start_query(ctx, "streaming.validate.call", stream_validate, ctx.spark, src,
                         transcripts, reference, out, available_now=available_now),
            _start_query(ctx, "streaming.drift.call", stream_drift, ctx.spark, src, profile,
                         out, CLIPS_DDL, available_now=available_now),
        )

    def record(name: str, start: float, q) -> None:
        if ctx.tracer is not None:
            ctx.tracer.record(name, start, time.time(), query_id=q.id)

    # (a) cold drain of a landed backlog
    streamload.publish_now(backlog, src)
    start, t0 = time.time(), time.perf_counter()
    tv, td = start_both(available_now=True)
    record("streaming.validate", start, _joined(*tv))
    record("streaming.drift", start, _joined(*td))
    drain_s = time.perf_counter() - t0

    # (b) open loop at a fixed offered rate on an absolute schedule, both
    # queries continuous (they resume from the drain's checkpoints)
    start = time.time()
    tv, td = start_both(available_now=False)
    qv, qd = _joined(*tv), _joined(*td)
    # let both queries finish starting (first, empty trigger) before the
    # schedule begins, so the lag measures steady-state triggers
    qv.processAllAvailable()
    qd.processAllAvailable()
    t_first = time.time() + 0.5
    schedule = [(t_first + k / STREAM_RATE_FPS, f) for k, f in enumerate(live)]
    pub = streamload.OpenLoopPublisher(schedule, src)
    pub.start()
    pub.join()
    if pub.error is not None:
        raise pub.error

    # stop each query only once it has processed everything published
    qv.processAllAvailable()
    qd.processAllAvailable()
    progress = {"validate": qv.recentProgress, "drift": qd.recentProgress}
    qv.stop()
    qd.stop()
    record("streaming.validate", start, qv)
    record("streaming.drift", start, qd)

    commits = {
        "validate": streamload.file_commit_times(os.path.join(out, "_stream_checkpoint")),
        "drift": streamload.file_commit_times(os.path.join(out, "_drift_stream_checkpoint")),
    }
    lags = {q: streamload.lags_ms(pub.published, c) for q, c in commits.items()}
    # a file is monitored once both queries have committed it
    both = [max(a, b) for a, b in zip(lags["validate"], lags["drift"])]

    # correctness: every file committed by both queries, exact sink contents
    all_names = [os.path.basename(f) for f in staged]
    missing = [n for n in all_names if not all(n in c for c in commits.values())]
    ctx.check(not missing, f"{len(missing)} files never committed by both queries",
              n=len(all_names))
    expected = _pairs(expected_violations(p), skip=GLOBAL_ONLY_CHECKS)
    found = _read_pairs(ctx.spark, os.path.join(out, "violations_stream"))
    ctx.check(set(found) == expected and len(found) == len(expected),
              "stream_validate sink differs from the batch-local expected violations")
    dm = (
        ctx.spark.read.parquet(os.path.join(out, "drift_metrics"))
        .groupBy("epoch")
        .agg(F.count("*").alias("rows"), F.sum("n").alias("n"))
        .collect()
    )
    ctx.check(
        all(r.rows == 1 for r in dm) and sum(r.n for r in dm) == p.n_rows,
        "stream_drift sink is not one row per epoch summing to the clip count",
    )

    ctx.metrics.update(
        rows_per_s=len(backlog) * STREAM_ROWS_PER_FILE / drain_s,
        latency_ms_p50=percentile(both, 0.5),
    )
    ctx.named.update(
        stream_lag_ms_p90=(percentile(both, 0.9), "ms"),
        stream_drain_clips_per_s=(len(backlog) * STREAM_ROWS_PER_FILE / drain_s, "clips/s"),
        stream_offered_clips_per_s=(STREAM_RATE_FPS * STREAM_ROWS_PER_FILE, "clips/s"),
        stream_validate_lag_ms_p50=(percentile(lags["validate"], 0.5), "ms"),
        stream_validate_lag_ms_p90=(percentile(lags["validate"], 0.9), "ms"),
        stream_drift_lag_ms_p50=(percentile(lags["drift"], 0.5), "ms"),
        stream_drift_lag_ms_p90=(percentile(lags["drift"], 0.9), "ms"),
        stream_lag_files=(len(both), "count"),
    )
    ctx.stream_stats = {
        "validate": streamload.progress_stats(progress["validate"]),
        "drift": streamload.progress_stats(progress["drift"]),
        "backlog_files_max": streamload.backlog_max(
            pub.published, list(commits.values())
        ),
        "gen_late_ms_max": pub.late_ms_max,
    }


# name -> (input generator, workload)
WORKLOADS = {
    "validate_batch": (validate_inputs, validate_batch),
    "stream_monitor": (stream_inputs, stream_monitor),
}


def decode_rates(sample_df, per_codec: int = 48, min_s: float = 0.3) -> dict[str, float]:
    """Single-threaded ``codecs.decode`` throughput (payload MB/s) per
    codec over a fixed sample of the workload's clean payloads."""
    out = {}
    for codec in ("pcm_s16le", "flac", "opus", "wav"):
        rows = (
            sample_df.where(sample_df.codec == codec)
            .select("bytes")
            .orderBy("clip_id")
            .limit(per_codec)
            .collect()
        )
        payloads = [bytes(r.bytes) for r in rows]
        total = sum(len(b) for b in payloads)
        if not payloads:
            out[codec] = 0.0
            continue
        done, t0 = 0, time.perf_counter()
        while True:
            for b in payloads:
                codecs.decode(b, codec)
            done += total
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        out[codec] = done / el / 1e6
    return out
