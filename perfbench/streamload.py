"""Open-loop file publisher and checkpoint-based lag for the streaming
workload.

The publisher renames pre-staged parquet files into the stream's source
directory at fixed wall-clock due times.  The schedule is absolute: a
publisher that falls behind publishes the overdue files at once and
records how late it ran, it never stretches the schedule, so a slow
query faces a growing backlog instead of a slower generator.

Lag is read from outside the program, from the query checkpoint:
``sources/0/<batchId>`` (or its ``.compact`` roll-ups) names the files
each micro-batch read, and the mtime of ``commits/<batchId>`` is when the
batch's sink write was committed.
"""

from __future__ import annotations

import json
import os
import threading
import time

from .measure import percentile


class OpenLoopPublisher(threading.Thread):
    def __init__(self, schedule: list[tuple[float, str]], src_dir: str):
        """``schedule``: (due wall-clock time, staged file path), sorted by due."""
        super().__init__(name="open-loop-publisher", daemon=True)
        self.schedule = schedule
        self.src_dir = src_dir
        self.published: dict[str, float] = {}  # file name -> due time
        self.late_ms_max = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for due, path in self.schedule:
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = os.path.basename(path)
                os.rename(path, os.path.join(self.src_dir, name))
                self.late_ms_max = max(self.late_ms_max, (time.time() - due) * 1e3)
                self.published[name] = due
        except OSError as e:  # surfaced by the caller after join()
            self.error = e


def publish_now(paths: list[str], src_dir: str) -> None:
    """Rename a backlog into place at once."""
    for p in paths:
        os.rename(p, os.path.join(src_dir, os.path.basename(p)))


def _log_entries(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """Source file name -> commit time of the micro-batch that read it."""
    src_log = os.path.join(checkpoint, "sources", "0")
    commits = os.path.join(checkpoint, "commits")
    committed = {
        int(n): os.path.getmtime(os.path.join(commits, n))
        for n in os.listdir(commits)
        if n.isdigit()
    }
    out: dict[str, float] = {}
    for n in sorted(os.listdir(src_log)):
        if n.startswith("."):
            continue
        batch_of_log = int(n.split(".")[0])
        for e in _log_entries(os.path.join(src_log, n)):
            batch = int(e.get("batchId", batch_of_log))
            name = os.path.basename(e["path"])
            if batch in committed and name not in out:
                out[name] = committed[batch]
    return out


def lags_ms(due: dict[str, float], commit: dict[str, float]) -> list[float]:
    """Per-file lag; a file never committed counts at +inf."""
    return [
        (commit[n] - d) * 1e3 if n in commit else float("inf") for n, d in sorted(due.items())
    ]


def backlog_max(due: dict[str, float], commits: list[dict[str, float]]) -> int:
    """Most files published but not yet committed by every query, at any
    publish or commit instant."""
    done = {n: max(c.get(n, float("inf")) for c in commits) for n in due}
    events = sorted([(t, 1) for t in due.values()] + [(t, -1) for t in done.values() if t != float("inf")])
    depth = best = 0
    for _t, step in events:
        depth += step
        best = max(best, depth)
    return best


def progress_stats(progress: list) -> dict:
    """Trigger / addBatch / overhead timings of the triggers that read data."""
    trig, add, over, rows = [], [], [], []
    for p in progress:
        d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
        n = p.numInputRows if hasattr(p, "numInputRows") else p["numInputRows"]
        if not n or "addBatch" not in d:
            continue
        trig.append(d["triggerExecution"])
        add.append(d["addBatch"])
        over.append(d["triggerExecution"] - d["addBatch"])
        rows.append(n)
    return {
        "trigger_ms_p50": percentile(trig, 0.5),
        "trigger_ms_p90": percentile(trig, 0.9),
        "addbatch_ms_p50": percentile(add, 0.5),
        "overhead_ms_p50": percentile(over, 0.5),
        "rows_per_batch": sum(rows) / len(rows) if rows else 0.0,
        "batches": len(rows),
    }
