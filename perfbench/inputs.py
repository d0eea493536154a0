"""Seeded benchmark inputs, cached by (workload kind, SynthParams, layout).

Rows come from the package's own pure per-row generators
(``synth.clips.make_clip_row`` / ``make_transcript_rows``, the functions
``synth.generate_clips`` / ``generate_transcripts`` map over a Spark
range), so a seed fully determines the bytes a workload reads.  They are
written here with pyarrow, in the benchmark process and before Spark
starts: generation then shares no JVM, Python workers or memory peak
with the measured session, and a new seed costs seconds rather than a
second Spark start.

Each input set is written to a temporary directory and renamed into place
when complete, so an interrupted run never leaves a half-written cache
entry.  The cache lives under the benchmark's own work directory, never
under the package's ``data/synth`` tree that the tests read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, replace

import pyarrow as pa
import pyarrow.parquet as pq

from llm_drift_detector_spark.synth import SynthParams
from llm_drift_detector_spark.synth.clips import make_clip_row, make_transcript_rows

# bump when the on-disk layout of a cached input set changes
LAYOUT_VERSION = 2

CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("transcript", pa.string()),
        ("embedding", pa.list_(pa.float32())),
    ]
)


def _clip_rows(p: SynthParams, lo: int, hi: int) -> list[dict]:
    return [make_clip_row(p, i) for i in range(lo, hi)]


def _transcript_rows(p: SynthParams, lo: int, hi: int) -> list[dict]:
    rows = []
    for i in range(lo, hi):
        for r in make_transcript_rows(p, i):
            rows.append(dict(r, embedding=r["embedding"].tolist()))
    return rows


def write_table(path: str, p: SynthParams, files: int, rows_fn, schema: pa.Schema) -> None:
    """Rows [0, n) split into ``files`` parquet files of contiguous ids,
    named so that lexical order is id order."""
    os.makedirs(path)
    bounds = [p.n_rows * k // files for k in range(files + 1)]
    for k in range(files):
        rows = rows_fn(p, bounds[k], bounds[k + 1])
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


class InputCache:
    def __init__(self, root: str):
        self.root = root
        self.info: dict = {}

    def _ensure(self, kind: str, key: dict, build) -> str:
        blob = json.dumps({"layout": LAYOUT_VERSION, "kind": kind, **key}, sort_keys=True)
        path = os.path.join(self.root, f"{kind}-{hashlib.sha1(blob.encode()).hexdigest()[:16]}")
        if os.path.exists(os.path.join(path, "_DONE")):
            self.info = {"input_cached": True, "input_gen_s": 0.0}
            return path
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        build(tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(blob + "\n")
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        self.info = {"input_cached": False, "input_gen_s": time.perf_counter() - t0}
        return path

    def clips_set(self, kind: str, p: SynthParams, clip_files: int, side_files: int = 4) -> str:
        """``clips`` (with planted violations) in ``clip_files`` files,
        ``transcripts``, and the clean ``reference`` window."""

        def build(d: str) -> None:
            clean = replace(p, inject_violations=False)
            write_table(os.path.join(d, "clips"), p, clip_files, _clip_rows, CLIPS_SCHEMA)
            write_table(os.path.join(d, "transcripts"), p, side_files, _transcript_rows, TRANSCRIPTS_SCHEMA)
            write_table(os.path.join(d, "reference"), clean, side_files, _clip_rows, CLIPS_SCHEMA)

        key = {"params": asdict(p), "clip_files": clip_files, "side_files": side_files}
        return self._ensure(kind, key, build)


def parquet_parts(path: str) -> list[str]:
    """Data files of a parquet directory in id order."""
    return sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
