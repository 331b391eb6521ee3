"""Helpers shared by the harness and the workloads."""

from __future__ import annotations

import os
import statistics
import sys

#: per-layer metrics of the JSON result line (``--trace 1``), the same
#: for every workload: a layer a workload bypasses reads 0. Per-layer
#: times that only one workload can produce are printed on the
#: readable lines and kept in the span file instead.
PER_LAYER = {
    "session.start_s": "s",
    "session.base_state_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_pct": "%",
    "jvm.gc_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "pipelines.import_jobs": "count",
    "sinks.txtable.files_per_commit": "count",
    "sinks.txtable.manifest_files": "count",
    "sinks.txtable.bytes_written": "bytes",
    "streaming.batches": "count",
    "pipelines.gold.refresh_jobs": "count",
    "sinks.merge.bytes_written": "bytes",
    "sinks.merge.target_rows": "count",
    "plans.relational.jobs_per_query": "count",
    "plans.corpus.jobs_per_query": "count",
    "caching.persisted_relations": "count",
    "write_amp": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pctl_summary(values: list[float]) -> str:
    """Sample count, plus the highest percentile that still has at
    least ten samples beyond it (diagnostic, not gated)."""
    n = len(values)
    out = f"n={n}"
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
            out += f", p{p}={q:.4f}"
            break
    return out


def median_of(spans: list[dict], name: str, key: str = "s") -> float:
    """Median duration (``key='s'``) or median of a count field over
    the spans called ``name``; 0 when there are none."""
    vals = [
        s["end"] - s["start"] if key == "s" else s[key]
        for s in spans
        if s["name"] == name
    ]
    return statistics.median(vals) if vals else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")
        )
    return total
