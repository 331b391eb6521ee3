#!/usr/bin/env python3
"""Medallion benchmark of record for lakeflow.

    python3 medallion_bench/run.py --workload <name> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. One client (this process) drives Spark
``local[nproc]`` with ``nproc`` shuffle partitions in a closed loop:
the next op starts when the previous one has finished. Workloads:

- ``ingest_merge``: one medallion day per round. The four bronze source
  drops go through ``pipelines.import_*``, ``sinks.txtable.append_table``
  and a read-after-write ``read_table`` count (``bronze_ingest`` runs
  this half alone); then a Kafka delta drop goes through the
  ``streaming`` file source into ``upsert_foreach_batch``
  (``sinks.merge.merge_upsert``) and
  ``pipelines.gold.refresh_applications_incremental`` (``silver_merge``
  runs this half alone).
- ``lake_queries``: seeded shuffled passes over named ``plans.QUERIES``
  (relational and corpus classes), each ``spec.fn()`` plus a noop write
  inside ``caching.scoped_cache``.

A run generates its inputs from ``--seed`` (untimed), sets up (session
start, base state, warm-up), measures whole rounds of ops until
``--seconds`` have passed, checks every output, and prints the metrics:
readable lines first, then one JSON object as the last line.
``--trace 1`` records spans around every call into lakeflow, prints the
per-layer metrics instead of the end-to-end ones, and writes the spans
to ``medallion_bench/traces/``.
Everything else a run writes lives in a per-run directory under
``medallion_bench/.work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

from common import log

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_s_geomean": "s",
    "ops_per_min": "1/min",
}


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.work = work
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None
        self.cpus = len(os.sched_getaffinity(0))

    def dir(self, *parts: str) -> str:
        """A fresh directory under the run directory."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p)
        return p


def start_session(ctx: Context):
    from lakeflow.session import get_spark

    if ctx.spark is not None:
        ctx.spark.stop()
    t = time.perf_counter()
    spark = get_spark(
        "medallion-bench",
        master=f"local[{ctx.cpus}]",
        shuffle_partitions=ctx.cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    if ctx.tracer is not None:
        ctx.tracer.bind(spark)
    return time.perf_counter() - t


def stop_session(ctx: Context) -> None:
    """Stop Spark, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_gc_s(ctx: Context) -> float:
    """JVM garbage-collection time so far, all collectors."""
    mf = ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


WORKLOADS = ("ingest_merge", "lake_queries", "bronze_ingest", "silver_merge")


def load_workload(name: str, ctx: Context):
    if name == "ingest_merge":
        from etl import IngestMerge as W
    elif name == "lake_queries":
        from lake import LakeQueries as W
    elif name == "bronze_ingest":
        from bronze import BronzeIngest as W
    else:
        from silver import SilverMerge as W
    return W(ctx)


def run(args) -> int:
    from common import PER_LAYER, pctl_summary
    from spans import Tracer

    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temp file of Python, Spark and the JVM inside the run dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the heap is fixed and touched up front (initial = max, pre-touched),
    # so the JVM's resident size does not depend on when G1 chose to grow
    # it: peak_rss_mb then moves with the driver Python process and the
    # JVM's memory outside the heap; heap pressure shows as GC time
    mem = os.environ.get("LAKEFLOW_DRIVER_MEM", "1g")
    java_opts = shlex.quote(f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {mem} --driver-java-options {java_opts} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    ctx = Context(args, work)
    ctx.tracer = Tracer()
    try:
        wl = load_workload(args.workload, ctx)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        log(f"[{args.workload}] inputs generated in {gen_s:.2f} s")

        # set-up, as a user pays it: session start (JVM launch included),
        # base state, warm-up; input generation and the oracle side of
        # the warm-up checks are not counted
        t = time.perf_counter()
        session_start_s = start_session(ctx)
        wl.setup()
        base_s = time.perf_counter() - t - session_start_s
        t = time.perf_counter()
        warm_extra = wl.warmup() or 0.0
        warmup_s = time.perf_counter() - t - warm_extra
        setup_s = time.perf_counter() - T_START - gen_s - warm_extra
        log(f"[{args.workload}] session {session_start_s:.3f} s, base state "
            f"{base_s:.3f} s, warm-up {warmup_s:.3f} s, set-up {setup_s:.3f} s")

        # measured region: whole rounds until --seconds have passed; with
        # --trace 1 rounds alternate traced/untraced (an even count), the
        # seed's parity choosing which comes first
        ops: list[dict] = []
        rounds: list[dict] = []
        gc0 = jvm_gc_s(ctx)
        t0 = time.perf_counter()
        for r, round_ops in enumerate(wl.rounds()):
            traced = ctx.trace and (r + args.seed) % 2 == 0
            ctx.tracer.enabled = traced
            for label, fn in round_ops:
                rec = {"name": label, "round": r, "traced": traced, "ok": True}
                t = time.perf_counter()
                try:
                    with ctx.tracer.span(f"op.{label}", op=len(ops)):
                        rec.update(fn() or {})
                except Exception as e:  # counted, reported, never dropped
                    rec["ok"] = False
                    rec["error"] = f"{type(e).__name__}: {e}"
                    log(f"op {label} FAILED: {rec['error']}")
                    traceback.print_exc(file=sys.stderr)
                rec["s"] = time.perf_counter() - t
                log(f"op {label}: {rec.get('latency_s', rec['s']):.3f} s")
                if rec["ok"] and "post" in rec:  # untimed per-op check
                    ok, msg = rec.pop("post")()
                    if not ok:
                        rec["ok"] = False
                        rec["error"] = msg
                        log(f"op {label} CHECK FAILED: {msg}")
                rec.pop("post", None)
                ops.append(rec)
            ctx.tracer.enabled = False
            rounds.append({"traced": traced})
            done = time.perf_counter() - t0 >= args.seconds
            if done and (not ctx.trace or len(rounds) % 2 == 0):
                break
        measured_s = time.perf_counter() - t0
        gc_s = jvm_gc_s(ctx) - gc0

        t = time.perf_counter()
        checks = wl.check()
        failed_checks = [c for c in checks if not c[1]]
        for name, ok, msg in checks:
            log(f"check {name}: {'ok' if ok else 'FAILED'} {msg}")
        wl.mark_failed_ops(ops, failed_checks)
        attempted = len(ops) + len(checks)
        failed = sum(not o["ok"] for o in ops) + len(failed_checks)

        ctx.tracer.resolve()
        spans = list(ctx.tracer.spans)
        tracer_own_s = ctx.tracer.own_s
        log(f"[{args.workload}] checks and counts {time.perf_counter() - t:.2f} s")
    finally:
        t = time.perf_counter()
        try:
            stop_session(ctx)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(BENCH_DIR, ".work"))
            except OSError:
                pass
        log(f"[{args.workload}] session stopped in {time.perf_counter() - t:.2f} s, "
            f"{time.perf_counter() - T_START:.1f} s since start")

    # the JVM is a waited-for child now: its peak is the children's peak
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
    peak_rss_mb = py_mb + jvm_mb
    log(f"[{args.workload}] peak RSS: Python {py_mb:.1f} MB, JVM {jvm_mb:.1f} MB")
    op_s = [o.get("latency_s", o["s"]) for o in ops]
    print(f"workload {args.workload}: seed {args.seed}, {len(ops)} ops in "
          f"{len(rounds)} rounds, {measured_s:.1f} s measured ({gc_s:.2f} s in JVM GC), "
          f"local[{ctx.cpus}]")
    lines = {
        "setup_s": (setup_s, "s", "process start to first op, inputs excluded"),
        "error_rate": (failed / attempted, "ratio", f"{failed}/{attempted}"),
        "peak_rss_mb": (peak_rss_mb, "MB", "driver Python + JVM high-water marks"),
    }
    for k, (v, unit, note) in wl.e2e(ops).items():
        lines[k] = (v, unit, note)
    if not ctx.trace:
        for k, (v, unit, note) in lines.items():
            print(f"  {k} = {v:.4f} {unit} ({note})")
    metrics: dict[str, dict] = {}
    if ctx.trace:
        traced = [o for o in ops if o["traced"]]
        untraced = [o for o in ops if not o["traced"]]
        rt = [sum(o["s"] for o in ops if o["round"] == r) for r, x in enumerate(rounds)
              if x["traced"]]
        ru = [sum(o["s"] for o in ops if o["round"] == r) for r, x in enumerate(rounds)
              if not x["traced"]]
        overhead = (statistics.median(rt) / statistics.median(ru) - 1) * 100
        per_op_spans = [s for s in spans if s["name"].startswith("op.")]
        layer = {
            "session.start_s": (session_start_s, "s"),
            "session.base_state_s": (base_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "trace.overhead_pct": (overhead, "%"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.own_ms_per_op": (tracer_own_s * 1000 / max(len(traced), 1), "ms"),
            "spark.jobs_per_op": (
                statistics.median(s["total_jobs"] for s in per_op_spans), "count"),
            "spark.tasks_per_op": (
                statistics.median(s["total_tasks"] for s in per_op_spans), "count"),
            "spark.failed_tasks": (
                sum(s["total_failed_tasks"] for s in per_op_spans), "count"),
        }
        layer.update(wl.layer_metrics(spans, traced))
        print(f"  traced rounds {[round(x, 3) for x in rt]} vs untraced "
              f"{[round(x, 3) for x in ru]}: tracing overhead {overhead:+.1f}% "
              f"({len(traced)} traced / {len(untraced)} untraced ops)")
        for k, (v, unit) in sorted(layer.items()):
            print(f"  {k} = {v:.4f} {unit}")
        for k, unit in PER_LAYER.items():
            metrics[k] = {"value": layer.get(k, (0, unit))[0], "unit": unit}
        os.makedirs(os.path.join(BENCH_DIR, "traces"), exist_ok=True)
        out = os.path.join(BENCH_DIR, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        ctx.tracer.write(out)
        print(f"  spans written to {os.path.relpath(out, ROOT)}")
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "op_s_geomean": statistics.geometric_mean(op_s),
            "ops_per_min": 60.0 * len(ops) / sum(op_s),
        }
        print(f"  op_s_p50 = {statistics.median(op_s):.4f} s ({pctl_summary(op_s)})")
        print(f"  op_s_geomean = {values['op_s_geomean']:.4f} s")
        print(f"  ops_per_min = {values['ops_per_min']:.4f} 1/min")
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": values[k], "unit": unit}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main() -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "lakeflow", "__init__.py")):
        log("run from the repository root: the lakeflow package is not here")
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
