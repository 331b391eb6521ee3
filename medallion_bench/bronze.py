"""``bronze_ingest``: daily bronze drops of the four reference sources
land as silver transactional tables.

One op is one source's daily drop: the ``pipelines.import_*`` call
(lazy plan plus its eager schema inference), ``sinks.txtable
.append_table`` into that source's silver table, then a read-after-write
``read_table(...).count()`` that must equal the rows the generator says
have landed so far. A round is one day: mailgun, iterable, mongo, kafka.
Nothing is rewritten, so ``plans`` and ``sinks.merge`` are bypassed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import gen
from common import log, median_of, pctl_summary

SOURCES = ("mailgun", "iterable", "mongo", "kafka")
#: untimed days before the measured ones: a second warm day ran no
#: faster than the first measured day
WARMUP_ROUNDS = 1


class BronzeIngest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        self.drops = gen.bronze_inputs(self.ctx.seed, self.ctx.dir("bronze"))
        self.by_day: dict[int, list[dict]] = {}
        for d in self.drops:
            self.by_day.setdefault(d["day"], []).append(d)

    def setup(self) -> None:
        """No base tables: the silver tables start empty."""
        root = self.ctx.dir("silver_tables")
        self.silver = {s: os.path.join(root, s) for s in SOURCES}
        self.landed = {s: 0 for s in SOURCES}
        self.landed_drops: list[dict] = []
        self.commits: list[dict] = []
        self.manifest_files = {s: 0 for s in SOURCES}

    def warmup(self) -> float:
        self.warm_checks = []
        for d in (d for day in range(WARMUP_ROUNDS) for d in self.by_day[day]):
            t = time.perf_counter()
            ok, msg = self._ingest(d)["post"]()
            log(f"warm-up {d['source']}.day{d['day']}: {time.perf_counter() - t:.3f} s")
            self.warm_checks.append((f"warmup.{d['source']}.day{d['day']}", ok, msg))
        return 0.0

    def _import(self, d: dict):
        from lakeflow.pipelines import (
            import_iterable_events,
            import_mailgun_events,
            import_mongo_notifications,
            import_topic_dump,
        )

        spark = self.ctx.spark
        if d["source"] == "mailgun":
            return import_mailgun_events(spark, d["path"], gen.RELEVANT_TAGS)
        if d["source"] == "iterable":
            return import_iterable_events(spark, d["path"])
        if d["source"] == "mongo":
            return import_mongo_notifications(spark, d["path"])
        return import_topic_dump(spark, d["path"])[1]

    def _ingest(self, d: dict) -> dict:
        from lakeflow.sinks import txtable

        spark, tr, src = self.ctx.spark, self.ctx.tracer, d["source"]
        table = self.silver[src]
        with tr.span(f"pipelines.{src}.import"):
            df = self._import(d)
        with tr.span("sinks.txtable.append"):
            version = txtable.append_table(spark, df, table, allow_schema_drift=True)
        with tr.span("sinks.txtable.read"):
            n = txtable.read_table(spark, table, merge_schema=True).count()
        self.landed[src] += d["rows"]
        self.landed_drops.append(d)
        expected = self.landed[src]

        def post():
            m_new = _manifest(table, version)
            m_old = set(_manifest(table, version - 1)["files"]) if version > 1 else set()
            new = [f for f in m_new["files"] if f not in m_old]
            self.manifest_files[src] = len(m_new["files"])
            self.commits.append({
                "source": src,
                "files": len(new),
                "bytes": sum(os.path.getsize(os.path.join(table, f)) for f in new),
                "bronze_bytes": d["bytes"],
            })
            return n == expected, f"{src} day {d['day']}: read {n} rows, expected {expected}"

        return {"kind": "ingest", "rows": d["rows"], "source": src, "post": post}

    def rounds(self):
        for day in range(WARMUP_ROUNDS, gen.BRONZE_DAYS):
            yield [(f"{d['source']}.day{day}", lambda d=d: self._ingest(d))
                   for d in self.by_day[day]]

    def check(self) -> list[tuple[str, bool, str]]:
        """Silver content against the generator, per source, over every
        drop that landed (warm-up included)."""
        from pyspark.sql import functions as F

        from lakeflow.sinks import txtable

        spark = self.ctx.spark
        out = list(self.warm_checks)
        for src in SOURCES:
            drops = [d for d in self.landed_drops if d["source"] == src]
            df = txtable.read_table(spark, self.silver[src], merge_schema=True)
            if src == "mailgun":
                got = sorted(r[0] for r in df.select("recipient").collect())
                want = sorted(k for d in drops for k in d["keys"])
                ok = got == want
            elif src == "iterable":
                row = df.agg(F.count("*"), F.sum("userid")).first()
                want = (sum(d["rows"] for d in drops), sum(d["keys"] for d in drops))
                got = (row[0], row[1])
                ok = got == want
            elif src == "mongo":
                got = sorted(r[0] for r in df.select("_id").collect())
                want = sorted(k for d in drops for k in d["keys"])
                ok = got == want
            else:
                rows = df.select("cardapplicationid", "applicationstatus", "payload_rev").collect()
                got = sorted((r[0], r[1], r[2]) for r in rows)
                want = sorted((k[0], k[1], v) for d in drops for k, v in d["keys"].items())
                ok = got == want
            n_got = len(got) if isinstance(got, list) else got
            n_want = len(want) if isinstance(want, list) else want
            out.append((f"silver.{src}", ok, f"got {n_got}, expected {n_want}"))
        return out

    def mark_failed_ops(self, ops: list[dict], failed_checks) -> None:
        bad = {name.split(".", 1)[1] for name, _, _ in failed_checks}
        for o in ops:
            if o.get("kind") == "ingest" and o["source"] in bad:
                o["ok"] = False

    def e2e(self, ops: list[dict]) -> dict:
        ops = [o for o in ops if o.get("kind") == "ingest"]
        op_s = [o["s"] for o in ops]

        silver_bytes = sum(c["bytes"] for c in self.commits)
        bronze_bytes = sum(c["bronze_bytes"] for c in self.commits)
        return {
            "ingest_rows_per_s": (sum(o["rows"] for o in ops) / sum(op_s),
                                  "rows/s", f"{len(ops)} drops"),
            "ingest_job_s_p50": (statistics.median(op_s), "s", pctl_summary(op_s)),
            "ingest_write_amp": (silver_bytes / bronze_bytes, "ratio",
                                 f"{silver_bytes} silver B / {bronze_bytes} bronze B"),
        }

    def layer_metrics(self, spans: list[dict], traced_ops: list[dict]) -> dict:
        out: dict[str, tuple[float, str]] = {}
        for src in SOURCES:
            out[f"pipelines.{src}.import_s"] = (median_of(spans, f"pipelines.{src}.import"), "s")
        names = {f"pipelines.{src}.import" for src in SOURCES}
        imports = [s["total_jobs"] for s in spans if s["name"] in names]
        out["pipelines.import_jobs"] = (statistics.median(imports), "count")
        for name in ("append", "read"):
            out[f"sinks.txtable.{name}_s"] = (median_of(spans, f"sinks.txtable.{name}"), "s")
            out[f"sinks.txtable.{name}_jobs"] = (
                median_of(spans, f"sinks.txtable.{name}", "total_jobs"), "count")
        written = sum(c["bytes"] for c in self.commits)
        out["sinks.txtable.files_per_commit"] = (
            statistics.median(c["files"] for c in self.commits), "count")
        out["sinks.txtable.manifest_files"] = (sum(self.manifest_files.values()), "count")
        out["sinks.txtable.bytes_written"] = (written, "bytes")
        out["write_amp"] = (written / sum(c["bronze_bytes"] for c in self.commits), "ratio")
        return out


def _manifest(table: str, version: int) -> dict:
    with open(os.path.join(table, "_manifests", f"v{version}.json")) as fh:
        return json.load(fh)

