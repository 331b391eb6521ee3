"""``silver_merge``: Kafka application-status deltas upserted into a
silver table, then merged into the gold card-funnel schema.

Set-up builds the base silver applications table (``pipelines
.import_topic_dump`` of a base dump, written through ``sinks.merge
.merge_upsert``) and the gold star schema (``create_card_funnel_schema``,
its applications table merged from the same base events). One op lands one delta drop in the stream
source directory and runs it to completion: the ``streaming`` file
source into ``upsert_foreach_batch`` with an ``availableNow`` trigger
(each micro-batch runs ``merge_upsert``), then the drop's deduplicated
events into ``pipelines.gold.refresh_applications_incremental``. Its
latency is the drop's freshness: landed to silver committed and gold
refreshed. Both upserts rewrite their whole target, so the cost follows
the table size, not the drop size.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
from common import dir_bytes, log, median_of, pctl_summary

KEYS = ["cardapplicationid", "applicationstatus"]
WARMUP_ROUNDS = 1  # untimed drops; as for the bronze half, one is enough
STREAM_SCHEMA = (
    "topic string, partition int, offset long, key string, value struct<"
    "cardApplicationId: long, applicationStatus: string, timestamp: long, "
    "customerId: long, leadId: long, payload_rev: long>"
)


class SilverMerge:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        self.inp = gen.silver_inputs(self.ctx.seed, self.ctx.dir("kafka_deltas"))

    def _events(self, path: str):
        from lakeflow.pipelines import import_topic_dump

        return import_topic_dump(self.ctx.spark, path)[1]

    def setup(self) -> None:
        """Base silver applications table, and the gold star schema with
        its applications table merged from the same base events."""
        from pyspark.sql import functions as F

        from lakeflow.pipelines.gold import (
            create_card_funnel_schema,
            refresh_applications_incremental,
        )
        from lakeflow.sinks.merge import merge_upsert

        spark = self.ctx.spark
        root = self.ctx.dir("applications")
        self.silver = os.path.join(root, "table")
        self.src = self.ctx.dir("applications", "landing")
        self.ckpt = os.path.join(root, "checkpoint")
        self.gold = "gold"
        base = self._events(self.inp["base_path"])
        merge_upsert(spark, self.silver, base, KEYS, "timestamp")
        create_card_funnel_schema(spark, self.gold)
        refresh_applications_incremental(
            spark, base.withColumn("ts", F.timestamp_millis("timestamp")), schema=self.gold
        )
        self.batches = [self.inp["base_events"]]
        self.commits: list[dict] = []

    def _land_and_merge(self, drop: dict) -> dict:
        from pyspark.sql import functions as F

        from lakeflow.operators.flatten import sanitize_columns
        from lakeflow.pipelines.gold import refresh_applications_incremental
        from lakeflow.streaming import stream_ndjson, upsert_foreach_batch

        spark, tr = self.ctx.spark, self.ctx.tracer
        staged = os.path.join(self.ctx.work, "tmp", f"day{drop['day']}.json")
        shutil.copyfile(drop["path"], staged)
        landed = os.path.join(self.src, f"card.applications.day{drop['day']}.json")
        t0 = time.perf_counter()
        os.replace(staged, landed)  # the drop lands atomically
        with tr.span("streaming.upsert") as sp:
            stream = stream_ndjson(spark, self.src, STREAM_SCHEMA)
            stream = sanitize_columns(
                stream.select("value.*").filter(
                    ~F.col("applicationStatus").isin(*gen.EXCLUDED_STATUSES)
                )
            )
            q = upsert_foreach_batch(stream, self.silver, KEYS, "timestamp", self.ckpt)
            q.awaitTermination()
            tr.add_group(sp, str(q.runId))
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        with tr.span("pipelines.gold.input"):
            events = self._events(landed).withColumn("ts", F.timestamp_millis("timestamp"))
        with tr.span("pipelines.gold.refresh"):
            n_gold = refresh_applications_incremental(spark, events, schema=self.gold)
        freshness = time.perf_counter() - t0
        self.batches.append(drop["events"])
        silver, gold_dir = self.silver, self._gold_dir()

        def post():
            n_keys = len(gen.silver_candidates(self.batches[0], self.batches[1:]))
            n_apps = len(gen.gold_expected(self.batches))
            n_silver = spark.read.parquet(silver).count()
            self.commits.append({
                "silver_bytes": dir_bytes(silver),
                "gold_bytes": dir_bytes(gold_dir),
                "delta_bytes": drop["bytes"],
                "batches": batches,
                "target_rows": n_silver,
            })
            ok = n_silver == n_keys and n_gold == n_apps
            return ok, (f"day {drop['day']}: silver {n_silver} rows (expected {n_keys}), "
                        f"gold {n_gold} applications (expected {n_apps})")

        return {"kind": "merge", "latency_s": freshness, "post": post}

    def _gold_dir(self) -> str:
        return os.path.join(self.ctx.work, "warehouse", f"{self.gold}.db", "applications")

    def warmup(self) -> float:
        self.warm_checks = []
        for drop in self.inp["drops"][:WARMUP_ROUNDS]:
            t = time.perf_counter()
            ok, msg = self._land_and_merge(drop)["post"]()
            log(f"warm-up drop.day{drop['day']}: {time.perf_counter() - t:.3f} s")
            self.warm_checks.append((f"warmup.drop.day{drop['day']}", ok, msg))
        return 0.0

    def rounds(self):
        for drop in self.inp["drops"][WARMUP_ROUNDS:]:
            yield [(f"drop.day{drop['day']}", lambda d=drop: self._land_and_merge(d))]

    def check(self) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        out = list(self.warm_checks)
        # silver: each key holds one of the rows a timestamp-ordered
        # latest-wins upsert may keep (every row tied at the key's max)
        cand = gen.silver_candidates(self.batches[0], self.batches[1:])
        rows = spark.read.parquet(self.silver).select(
            *KEYS, "timestamp", "customerid", "leadid", "payload_rev").collect()
        got = {(r[0], r[1]): (r[2], r[3], r[4], r[5]) for r in rows}
        bad = dup = against_offset = 0
        for k, cs in cand.items():
            v = got.get(k)
            match = [c for c in cs if v == (c[3], c[4], c[5], c[6])]
            if not match:
                bad += 1
            elif len(cs) > 1 and match[0][0] != max(c[0] for c in cs):
                against_offset += 1
        dup = len(rows) - len(got)
        extra = len(set(got) - set(cand))
        ok = bad == 0 and dup == 0 and extra == 0
        out.append(("silver.latest_wins", ok,
                    f"{len(cand)} keys: {bad} wrong, {extra} unexpected, {dup} duplicated"))
        self.ties_against_offset = against_offset
        log(f"silver exact-timestamp ties kept a lower-offset row: {against_offset} of "
            f"{sum(len(c) > 1 for c in cand.values())} tied keys")
        # gold: one row per application, merged across every refresh
        want = gen.gold_expected(self.batches)
        g = spark.table(f"{self.gold}.applications").select(
            "application_id", "application_status", "customer_id", "lead_id",
            F.unix_millis("application_start_date"),
            F.unix_millis("application_completion_date"),
            F.unix_millis("approval_date"),
            "application_complete_flag", "approval_flag",
        ).collect()
        got_g = {r[0]: tuple(r[1:]) for r in g}
        wrong = 0
        for app, e in want.items():
            exp = (e["status"], e["customer"], e["lead"], e["start"], e["completion"],
                   e["approval"], e["completion"] is not None, e["approval"] is not None)
            if got_g.get(app) != exp:
                wrong += 1
        extra = len(set(got_g) - set(want)) + len(g) - len(got_g)
        out.append(("gold.applications", wrong == 0 and extra == 0,
                    f"{len(want)} applications: {wrong} wrong, {extra} unexpected"))
        return out

    def mark_failed_ops(self, ops: list[dict], failed_checks) -> None:
        if any(name.startswith(("silver.", "gold.")) for name, _, _ in failed_checks):
            for o in ops:
                if o.get("kind") == "merge":
                    o["ok"] = False

    def e2e(self, ops: list[dict]) -> dict:
        fresh = [o["latency_s"] for o in ops if o.get("kind") == "merge"]
        written = sum(c["silver_bytes"] + c["gold_bytes"] for c in self.commits)
        delta = sum(c["delta_bytes"] for c in self.commits)
        return {
            "upsert_freshness_s_p50": (statistics.median(fresh), "s", pctl_summary(fresh)),
            "merge_write_amp": (written / delta, "ratio",
                                f"{written} silver+gold B / {delta} delta B"),
        }

    def layer_metrics(self, spans: list[dict], traced_ops: list[dict]) -> dict:
        written = sum(c["silver_bytes"] + c["gold_bytes"] for c in self.commits)
        return {
            "streaming.upsert_s": (median_of(spans, "streaming.upsert"), "s"),
            "streaming.upsert_jobs": (median_of(spans, "streaming.upsert", "total_jobs"), "count"),
            "streaming.batches": (sum(c["batches"] for c in self.commits), "count"),
            "pipelines.gold.input_s": (median_of(spans, "pipelines.gold.input"), "s"),
            "pipelines.gold.input_jobs": (
                median_of(spans, "pipelines.gold.input", "total_jobs"), "count"),
            "pipelines.gold.refresh_s": (median_of(spans, "pipelines.gold.refresh"), "s"),
            "pipelines.gold.refresh_jobs": (
                median_of(spans, "pipelines.gold.refresh", "total_jobs"), "count"),
            "sinks.merge.bytes_written": (
                sum(c["silver_bytes"] for c in self.commits), "bytes"),
            "sinks.merge.target_rows": (self.commits[-1]["target_rows"], "count"),
            "write_amp": (written / sum(c["delta_bytes"] for c in self.commits), "ratio"),
            "silver.ties_against_offset": (self.ties_against_offset, "count"),
        }
