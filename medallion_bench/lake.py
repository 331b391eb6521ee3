"""``lake_queries``: read-only passes over named ``plans.QUERIES``.

One op is one query: ``spec.fn(spark, lake_dir)`` (plan build,
including the catalog's footer reads) then a noop write (execution),
inside ``caching.scoped_cache`` so relations the query persists are
released when it ends. A round is one pass over the mix in an order
shuffled from the seed. The relational class is single Catalyst jobs;
the corpus class is driver-iterative operators (many Spark jobs per
query). No sink is involved.

Warm-up runs every query once through ``lakeflow.testing
.compare_to_oracle`` against its DuckDB oracle, which both warms the JVM
and checks the query's output on this run's tables; the DuckDB and
comparison time is kept out of ``setup_s``.
"""

from __future__ import annotations

import random
import statistics
import time

import gen
from common import log, median_of, pctl_summary

RELATIONAL = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q_dedup_latest_event",
)
CORPUS = (
    "q_bm25_search",
    "q_dup_clusters",
    "q_setsim_join",
)
MIX = RELATIONAL + CORPUS
#: untimed passes before the measured one (the last with the oracle
#: checks): after a single pass the next one still ran ~20% slower than
#: the pass after it, JIT compilation not yet settled
WARMUP_ROUNDS = 2


class LakeQueries:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        self.lake = gen.lake_tables(self.ctx.seed, self.ctx.dir("lake"))

    def setup(self) -> None:
        """The lake is read-only: no base state beyond the session."""

    def warmup(self) -> float:
        """Passes over the mix: noop writes as in the measured region,
        then a last pass through the DuckDB oracle comparison. Returns
        the seconds spent on the oracle side."""
        import lakeflow.testing as testing
        from lakeflow.caching import scoped_cache
        from lakeflow.plans import QUERIES

        oracle_s = [0.0]
        orig_oracle, orig_canon = testing.duckdb_oracle, testing.canonicalize

        def timed(fn):
            def inner(*a):
                t = time.perf_counter()
                try:
                    return fn(*a)
                finally:
                    oracle_s[0] += time.perf_counter() - t
            return inner

        for _ in range(WARMUP_ROUNDS - 1):
            for name in MIX:
                t = time.perf_counter()
                self._query(name)
                log(f"warm-up {name}: {time.perf_counter() - t:.3f} s")
        testing.duckdb_oracle = timed(orig_oracle)
        testing.canonicalize = timed(orig_canon)
        self.checks = []
        try:
            for name in MIX:
                spec = QUERIES[name]
                t = time.perf_counter()
                try:
                    with scoped_cache():
                        ok, msg = testing.compare_to_oracle(
                            spec.fn(self.ctx.spark, self.lake), spec.oracle, self.lake)
                except Exception as e:  # reported as a failed check
                    ok, msg = False, f"{type(e).__name__}: {e}"
                log(f"warm-up {name} with its check: {time.perf_counter() - t:.3f} s")
                self.checks.append((f"oracle.{name}", ok, msg))
        finally:
            testing.duckdb_oracle, testing.canonicalize = orig_oracle, orig_canon
        return oracle_s[0]

    def _query(self, name: str) -> dict:
        from lakeflow.caching import scoped_cache
        from lakeflow.plans import QUERIES

        spark, tr, spec = self.ctx.spark, self.ctx.tracer, QUERIES[name]
        cls = "relational" if name in RELATIONAL else "corpus"
        with scoped_cache() as scope:
            t = time.perf_counter()
            with tr.span(f"plans.{cls}.build", query=name):
                df = spec.fn(spark, self.lake)
            t1 = time.perf_counter()
            with tr.span(f"plans.{cls}.exec", query=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            persisted = scope.release()
        return {"query": name, "cls": cls, "build_s": t1 - t, "exec_s": t2 - t1,
                "persisted": persisted}

    def rounds(self):
        rng = random.Random(self.ctx.seed)
        p = 0
        while True:
            order = list(MIX)
            rng.shuffle(order)
            yield [(f"{q}.pass{p}", lambda q=q: self._query(q)) for q in order]
            p += 1

    def check(self) -> list[tuple[str, bool, str]]:
        return list(self.checks)

    def mark_failed_ops(self, ops: list[dict], failed_checks) -> None:
        bad = {name.split(".", 1)[1] for name, _, _ in failed_checks}
        for o in ops:
            if o.get("query") in bad:
                o["ok"] = False

    def e2e(self, ops: list[dict]) -> dict:
        out = {}
        for cls in ("relational", "corpus"):
            s = [o["s"] for o in ops if o.get("cls") == cls]
            out[f"{cls}_query_s_p50"] = (statistics.median(s), "s", pctl_summary(s))
        out["queries_per_min"] = (60.0 * len(ops) / sum(o["s"] for o in ops), "1/min",
                                  f"{len(ops)} queries")
        return out

    def layer_metrics(self, spans: list[dict], traced_ops: list[dict]) -> dict:
        out: dict[str, tuple[float, str]] = {
            "caching.persisted_relations": (
                sum(o.get("persisted", 0) for o in traced_ops), "count"),
        }
        for cls in ("relational", "corpus"):
            out[f"plans.{cls}.build_s"] = (median_of(spans, f"plans.{cls}.build"), "s")
            out[f"plans.{cls}.exec_s"] = (median_of(spans, f"plans.{cls}.exec"), "s")
            jobs = [s["total_jobs"] for s in spans if s["name"].startswith(f"op.")
                    and s["name"].split(".")[1] in (RELATIONAL if cls == "relational" else CORPUS)]
            out[f"plans.{cls}.jobs_per_query"] = (statistics.median(jobs), "count")
        for name in MIX:
            s = [o["s"] for o in traced_ops if o.get("query") == name]
            out[f"plans.{name}.s"] = (statistics.median(s), "s")
        return out
