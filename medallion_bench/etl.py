"""``ingest_merge``: one medallion day per round — the four bronze
source drops appended as silver transactional tables
(:mod:`bronze`), then the day's Kafka delta upserted into the silver
applications table and merged into gold (:mod:`silver`).

The two halves stay separate ops with their own metrics: the append
path never rewrites data, the merge path rewrites its whole target, so
a change to either shows in its own op class while the other reads as
the control.
"""

from __future__ import annotations

from bronze import BronzeIngest
from silver import SilverMerge


class IngestMerge:
    def __init__(self, ctx) -> None:
        self.parts = (BronzeIngest(ctx), SilverMerge(ctx))

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def warmup(self) -> float:
        return sum(p.warmup() for p in self.parts)

    def rounds(self):
        for ingest, merge in zip(*(p.rounds() for p in self.parts)):
            yield ingest + merge

    def check(self) -> list[tuple[str, bool, str]]:
        return [c for p in self.parts for c in p.check()]

    def mark_failed_ops(self, ops: list[dict], failed_checks) -> None:
        for p in self.parts:
            p.mark_failed_ops(ops, failed_checks)

    def e2e(self, ops: list[dict]) -> dict:
        return {k: v for p in self.parts for k, v in p.e2e(ops).items()}

    def layer_metrics(self, spans: list[dict], traced_ops: list[dict]) -> dict:
        out: dict = {}
        for p in reversed(self.parts):  # the JSON write_amp is the append path's
            out.update(p.layer_metrics(spans, traced_ops))
        return out
