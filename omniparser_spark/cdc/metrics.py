"""Per-micro-batch metrics.

Counters are observed on the batch's own merge actions (Spark
Observations on the decoded slice and on the commit write, no extra
job) and emitted into the checkpoint record; `MetricsLog` also keeps
them in memory for tests and for the bench harness.
"""

from __future__ import annotations

from typing import Any


class MetricsLog:
    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []

    def record(self, m: dict[str, Any]) -> None:
        self.batches.append(m)

    def totals(self) -> dict[str, int]:
        keys = ("events_in", "quarantined", "rows_written", "tombstones")
        return {
            k: sum(int(b.get(k) or 0) for b in self.batches) for k in keys
        }

    def lag_summary(self) -> dict[str, float | None]:
        """End-to-end freshness over the recorded batches: commit wall
        clock minus the batch's newest event time (`lag_seconds` on
        each record). `last` is what a live-tail dashboard alerts on;
        a DECREASING series during a backfill means the tail is
        catching up."""
        lags = [
            float(b["lag_seconds"])
            for b in self.batches
            if b.get("lag_seconds") is not None
        ]
        if not lags:
            return {"last": None, "max": None, "avg": None}
        return {
            "last": lags[-1],
            "max": max(lags),
            "avg": round(sum(lags) / len(lags), 3),
        }
