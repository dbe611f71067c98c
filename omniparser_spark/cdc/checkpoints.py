"""Resumable offset checkpoints + per-partition lineage manifests.

One JSON document per committed micro-batch, plus a ``latest.json``
pointer. Both — and the ``history-*.jsonl`` archives — are written by
:func:`~omniparser_spark.lake.durable.atomic_write`, the same protocol
as the table metadata (temp file in the same dir, write, fsync file,
``os.replace``, fsync dir): a checkpoint is only visible once fully on
disk, and the batch file is durable before ``latest.json`` names it.

A checkpoint records exactly what the north rule asks lineage to carry:
the source offset range, per-source-partition offset ranges and row
counts, rows applied, and the table snapshot version the commit
produced — enough to (a) resume the feed from ``offset_end + 1`` and
(b) audit any table snapshot back to the exact slice of the feed that
produced it.
"""

from __future__ import annotations

import json
import os
from typing import Any

from omniparser_spark.lake.durable import atomic_write

LATEST = "latest.json"


class CheckpointStore:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)

    def latest(self) -> dict[str, Any] | None:
        p = os.path.join(self.path, LATEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def next_batch_id(self) -> int:
        cp = self.latest()
        return 0 if cp is None else int(cp["batch_id"]) + 1

    def next_offset(self) -> int:
        cp = self.latest()
        return 0 if cp is None else int(cp["offset_end"]) + 1

    def commit(self, record: dict[str, Any]) -> None:
        bid = int(record["batch_id"])
        text = json.dumps(record, indent=1, sort_keys=True)
        atomic_write(os.path.join(self.path, f"batch-{bid:010d}.json"), text)
        atomic_write(os.path.join(self.path, LATEST), text)

    def all(self) -> list[dict[str, Any]]:
        names = sorted(os.listdir(self.path))
        by_id: dict[int, dict[str, Any]] = {}
        # archives FIRST, then live per-batch files: a live file wins
        # over an archive duplicate (a crash between the archive's
        # rename and the file deletes leaves both; the live file is
        # the one commit() wrote)
        for name in names:
            if name.startswith("history-") and name.endswith(".jsonl"):
                with open(os.path.join(self.path, name)) as f:
                    for line in f:
                        if line.strip():
                            r = json.loads(line)
                            by_id[int(r["batch_id"])] = r
        for name in names:
            if name.startswith("batch-") and name.endswith(".json"):
                with open(os.path.join(self.path, name)) as f:
                    r = json.load(f)
                by_id[int(r["batch_id"])] = r
        return [by_id[k] for k in sorted(by_id)]

    def compact(self, keep_last: int = 256) -> dict[str, Any]:
        """Fold all but the newest `keep_last` per-batch checkpoint
        files into one append-only ``history-<first>-<last>.jsonl``
        archive. At a seconds-cadence tail the per-batch files are
        ~86k/day forever — the same unbounded-small-file rot the lake
        side fixes with compact_buckets/expire_snapshots; this is the
        checkpoint log's maintenance half. Resume is untouched (it
        only reads ``latest.json``); lineage audits keep the full
        record via :meth:`all`, which reads archives + live files and
        dedupes by batch id (live wins), so a crash between the
        archive's atomic rename and the source-file deletes is safe to
        re-run."""
        batch_files = sorted(
            f for f in os.listdir(self.path)
            if f.startswith("batch-") and f.endswith(".json")
        )
        if len(batch_files) <= keep_last:
            return {"archived": 0}
        fold = batch_files[: len(batch_files) - keep_last]
        records = []
        for name in fold:
            with open(os.path.join(self.path, name)) as f:
                records.append(json.load(f))
        first = int(records[0]["batch_id"])
        last = int(records[-1]["batch_id"])
        archive = f"history-{first:010d}-{last:010d}.jsonl"
        atomic_write(
            os.path.join(self.path, archive),
            "".join(json.dumps(r, sort_keys=True) + "\n" for r in records),
        )
        for name in fold:
            try:
                os.remove(os.path.join(self.path, name))
            except FileNotFoundError:
                pass
        return {"archived": len(fold), "archive": archive}
