"""Checkpoint manifest: per-partition lineage + metrics, resumable runs
(SURVEY §2.B E12; BASELINE.json:14 "resumable from a checkpoint manifest
carrying per-partition lineage and metrics").

Layout: a directory of JSON-lines batch files, one per completed batch —
the write is atomic at file granularity (tmp + rename), so a run killed
mid-batch leaves no partial record and simply redoes that batch. Partition
values are strings (stable across roundtrips).

Resume = static partition pruning: the next run reads the manifest and
filters done partitions OUT of the scan with ``~part.isin(done)``, which
Catalyst pushes into the file source, so completed data is never re-read.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Manifest:
    path: str

    def _files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return [
            os.path.join(self.path, f)
            for f in sorted(os.listdir(self.path))
            if f.endswith(".jsonl")
        ]

    def records(self) -> list[dict]:
        out = []
        for f in self._files():
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        out.append(json.loads(line))
        return out

    def done_partitions(self) -> set[str]:
        return {r["partition"] for r in self.records() if r.get("status") == "done"}

    def append(self, records: list[dict]) -> str:
        """Atomic batch append (tmp file + rename)."""
        os.makedirs(self.path, exist_ok=True)
        name = f"batch-{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:8]}.jsonl"
        tmp = os.path.join(self.path, "." + name + ".tmp")
        final = os.path.join(self.path, name)
        with open(tmp, "w") as fh:
            for r in records:
                fh.write(json.dumps(r, sort_keys=True) + "\n")
        os.replace(tmp, final)
        return final

    def metrics(self) -> dict:
        recs = [r for r in self.records() if r.get("status") == "done"]
        return {
            "n_partitions": len({r["partition"] for r in recs}),
            "n_rows": sum(r.get("n_rows", 0) for r in recs),
            "n_violations": sum(r.get("n_violations", 0) for r in recs),
            "n_bad_rows": sum(r.get("n_bad_rows", 0) for r in recs),
        }


#: Driver-memory contract for the resume planner: the distinct partition
#: list (and the per-partition verdict rows built from it) live on the
#: driver, so memory is O(#distinct partitions) — ~50 MB at the 10^6 cap.
#: Partition granularity is a design choice (date / part buckets, 10^3-10^5
#: at the 10^12-row design point); a finer-than-cap column is almost always
#: a mis-picked part_col, so the planner fails loudly instead of OOMing.
MAX_PARTITIONS = 1_000_000


def check_partition_count(n: int, part_col: str, max_partitions: int) -> None:
    """Raise ``ValueError`` when ``n`` rows, one per partition value and
    collected under ``limit(max_partitions + 1)``, show ``part_col`` to be
    finer than the driver bound (see :data:`MAX_PARTITIONS`)."""
    if n > max_partitions:
        raise ValueError(
            f"{part_col!r} has more than {max_partitions} distinct values; "
            "the resume planner keeps the partition list on the driver — "
            "coarsen the partition column (e.g. pmod(hash(id), 4096))"
        )


def plan_remaining(
    df: DataFrame,
    part_col: str,
    manifest: Manifest,
    batch_partitions: int | None = None,
    max_partitions: int = MAX_PARTITIONS,
) -> tuple[DataFrame | None, list]:
    """The resume planner of ``ValidationRun.run_resumable``: returns
    (sub_df over not-yet-done partitions, their values), or (None, [])
    when everything is done.

    The isin filter uses the column's NATIVE values so the In-filter pushes
    down to the file source (a cast-to-string blocked pushdown). A NULL
    partition value is handled explicitly (isin never matches NULL under
    SQL three-valued logic) and recorded under the string 'None'.

    Driver bound: raises ``ValueError`` when ``part_col`` has more than
    ``max_partitions`` distinct values (see :data:`MAX_PARTITIONS`) —
    coarsen the partition column (e.g. ``pmod(hash(id), 4096)``) rather
    than raising the cap."""
    done = manifest.done_partitions()
    distinct_rows = (
        df.select(part_col).distinct().limit(max_partitions + 1).collect()
    )
    check_partition_count(len(distinct_rows), part_col, max_partitions)
    remaining = [r[0] for r in distinct_rows if str(r[0]) not in done]
    remaining.sort(key=str)
    if batch_partitions is not None:
        remaining = remaining[:batch_partitions]
    if not remaining:
        return None, []
    non_null = [v for v in remaining if v is not None]
    cond = F.col(part_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in remaining):
        cond = cond | F.col(part_col).isNull()
    return df.where(cond), remaining


def verdict_records(verd_rows, part_col: str,
                    lineage: dict | None = None) -> list[dict]:
    now = time.time()
    return [
        {
            "partition": str(r[part_col]),
            "status": "done",
            "n_rows": r["n_rows"],
            "n_violations": r["n_violations"],
            "n_bad_rows": r["n_bad_rows"],
            "verdict": r["verdict"],
            "finished_at": now,
            "lineage": lineage or {},
        }
        for r in verd_rows
    ]

