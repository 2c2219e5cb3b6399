"""Checkpoint / resume with per-partition lineage + metrics manifests.

North-rule requirement: runs resumable from snapshot checkpoints with
per-partition lineage and metrics manifests. Reference analog: the
modtime-guarded zone-map cache — recompute skipped when the cached
artifact is still valid (fextract/extraction_utils/xml_to_mask_minmax.py:
240-250) — and the metadata-PUT manifest sink (FeatureExtractor.py:198-201).

Granularity = the bucket partition (sources.catalog.with_bucket). A run:

    run = ResumableRun(out_dir, run_id)
    todo = run.pending_buckets(all_buckets)       # resume = skip done
    result_df.filter(bucket ∈ todo) → write → run.commit_bucket(...)

Buckets are committed in GROUPS (one Spark job per group, default all
pending at once): each commit records rows / group wall / snapshot id, so
a killed run restarts exactly at the first uncommitted group. At 100 TB the
group is the unit of incremental progress, and the filter on pending
buckets prunes completed partitions AT THE SCAN (partition pruning on the
bucket column) — a resume never rereads finished data.

Counts come from the write itself, not from a second job: ``write_fn``
commits a snapshot of the table rooted at the run's ``out_dir``
(``sources.catalog.write_snapshot``), whose manifest records each
partition's rows from the committed parquet footers; ``rows_in`` /
``rows_out`` are those footer rows. One job writes the whole group, so no
per-bucket wall exists: each bucket's record holds the group's
``group_wall_ms`` and its bucket count ``group_buckets``.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.sources.catalog import (
    BUCKET_COL,
    snapshot_partition_stats,
)


class ResumableRun:
    def __init__(self, out_dir: str | Path, run_id: str = "run0") -> None:
        self.out_dir = Path(out_dir)
        self.run_id = run_id
        self.manifest_dir = self.out_dir / "_manifests" / run_id
        self.manifest_dir.mkdir(parents=True, exist_ok=True)

    # ---------------------------------------------------------- state
    def completed_buckets(self) -> set[int]:
        done = set()
        for p in self.manifest_dir.glob("bucket=*.json"):
            rec = json.loads(p.read_text())
            if rec.get("status") == "committed":
                done.add(int(rec["bucket"]))
        return done

    def pending_buckets(self, all_buckets: list[int]) -> list[int]:
        done = self.completed_buckets()
        return [b for b in all_buckets if b not in done]

    # --------------------------------------------------------- commit
    def commit_bucket(
        self,
        bucket: int,
        rows_in: int,
        rows_out: int,
        group_wall_ms: float,
        group_buckets: int,
        snapshot_id: str | None = None,
        extra: dict | None = None,
    ) -> None:
        """Record ``bucket`` as committed (atomic rename). ``group_wall_ms``
        is the wall of the whole group of ``group_buckets`` buckets that one
        job wrote together with this one, not a per-bucket time."""
        rec = {
            "run_id": self.run_id,
            "bucket": bucket,
            "status": "committed",
            "rows_in": rows_in,
            "rows_out": rows_out,
            "group_wall_ms": group_wall_ms,
            "group_buckets": group_buckets,
            "snapshot_id": snapshot_id,
            "committed_at_ms": int(time.time() * 1000),
            **(extra or {}),
        }
        tmp = self.manifest_dir / f"bucket={bucket}.json.tmp"
        tmp.write_text(json.dumps(rec))
        tmp.rename(self.manifest_dir / f"bucket={bucket}.json")  # atomic

    # ------------------------------------------------------ execution
    def run_pending(
        self,
        df: DataFrame,
        all_buckets: list[int],
        write_fn,
        bucket_col: str = BUCKET_COL,
    ) -> dict:
        """Process every pending bucket in ONE Spark job: filter to pending
        (partition-prunes completed buckets), write via ``write_fn(df)``,
        then commit per-bucket manifests with the row counts of the
        snapshot ``write_fn`` returned. That snapshot must belong to the
        table at ``out_dir`` and be partitioned by ``bucket_col``; without
        its partition stats the commit raises
        ``sources.catalog.SnapshotStatsMissing`` instead of recording rows
        it never saw. A pending bucket absent from the snapshot wrote no
        rows."""
        pending = self.pending_buckets(all_buckets)
        if not pending:
            return {"processed": 0, "skipped": len(all_buckets)}
        t0 = time.time()
        part = df.filter(F.col(bucket_col).isin(pending))
        snapshot_id = write_fn(part)
        stats = snapshot_partition_stats(self.out_dir, snapshot_id, bucket_col)
        wall = (time.time() - t0) * 1000
        for b in pending:
            n = stats.get(str(b), {}).get("rows", 0)
            self.commit_bucket(
                b, rows_in=n, rows_out=n,
                group_wall_ms=wall, group_buckets=len(pending),
                snapshot_id=snapshot_id,
            )
        return {"processed": len(pending), "skipped": len(all_buckets) - len(pending)}

    # -------------------------------------------------------- metrics
    def write_run_metrics(self, metrics: dict) -> None:
        (self.manifest_dir / "run_metrics.json").write_text(
            json.dumps({"run_id": self.run_id, **metrics})
        )
