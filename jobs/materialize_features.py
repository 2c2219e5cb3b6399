"""spark-submit entry point: resumable point-in-time feature
materialization.

    spark-submit --py-files cfe_spark.zip jobs/materialize_features.py \
        --sequences <path> --states <path> --out <path> [--run-id r1]
        [--buckets 32] [--narrow]

On a cluster, master/executor config comes from spark-submit; this script
only declares the job. Resumable: re-running with the same --run-id skips
committed buckets via the per-partition lineage manifests (plans.manifest).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sequences", required=True)
    ap.add_argument("--states", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--chunk", type=int, default=0,
                    help="commit granularity: buckets per Spark job (0 = "
                         "all pending buckets in one job). Chunking bounds "
                         "the failure domain — a killed run loses at most "
                         "one chunk of work and resumes at the first "
                         "uncommitted chunk — at the cost of one scan per "
                         "chunk (on a partitioned catalog layout the bucket "
                         "filter prunes files, so the extra scans are "
                         "proportional to the chunk, not the table)")
    ap.add_argument("--narrow", action="store_true",
                    help="emit the narrow feature table (100 TB shape)")
    args = ap.parse_args()

    from combinedfeatureextraction_spark.plans.manifest import ResumableRun
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features
    from combinedfeatureextraction_spark.sources.catalog import (
        BUCKET_COL,
        with_bucket,
        write_snapshot,
    )
    from combinedfeatureextraction_spark.session import get_spark

    spark = get_spark(app_name="cfe_materialize")
    seqs = spark.read.parquet(args.sequences)
    states = spark.read.parquet(args.states) if args.states else None

    t0 = time.time()
    feat = rowlevel_features(seqs, states, carry_payload=not args.narrow)
    feat = with_bucket(feat, "doc_id", args.buckets)

    run = ResumableRun(args.out, args.run_id)

    def write_fn(part):
        return write_snapshot(
            part, args.out, partition_by=(BUCKET_COL,),
            sort_within=("doc_id", "ts"), mode="replace_partitions",
        )

    all_buckets = list(range(args.buckets))
    if args.chunk and args.chunk > 0:
        res = {"processed": 0, "skipped": 0}
        for i in range(0, len(all_buckets), args.chunk):
            r = run.run_pending(feat, all_buckets[i : i + args.chunk], write_fn)
            res["processed"] += r["processed"]
            res["skipped"] += r["skipped"]
    else:
        res = run.run_pending(feat, all_buckets, write_fn)
    wall = time.time() - t0
    run.write_run_metrics(
        {"wall_sec": round(wall, 2), **res, "narrow": args.narrow}
    )
    print(json.dumps({"run_id": args.run_id, "wall_sec": round(wall, 2), **res}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
