"""Checkpoint/resume: a killed run restarts at the first uncommitted
bucket, completed buckets are skipped (partition-pruned), and re-running a
finished run is a no-op (north-rule resumability)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.plans.manifest import ResumableRun
from combinedfeatureextraction_spark.sources.catalog import (
    BUCKET_COL,
    current_snapshot_id,
    read_snapshot,
    snapshot_partition_stats,
    with_bucket,
    write_snapshot,
)


def test_snapshot_roundtrip(spark, seqs_df, tmp_path):
    df = with_bucket(seqs_df, "doc_id", 8)
    snap = write_snapshot(df, tmp_path / "tbl", partition_by=(BUCKET_COL,))
    assert current_snapshot_id(tmp_path / "tbl") == snap
    back = read_snapshot(spark, tmp_path / "tbl")
    assert back.count() == seqs_df.count()
    # bucket partition column survives for pruning
    assert BUCKET_COL in back.columns


def test_snapshot_incremental_and_time_travel(spark, seqs_df, tmp_path):
    """replace_partitions commits merge with the parent snapshot; old
    snapshot ids stay readable (time travel); CURRENT is atomic."""
    import pyspark.sql.functions as F2

    tbl = tmp_path / "tbl2"
    df = with_bucket(seqs_df, "doc_id", 8).cache()
    first = df.filter(F2.col(BUCKET_COL).isin([0, 1, 2]))
    rest = df.filter(~F2.col(BUCKET_COL).isin([0, 1, 2]))
    s1 = write_snapshot(first, tbl, mode="replace_partitions")
    s2 = write_snapshot(rest, tbl, mode="replace_partitions")
    assert current_snapshot_id(tbl) == s2
    # CURRENT = union of both snapshots
    assert read_snapshot(spark, tbl).count() == df.count()
    # time travel to s1: only the first three buckets existed
    assert read_snapshot(spark, tbl, snapshot_id=s1).count() == first.count()
    # re-writing a bucket replaces, not duplicates
    s3 = write_snapshot(
        first.filter(F2.col(BUCKET_COL) == 0), tbl, mode="replace_partitions"
    )
    assert current_snapshot_id(tbl) == s3
    assert read_snapshot(spark, tbl).count() == df.count()


def test_resume_skips_completed(spark, seqs_df, tmp_path):
    n_buckets = 8
    df = with_bucket(seqs_df, "doc_id", n_buckets).cache()
    all_buckets = list(range(n_buckets))
    counts = dict(df.groupBy(BUCKET_COL).count().collect())
    # the table is rooted at the run's out_dir, where run_pending reads the
    # committed snapshot's footer counts
    out_dir = tmp_path / "out"

    run = ResumableRun(out_dir, "runA")
    # simulate a prior partial run: buckets 0-2 already committed
    for b in (0, 1, 2):
        run.commit_bucket(b, rows_in=0, rows_out=0,
                          group_wall_ms=0.0, group_buckets=3)
    assert run.completed_buckets() == {0, 1, 2}
    assert run.pending_buckets(all_buckets) == [3, 4, 5, 6, 7]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    writes = []

    def write_fn(part):
        sc.setJobGroup("resume-write", "write")
        try:
            snap = write_snapshot(part, out_dir, partition_by=(BUCKET_COL,))
        finally:
            sc.setJobGroup("resume-run", "run_pending")
        writes.append(snap)
        return snap

    sc.setJobGroup("resume-run", "run_pending")
    try:
        res = run.run_pending(df, all_buckets, write_fn)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert res == {"processed": 5, "skipped": 3}
    # no Spark job besides the write's: the counts come from the footers
    assert tracker.getJobIdsForGroup("resume-run") == []
    assert len(tracker.getJobIdsForGroup("resume-write")) >= 1
    # only pending buckets were written
    assert len(writes) == 1
    written = read_snapshot(spark, out_dir).groupBy(BUCKET_COL).count().collect()
    assert dict(written) == {b: n for b, n in counts.items() if b >= 3}

    # second run: everything committed → no-op, no write
    res2 = run.run_pending(df, all_buckets, write_fn)
    assert res2 == {"processed": 0, "skipped": 8}
    assert len(writes) == 1

    # manifests carry lineage fields and each bucket's exact row count
    for b in range(3, n_buckets):
        rec = json.loads((run.manifest_dir / f"bucket={b}.json").read_text())
        assert rec["status"] == "committed"
        assert rec["rows_in"] == rec["rows_out"] == counts.get(b, 0), b
        assert rec["snapshot_id"] == writes[0]
        # one job wrote the five pending buckets: the record holds the
        # group's wall and size, not a per-bucket share
        assert rec["group_buckets"] == 5 and rec["group_wall_ms"] > 0
        assert "wall_ms" not in rec

    run.write_run_metrics({"wall_ms": 123.0, "rows": int(df.count())})
    m = json.loads((run.manifest_dir / "run_metrics.json").read_text())
    assert m["run_id"] == "runA"


def test_resume_without_snapshot_stats_raises(spark, seqs_df, tmp_path):
    """A write_fn whose snapshot is not under the run's out_dir, or is not
    partitioned by the bucket, leaves no counts to commit: a named error,
    and no bucket is committed."""
    from combinedfeatureextraction_spark.sources.catalog import (
        SnapshotStatsMissing,
    )

    df = with_bucket(seqs_df, "doc_id", 4)
    out_dir = tmp_path / "out"
    run = ResumableRun(out_dir, "runB")
    for write_fn in (
        lambda part: write_snapshot(part, tmp_path / "elsewhere"),
        lambda part: write_snapshot(part, out_dir, partition_by=()),
    ):
        with pytest.raises(SnapshotStatsMissing):
            run.run_pending(df, [0, 1, 2, 3], write_fn)
        assert run.completed_buckets() == set()


def test_snapshot_manifest_records_footer_stats(spark, seqs_df, tmp_path):
    tbl = tmp_path / "tbl_stats"
    df = with_bucket(seqs_df, "doc_id", 8)
    snap = write_snapshot(df, tbl, partition_by=(BUCKET_COL,))
    stats = snapshot_partition_stats(tbl, snap, BUCKET_COL)
    counts = {str(b): n for b, n in df.groupBy(BUCKET_COL).count().collect()}
    assert {pv: s["rows"] for pv, s in stats.items()} == counts
    for pv, s in stats.items():
        part_dir = tbl / "data" / f"snap={snap}" / f"{BUCKET_COL}={pv}"
        files = list(part_dir.glob("*.parquet"))
        assert s["files"] == len(files) >= 1
        assert s["bytes"] == sum(f.stat().st_size for f in files)


def test_write_snapshot_files_sorted_within(spark, seqs_df, tmp_path):
    """Every written file is ordered by ``sort_within`` even when the input
    is not: the write's own partition sort must not replace it."""
    import pyarrow.parquet as pq

    tbl = tmp_path / "tbl_sorted"
    shuffled = with_bucket(seqs_df, "doc_id", 8).orderBy(F.rand(7)).repartition(3)
    snap = write_snapshot(
        shuffled, tbl, partition_by=(BUCKET_COL,), sort_within=("doc_id", "ts")
    )
    files = sorted((tbl / "data" / f"snap={snap}").rglob("*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "ts"]).to_pandas()
        key = list(zip(t["doc_id"], t["ts"]))
        assert key == sorted(key), f.name


def test_snapshot_numbers_follow_commits_after_expiry(spark, tmp_path):
    """A snapshot is numbered from its parent, not from the manifests left
    on disk: after an expiry the numbers keep rising, list_snapshots
    follows commit order and the next expiry keeps the two newest
    commits."""
    from combinedfeatureextraction_spark.sources.catalog import (
        expire_snapshots,
        list_snapshots,
    )

    tbl = tmp_path / "tbl_seq"
    df = spark.range(4).withColumnRenamed("id", "doc_id")
    commits = [write_snapshot(df, tbl, partition_by=()) for _ in range(4)]
    expire_snapshots(tbl, keep_last=2)
    commits += [write_snapshot(df, tbl, partition_by=()) for _ in range(2)]
    assert list_snapshots(tbl) == commits[2:]
    expire_snapshots(tbl, keep_last=2)
    assert list_snapshots(tbl) == commits[-2:]


def test_expire_snapshots(spark, seqs_df, tmp_path):
    """Vacuum: unreferenced snapshots are deleted; retained snapshots keep
    time-traveling correctly, including data inherited from ancestors."""
    import pyspark.sql.functions as F2

    from combinedfeatureextraction_spark.sources.catalog import (
        expire_snapshots,
        list_snapshots,
    )

    tbl = tmp_path / "tbl_exp"
    df = with_bucket(seqs_df, "doc_id", 8).cache()
    s1 = write_snapshot(df, tbl, mode="overwrite")  # full table
    s2 = write_snapshot(  # replaces bucket 0 only — inherits rest from s1
        df.filter(F2.col(BUCKET_COL) == 0), tbl, mode="replace_partitions"
    )
    s3 = write_snapshot(  # replaces bucket 1 only
        df.filter(F2.col(BUCKET_COL) == 1), tbl, mode="replace_partitions"
    )
    total = df.count()
    expired = expire_snapshots(tbl, keep_last=2)
    # s1's data is still read by s2/s3 (buckets 2..7) → NOT expired
    assert expired == []
    assert read_snapshot(spark, tbl).count() == total
    assert read_snapshot(spark, tbl, snapshot_id=s2).count() == total

    # now fully overwrite: s1..s3 become unreachable from the new chain
    s4 = write_snapshot(df, tbl, mode="overwrite")
    s5 = write_snapshot(
        df.filter(F2.col(BUCKET_COL) == 2), tbl, mode="replace_partitions"
    )
    expired = expire_snapshots(tbl, keep_last=2)
    assert s1 in expired and s2 in expired and s3 in expired
    assert set(list_snapshots(tbl)) == {s4, s5}
    assert read_snapshot(spark, tbl).count() == total
    assert read_snapshot(spark, tbl, snapshot_id=s4).count() == total
    import pytest as _pt

    with _pt.raises(Exception):
        read_snapshot(spark, tbl, snapshot_id=s2)


def test_replace_partitions_rejects_other_bucket_spec(spark, seqs_df, tmp_path):
    """A resume whose bucket function differs from the table's (another
    bucket count, or a parent written before specs were recorded) would
    put the same rows under other bucket values and duplicate them on
    merge: a named error before any data is written, CURRENT unmoved."""
    from combinedfeatureextraction_spark.sources.catalog import (
        BucketSpecMismatch,
        list_snapshots,
    )

    n = seqs_df.count()
    untagged = seqs_df.withColumn(  # the bucket column before specs existed
        BUCKET_COL, F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"))
    for name, parent_df, spec in (
        ("other_n", with_bucket(seqs_df, "doc_id", 8),
         {"hash": "murmur3", "key": "doc_id", "n": 8}),
        ("no_spec", untagged, None),
    ):
        tbl = tmp_path / name
        snap = write_snapshot(parent_df, tbl, mode="replace_partitions")
        assert json.loads(
            (tbl / "snapshots" / f"{snap}.json").read_text()
        )["bucket_spec"] == spec
        with pytest.raises(BucketSpecMismatch, match=snap):
            write_snapshot(with_bucket(seqs_df, "doc_id", 4), tbl,
                           mode="replace_partitions")
        assert current_snapshot_id(tbl) == snap
        assert list_snapshots(tbl) == [snap]
        assert [p.name for p in (tbl / "data").iterdir()] == [f"snap={snap}"]
        assert read_snapshot(spark, tbl).count() == n
    # the same spec resumes; an overwrite may change it
    tbl = tmp_path / "other_n"
    write_snapshot(with_bucket(seqs_df, "doc_id", 8), tbl, mode="replace_partitions")
    write_snapshot(with_bucket(seqs_df, "doc_id", 4), tbl, mode="overwrite")
    assert read_snapshot(spark, tbl).count() == n


@pytest.mark.parametrize("shuffle_partitions", [2, 4])
def test_pipeline_writes_one_file_per_bucket(spark, tmp_path, shuffle_partitions):
    """With the shuffle partition count dividing the bucket count, every
    bucket sits in one task of the pipeline's doc_id exchange: one parquet
    file per bucket directory, and no .crc sidecar anywhere."""
    from combinedfeatureextraction_spark.plans.pipeline import rowlevel_features
    from combinedfeatureextraction_spark.sources import fixtures

    seqs = fixtures.sequences_spark(spark, 60, seed=42)
    states = fixtures.states_spark(spark, seed=42)
    tbl = tmp_path / "tbl"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        feat = with_bucket(rowlevel_features(seqs, states, carry_payload=True),
                           "doc_id", 32)
        snap = write_snapshot(feat, tbl, sort_within=("doc_id", "ts"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    dirs = [d for d in (tbl / "data" / f"snap={snap}").iterdir() if d.is_dir()]
    assert dirs
    for d in dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name
    assert list(tbl.rglob("*.crc")) == []


@pytest.mark.parametrize("p", [1, 2, 4, 8])
def test_bucket_is_hash_partition_id(seqs_df, p):
    """``bucket % p`` is the partition a ``p``-way hash exchange on the
    key puts the row in, for every ``p`` dividing the bucket count."""
    df = with_bucket(seqs_df, "doc_id", 32).repartition(p, "doc_id")
    bad = df.filter(
        (F.col(BUCKET_COL) % p) != F.spark_partition_id()).count()
    assert bad == 0
