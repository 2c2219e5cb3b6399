"""Table IO with snapshot semantics: Iceberg when the runtime has the
catalog jar, otherwise an Iceberg-SHAPED parquet layer (same API):
append-only snapshot directories + JSON manifest chain + atomic CURRENT
pointer. Supports per-partition replacement (the MERGE/resume path) and
time travel (read any committed snapshot id).

Layout on disk:

    <table>/data/snap=<seq>-<uuid>/bucket=<b>/part-*.parquet
    <table>/snapshots/<snap_id>.json   # parent, mode, partitions written
    <table>/CURRENT                    # atomic pointer

A snapshot's manifest says which partition values it REPLACES; a reader
resolves, per partition value, the newest snapshot (walking the parent
chain) that wrote it — exactly Iceberg's manifest-list pruning, folded to
the bucket granularity this engine checkpoints at.

Layout contract for the sequences table (the 100 TB design): partition by
hash-bucket of doc_id (co-locates every entity's history → as-of joins and
windows shuffle at most once) and sort within files by (doc_id, ts) —
partition columns first, then ``sort_within``, in the one sort the write
executes. The bucket is ``pmod(hash(doc_id), n)``: Spark's Murmur3 (seed
42), the function behind ``HashPartitioning``'s partition id and
``bucketBy``. When the shuffle partition count ``p`` divides ``n``, every
bucket sits in one partition of the plan's ``doc_id`` exchange, so each
write task holds whole buckets and each bucket is ONE file — with no
exchange of its own. When ``p`` does not divide ``n`` a bucket spans
``p / gcd(p, n)`` tasks (one file each). Parquet row-group min/max stats
on doc_id prune the entity axis (the engine-level equivalent of the
reference's persisted Xmin/Xmax zone maps,
fextract/extraction_utils/xml_to_mask_minmax.py:233-295). The time axis is
NOT pruned by footer stats: Spark writes ``ts`` as INT96
(``spark.sql.parquet.outputTimestampType``'s default), a type parquet keeps
no min/max statistics for, and a per-write option does not change it.

Each snapshot manifest records, per partition it wrote, the ``rows`` /
``files`` / ``bytes`` of its committed parquet files, rows read from the
file footers (Iceberg's per-file ``record_count``); resume manifests take
their row counts from there (``snapshot_partition_stats``). It also
records the ``bucket_spec`` (hash, key, n) that ``with_bucket`` tagged the
bucket column with: a ``replace_partitions`` commit whose spec differs
from its parent's raises ``BucketSpecMismatch`` before writing, because a
bucket value under another function holds other rows and the merge would
duplicate them.
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def with_bucket(df: DataFrame, key: str = "doc_id", n_buckets: int = 32) -> DataFrame:
    """Deterministic hash bucket — the partition key for layout + resume
    granularity: ``pmod(hash(key), n_buckets)``, Spark's own partition
    hash (Murmur3, seed 42), so ``bucket % p`` is the partition id of a
    ``p``-way hash exchange on ``key`` whenever ``p`` divides
    ``n_buckets`` — keep the shuffle partition count a divisor of the
    bucket count and each bucket is written by one task, as one file.
    The column's metadata carries the ``bucket_spec`` that
    ``write_snapshot`` records."""
    spec = {"hash": "murmur3", "key": key, "n": n_buckets}
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).cast("int")
        .alias(BUCKET_COL, metadata={"bucket_spec": spec}),
    )


class BucketSpecMismatch(ValueError):
    """A ``replace_partitions`` commit whose bucket function (hash, key,
    n) is not its parent snapshot's: the same bucket value would name
    other rows, so merging would duplicate or lose them."""


def _snapshots_dir(path: Path) -> Path:
    return path / "snapshots"


def _read_manifest(path: Path, snap_id: str) -> dict:
    return json.loads((_snapshots_dir(path) / f"{snap_id}.json").read_text())


def current_snapshot_id(path: str | Path) -> str | None:
    p = Path(path) / "CURRENT"
    return p.read_text().strip() if p.exists() else None


def list_snapshots(path: str | Path) -> list[str]:
    d = _snapshots_dir(Path(path))
    if not d.exists():
        return []
    return sorted(p.stem for p in d.glob("*.json"))


def write_snapshot(
    df: DataFrame,
    path: str | Path,
    partition_by: tuple[str, ...] = (BUCKET_COL,),
    sort_within: tuple[str, ...] = ("doc_id", "ts"),
    mode: str = "overwrite",
) -> str:
    """Commit a new snapshot.

    ``mode="overwrite"``: the snapshot logically replaces the WHOLE table.
    ``mode="replace_partitions"``: only the partition values present in
    ``df`` are replaced; everything else is inherited from the parent
    snapshot (the incremental / resume path — Iceberg dynamic overwrite).
    It raises ``BucketSpecMismatch``, writing nothing, when ``df``'s
    bucket spec is not the parent's (a bucketed ``df`` onto a parent that
    recorded no spec included).

    Data always lands in a fresh snapshot directory (append-only storage);
    the commit is the atomic CURRENT rename, so readers never observe a
    partial write and old snapshots stay time-travelable.
    """
    path = Path(path)
    parent = current_snapshot_id(path)
    part_cols = [c for c in partition_by if c in df.columns]
    spec = (
        df.schema[BUCKET_COL].metadata.get("bucket_spec")
        if BUCKET_COL in part_cols else None
    )
    if mode == "replace_partitions" and parent is not None:
        parent_spec = _read_manifest(path, parent).get("bucket_spec")
        if spec != parent_spec:
            raise BucketSpecMismatch(
                f"bucket spec {spec} does not match {parent_spec} of parent"
                f" snapshot {parent!r} under {path}; rewrite the table with"
                ' mode="overwrite"'
            )
    # the parent's number plus one: a count of the manifests on disk
    # would repeat numbers once expire_snapshots has deleted some, and
    # list_snapshots (sorted by id) would no longer follow commit order
    seq = int(parent.split("-", 1)[0]) + 1 if parent else 0
    snap_id = f"{seq:06d}-{uuid.uuid4().hex[:10]}"
    # ONE sort, partition columns first: the planned write requires its
    # partition columns as the leading order and would otherwise replace a
    # (doc_id, ts)-only sort with its own Sort [bucket]
    order = [*part_cols, *(c for c in sort_within if c in df.columns)]
    out = df.sortWithinPartitions(*order) if order else df
    data_dir = path / "data" / f"snap={snap_id}"
    writer = out.write.mode("errorifexists")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(str(data_dir))
    # partitions this snapshot wrote (from the directory layout), with the
    # row counts of their committed parquet footers
    stats = dict(sorted(
        (p.name.split("=", 1)[1], _footer_stats(p))
        for p in (data_dir.iterdir() if part_cols else ())
        if p.is_dir() and "=" in p.name
    ))
    manifest = {
        "snapshot_id": snap_id,
        "parent": parent,
        "mode": mode,
        "partition_by": part_cols,
        "partitions": list(stats),
        "partition_stats": stats,
        "bucket_spec": spec,
        "sort_within": list(sort_within),
        "committed_at_ms": int(time.time() * 1000),
        "schema": out.schema.json(),
    }
    _snapshots_dir(path).mkdir(parents=True, exist_ok=True)
    (_snapshots_dir(path) / f"{snap_id}.json").write_text(json.dumps(manifest))
    tmp = path / "CURRENT.tmp"
    tmp.write_text(snap_id)
    tmp.rename(path / "CURRENT")  # atomic commit
    return snap_id


def _footer_stats(part_dir: Path) -> dict:
    """rows / files / bytes of the parquet files in one partition
    directory; rows from each file's footer (Iceberg's per-file
    ``record_count``), read without scanning any data page."""
    import pyarrow.parquet as pq

    files = list(part_dir.glob("*.parquet"))
    return {
        "rows": sum(pq.read_metadata(f).num_rows for f in files),
        "files": len(files),
        "bytes": sum(f.stat().st_size for f in files),
    }


class SnapshotStatsMissing(LookupError):
    """A snapshot manifest with per-partition footer stats was not found."""


def snapshot_partition_stats(
    path: str | Path, snap_id: str, partition_col: str
) -> dict[str, dict]:
    """Per-partition ``{"rows", "files", "bytes"}`` that ``write_snapshot``
    recorded for ``snap_id`` under the table at ``path``, keyed by the
    value of ``partition_col``. Raises ``SnapshotStatsMissing`` when there
    is no such manifest, it holds no stats (written before stats were
    recorded) or the snapshot is not partitioned by exactly
    ``partition_col`` (its stats could not be keyed by it)."""
    f = _snapshots_dir(Path(path)) / f"{snap_id}.json"
    m = json.loads(f.read_text()) if f.exists() else {}
    if "partition_stats" not in m or m["partition_by"] != [partition_col]:
        raise SnapshotStatsMissing(
            f"no {partition_col!r} partition stats for snapshot {snap_id!r}"
            f" under {path}"
        )
    return m["partition_stats"]


def _resolve_partition_dirs(path: Path, snap_id: str) -> tuple[list[str], list[str]]:
    """Walk the manifest chain from ``snap_id`` down: newest snapshot wins
    per partition value; an ``overwrite`` manifest terminates the walk.
    Returns (leaf dirs to read, partition columns)."""
    dirs: dict[str, str] = {}  # partition value -> snap dir
    part_cols: list[str] = []
    cur: str | None = snap_id
    while cur is not None:
        m = _read_manifest(path, cur)
        part_cols = part_cols or m["partition_by"]
        if not m["partition_by"]:
            # unpartitioned snapshot owns the whole table
            return [str(path / "data" / f"snap={cur}")], []
        key = m["partition_by"][0]
        for pv in m["partitions"]:
            dirs.setdefault(
                pv, str(path / "data" / f"snap={cur}" / f"{key}={pv}")
            )
        if m["mode"] == "overwrite":
            break
        cur = m["parent"]
    return sorted(dirs.values()), part_cols


def expire_snapshots(
    path: str | Path,
    keep_last: int = 2,
) -> list[str]:
    """Iceberg-style maintenance: drop snapshots (manifests + data dirs)
    that are neither among the ``keep_last`` most recent commits nor
    REFERENCED by a retained snapshot's partition resolution — a retained
    ``replace_partitions`` child still reads its ancestors' untouched
    partitions, so reachability, not age, decides what is safe to delete.
    Time travel keeps working for every retained snapshot. Returns the
    expired snapshot ids."""
    import shutil

    path = Path(path)
    snaps = list_snapshots(path)
    if len(snaps) <= keep_last:
        return []
    retained = set(snaps[-keep_last:])
    cur = current_snapshot_id(path)
    if cur:
        retained.add(cur)
    # data reachability: snapshots whose data some retained snapshot reads
    referenced: set[str] = set()
    for s in retained:
        for d in _resolve_partition_dirs(path, s)[0]:
            # .../data/snap=<id>[/bucket=..] → <id>
            seg = next(p for p in Path(d).parts if p.startswith("snap="))
            referenced.add(seg.split("=", 1)[1])
    # manifest reachability: a retained replace_partitions snapshot WALKS
    # its ancestor manifests during resolution even when their data is
    # fully superseded — those json files must survive
    chain: set[str] = set()
    for s in retained:
        node: str | None = s
        while node is not None and node not in chain:
            chain.add(node)
            m = _read_manifest(path, node)
            if m["mode"] == "overwrite":
                break
            node = m["parent"]
    expired = [s for s in snaps if s not in referenced and s not in chain]
    for s in snaps:
        if s in retained:
            continue
        if s not in referenced:
            shutil.rmtree(path / "data" / f"snap={s}", ignore_errors=True)
        if s not in chain:
            (_snapshots_dir(path) / f"{s}.json").unlink(missing_ok=True)
    return expired


def read_snapshot(
    spark: SparkSession, path: str | Path, snapshot_id: str | None = None
) -> DataFrame:
    """Read the table at CURRENT, or time-travel to ``snapshot_id``."""
    path = Path(path)
    snap = snapshot_id or current_snapshot_id(path)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    dirs, part_cols = _resolve_partition_dirs(path, snap)
    df = (
        spark.read.option("basePath", str(path / "data")).parquet(*dirs)
    )
    return df.drop("snap") if "snap" in df.columns else df
